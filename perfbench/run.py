"""graft's benchmark: one command for every workload in BENCHMARK.json.

    python3 perfbench/run.py --workload span|toolkit --seed N --seconds S --trace 0|1

Builds graft and the benchmark from source (perfbench/build.py), runs one
workload in one JVM on local[nproc], prints every metric with its unit, and
ends with one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are BENCHMARK.json's end_to_end ones, with --trace 1 its
per_layer ones. `--record` stores the run's output checksums in
perfbench/expected.tsv for the seed's input variant instead of checking them.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
EXPECTED = ROOT / "perfbench" / "expected.tsv"
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def merge_records(recorded: Path) -> None:
    """Replaces the recorded checksums of one workload input variant."""
    new = [l for l in recorded.read_text().splitlines() if l]
    keys = {tuple(l.split("\t")[:2]) for l in new}
    old = EXPECTED.read_text().splitlines() if EXPECTED.exists() else []
    header = "workload\tvariant\tkey\trows\txor"
    kept = [l for l in old[1:] if l and tuple(l.split("\t")[:2]) not in keys]
    EXPECTED.write_text("\n".join([header] + sorted(kept + new)) + "\n")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    # stopped from outside, unwind: the compiler or the JVM is killed on the way
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.is_file():
        fail(f"{spec_path} missing")
    spec = json.loads(spec_path.read_text())
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload!r}")
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]

    classes = build.build()
    work = build.target_dir() / "work"
    tmp = work / "tmp"
    local = work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(local))
    jars = f"{build.spark_jars()}/*"
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
              "-Dspark.ui.enabled=false", "-cp", f"{jars}:{classes}",
              "graft.perfbench.PerfBench", args.workload, str(args.seed),
              str(args.seconds), str(args.trace), str(work), str(EXPECTED)]
           + ([str(recorded)] if args.record else []))
    recorded = work / f"recorded-{args.workload}.tsv"
    log = work / "jvm.log"
    result = None
    with open(log, "wb") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stderr=err, start_new_session=True, text=True)

        def stop():
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass

        timer = threading.Timer(JVM_TIMEOUT_S, stop)
        timer.start()
        try:
            for line in proc.stdout:
                if line.startswith("@result "):
                    result = json.loads(line[len("@result "):])
                else:
                    print(line, end="", flush=True)
            code = proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                stop()
                proc.wait()
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)
    if code != 0 or result is None:
        tail = log.read_text(errors="replace").splitlines()[-30:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"benchmark JVM exited with {code} (log: {log})")
    if args.record:
        merge_records(recorded)
    got = result["metrics"]
    missing = [m for m in wanted if got.get(m, {}).get("value") is None]
    if missing:
        fail("no value for " + ", ".join(missing))
    result["metrics"] = {m: got[m] for m in wanted}
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
