"""Build file of the benchmark: compiles graft and the benchmark from source.

The library sources (src/main/scala) and the benchmark's own sources
(perfbench/scala) are compiled together with the Scala compiler that ships
among Spark's jars, into <target>/classes. <target> is $CARGO_TARGET_DIR when
set, else .bench_build under the repository root. A build is skipped when no
source changed since the last one.

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "scala"]


def target_dir() -> Path:
    return (ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()


def spark_jars() -> Path:
    """$SPARK_HOME/jars, or the jars of the Spark whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")
    return Path(home) / "jars"


def sources() -> list:
    missing = [d for d in SOURCE_DIRS if not d.is_dir()]
    if missing:
        raise SystemExit("perfbench: source directory missing: "
                         + ", ".join(str(d) for d in missing))
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def build() -> Path:
    """Compiles when needed; returns the classes directory."""
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp_value = digest.hexdigest()
    target = target_dir()
    classes = target / "classes"
    stamp = target / "classes.stamp"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == stamp_value:
        return classes
    staging = target / "classes.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    jars = f"{spark_jars()}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", jars,
           "-d", str(staging)] + [str(p) for p in srcs]
    print(f"perfbench: compiling {len(srcs)} sources into {classes}", file=sys.stderr)
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        raise SystemExit(f"perfbench: compilation failed ({done.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    staging.rename(classes)
    stamp.write_text(stamp_value)
    return classes


if __name__ == "__main__":
    print(build())
