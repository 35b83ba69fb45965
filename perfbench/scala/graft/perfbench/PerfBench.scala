package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.index.{EntityIndexBuilder, EntityIndexConfig, PropertyIndexBuilder}
import graft.io.ManifestStore
import graft.pipeline.KgPipeline

/** graft's benchmark. One JVM, `local[nproc]`, the frozen Bench's session
  * settings; a closed loop in which one client runs jobs back to back.
  *
  * Usage: `PerfBench <workload> <seed> <seconds> <trace 0|1> <workDir>
  * <expected.tsv> [<record.tsv>]`. Every metric is printed on its own line
  * with its unit; the line starting `@result` carries them all as JSON. With
  * a record file the run writes its checksums there instead of checking them.
  *
  *  - `span`: `KgPipeline.linkAndMaterialize` over a dictionary built in
  *    set-up, on a parquet transcript table written in set-up.
  *  - `toolkit`: one pass over every `SparkEntry.queries` entry, each
  *    reduced to its checksum and followed by `clearCache`, on generated
  *    tables.
  *
  * With trace 1 the run also times every layer through spans around the
  * calls into it and attributes Spark task metrics to those spans.
  */
object PerfBench {

  /** The span's stages, in pipeline order (the index stages run in set-up). */
  val SpanStages: Seq[String] = Seq("mentions", "link_scores", "triples",
    "canonical_map", "triples_canonical", "nodes", "edges")

  /** Span inputs: 2-token vocabulary, so co-reference collapses into a few
    * hub groups, as in the frozen Bench's span.
    */
  val SpanSize: Inputs.SpanSizes = Inputs.SpanSizes(ents = 20000L, props = 200L,
    convs = 2000L, turns = 20)

  /** Untimed and timed span jobs per run. Job walls and CPU time keep
    * falling for about seven jobs while the JIT warms up; fixed counts (the
    * timed one a minimum, whatever `seconds` allows) keep every run's median
    * on the level part of that curve.
    */
  val SpanWarmups = 5
  val SpanMinJobs = 5

  /** Entries of Spark's generated-code cache (default 100). A span job and
    * its checks generate about 310 classes; with the default cache every
    * repeat evicted and recompiled about 46 of them (Janino, then the JIT),
    * so each job's time hung on how far the JVM's compilers had got.
    */
  val CodegenCacheEntries = 1000

  final class CheckFailed(msg: String) extends RuntimeException(msg)

  def check(ok: Boolean, msg: => String): Unit = if (!ok) throw new CheckFailed(msg)

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workDir, expectedPath) = args.take(6)
    val run = new Run(workload, seedS.toLong, secondsS.toDouble, traceS == "1",
      Paths.get(workDir), Paths.get(expectedPath), args.drop(6).headOption.map(Paths.get(_)))
    run.execute()
    System.exit(0)
  }

  /** Order-insensitive checksum of a table: row count and the XOR of every
    * row's xxhash64 over its JSON rendering (as `graft.CheckSums`).
    */
  def checksum(df: DataFrame): (Long, Long) = {
    val cols = df.columns.map(c => col(s"`$c`"))
    val r = df.select(to_json(struct(cols: _*)).as("j"))
      .agg(count(lit(1)), coalesce(expr("bit_xor(xxhash64(j))"), lit(0L)))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** Bytes of every regular file under `p`; the walk stream is closed. */
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
      .foreach(Files.deleteIfExists)
    finally w.close()
  }
}

/** One benchmark run: set-up, the timed loop, checks, and the result line. */
final class Run(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: Path, expectedPath: Path, recordTo: Option[Path]) {
  import PerfBench._

  private val variant = Inputs.variantOf(seed)
  private val runId = s"$workload-s$seed-t${if (trace) 1 else 0}-${System.currentTimeMillis()}"
  private val dir = work.resolve(runId)
  private var attempted = 0
  private var failed = 0
  private val problems = mutable.ArrayBuffer.empty[String]
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val recorded = mutable.LinkedHashMap.empty[String, (Long, Long)]
  private var outSeq = 0
  private val record = recordTo.isDefined

  private lazy val expected: Map[String, (Long, Long)] =
    if (record || !Files.exists(expectedPath)) Map.empty
    else Files.readAllLines(expectedPath, StandardCharsets.UTF_8).asScala
      .map(_.split("\t")).filter(_.length == 5)
      .collect { case Array(w, v, k, rows, xor) if w != "workload" =>
        s"$w/$v/$k" -> (rows.toLong, xor.toLong) }.toMap

  /** Runs `f` as one checked operation; a throw or a failed check counts as
    * a failure and yields no value (so no timing).
    */
  private def op[A](what: String)(f: => A): Option[A] = {
    attempted += 1
    try Some(f)
    catch {
      case e: Throwable =>
        failed += 1
        problems += s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        None
    }
  }

  /** Compares a checksum with the value recorded for this workload input
    * variant (or records it).
    */
  private def expect(inputs: String, key: String, got: (Long, Long)): Unit = {
    val v = if (inputs == "span") variant else 0
    val k = s"$inputs/$v/$key"
    if (record) {
      // a key checked twice in one run must read the same both times
      check(recorded.getOrElseUpdate(k, got) == got,
        s"$k: checksum $got differs from ${recorded(k)} earlier in this run")
    } else {
      val want = expected.get(k)
      check(want.contains(got), s"$k: checksum $got, recorded ${want.getOrElse("none")}")
    }
  }

  private def put(name: String, value: Double, unit: String): Unit = {
    metrics(name) = (value, unit)
  }

  private def newOut(): Path = {
    outSeq += 1
    dir.resolve(s"out-$outSeq")
  }

  private def now(): Double = System.nanoTime() / 1e9

  private def summary(name: String, xs: Seq[Double], unit: String): Double = {
    val (q1, q3) = Stats.quartiles(xs)
    val m = Stats.median(xs)
    println(f"#   $name%-22s median $m%.4f $unit  q1 $q1%.4f  q3 $q3%.4f  n=${xs.size}  " +
      xs.map(x => f"$x%.4f").mkString("[", ", ", "]"))
    m
  }

  def execute(): Unit = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(dir)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ledger = new Ledger(spark.sparkContext)
    spark.sparkContext.addSparkListener(ledger)
    val tracer = if (trace) Some(new Tracer(spark, runId)) else None
    println(s"# graft perfbench: workload=$workload seed=$seed span_input_variant=$variant " +
      s"seconds=$seconds trace=${if (trace) 1 else 0} master=local[$cpus] run=$runId")
    try {
      workload match {
        case "span" => new SpanWorkload(spark, ledger, tracer, jvmStartMs).run()
        case "toolkit" => new ToolkitWorkload(spark, ledger, tracer, jvmStartMs).run()
        case other => sys.error(s"unknown workload: $other")
      }
    } catch {
      case e: Throwable =>
        failed += 1
        attempted = math.max(attempted, 1)
        problems += s"run aborted: $e"
    } finally {
      tracer.foreach { t =>
        val p = work.resolve("spans").resolve(s"$runId.jsonl")
        Files.createDirectories(p.getParent)
        t.write(p)
        println(s"# spans written to $p")
      }
      spark.stop()
      deleteTree(dir)
    }
    recordTo.foreach { p =>
      val lines = recorded.map { case (k, (rows, xor)) => s"${k.replace('/', '\t')}\t$rows\t$xor" }
      Files.write(p, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      println(s"# recorded ${recorded.size} checksums to $p")
    }
    problems.foreach(p => println(s"# FAILED $p"))
    println(f"# error_rate ${if (attempted == 0) 0.0 else failed.toDouble / attempted}%.4f " +
      s"($failed of $attempted operations failed)")
    metrics.foreach { case (k, (v, u)) => println(f"# metric $k%-40s $v%.6f $u") }
    val body = metrics.map { case (k, (v, u)) => s""""$k":{"value":${fmt(v)},"unit":"$u"}""" }
    println(s"""@result {"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${body.mkString(",")}}}""")
  }

  /** NaN (a value that could not be read) is rendered as JSON null. */
  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  // ---------------------------------------------------------------- span

  /** The span's prebuilt dictionary and the tables it was built from. */
  private final case class SpanEnv(tables: Inputs.SpanTables, sizes: Inputs.SpanSizes,
      indexStore: ManifestStore, entityIndex: DataFrame, propertyIndex: DataFrame,
      dict: DataFrame, dictRows: Long, caches: Seq[DataFrame]) {
    val inputVersion = s"perfbench-span-v$variant"
    val dictVersion = s"perfbench-dict-v$variant"
    def release(): Unit = (dict +: caches).foreach(_.unpersist(blocking = true))
  }

  private def traced[A](tracer: Option[Tracer], name: String)(f: => A): A =
    tracer.fold(f)(_.span(name, describe = true)(f))

  /** Writes the span inputs and builds the dictionary the way
    * `KgPipeline.run` does: both index stages committed through a
    * [[ManifestStore]], then `KgPipeline.dictionary` over them.
    */
  private def spanSetup(spark: SparkSession, base: Path, tracer: Option[Tracer]): SpanEnv = {
    val sizes = SpanSize
    val tables = Inputs.writeSpan(spark, sizes, variant, base.resolve("in").toString)
    val cfg = EntityIndexConfig()
    val store = new ManifestStore(spark, base.resolve("index").toString)
    val fpBase = s"cfg=$cfg;saltN=0;iv=perfbench-span-v$variant"
    def stage(name: String)(f: => DataFrame): DataFrame = traced(tracer, name) {
      store.runStage(name, KgPipeline.stageFp(fpBase, name, Nil), Nil, None,
        KgPipeline.DefaultMaxRecordsPerFile, None)(f)._1
    }
    val (eiRaw, caches) = EntityIndexBuilder.buildTracked(tables.entities, cfg, persistInput = true)
    val ei = stage("entity_index")(eiRaw)
    val pi = stage("property_index")(PropertyIndexBuilder.build(tables.properties))
    val (dict, rows) = traced(tracer, "dictionary") {
      val d = KgPipeline.dictionary(ei, tables.entities, pi, tables.properties).persist()
      (d, d.count())
    }
    SpanEnv(tables, sizes, store, ei, pi, dict, rows, caches)
  }

  /** The stage hook `linkAndMaterialize` runs with by default, with a span
    * (and the Spark job description) around each stage: same fingerprints,
    * same bucketed mentions layout and column stats.
    */
  private def tracedStages(spark: SparkSession, env: SpanEnv, out: Path, tracer: Tracer)
      : (String, Seq[String], Seq[String]) => (=> DataFrame) => DataFrame = {
    val store = new ManifestStore(spark, out.toString)
    val buckets = spark.sparkContext.defaultParallelism
    val chain = mutable.Map.empty[String, String]
    (stage, parents, partitionBy) => f => tracer.span(stage, describe = true) {
      val fp = KgPipeline.stageFp(s"iv=${env.inputVersion};saltN=0", stage,
        parents.map(p => p -> chain.getOrElse(p, env.dictVersion)))
      chain(stage) = fp
      if (stage == "mentions")
        store.runStageBucketed(stage, fp, KgPipeline.MentionBucketCols,
          KgPipeline.MentionSortCols, buckets, Some("id"),
          KgPipeline.DefaultMaxRecordsPerFile, Some("id"))(f)._1
      else store.runStage(stage, fp, partitionBy, None,
        KgPipeline.DefaultMaxRecordsPerFile, None)(f)._1
    }
  }

  /** One span job into `out`; returns the triples count. */
  private def spanJob(spark: SparkSession, env: SpanEnv, out: Path,
      hook: (String, Seq[String], Seq[String]) => (=> DataFrame) => DataFrame = null): Long = {
    val r = KgPipeline.linkAndMaterialize(spark, env.tables.transcripts,
      env.tables.entities, env.tables.redirects, env.dict, env.entityIndex,
      env.propertyIndex, out.toString, inputVersion = env.inputVersion,
      dictRowsHint = Some(env.dictRows), dictVersion = env.dictVersion, timedOpt = hook)
    // a hooked run leaves the snapshot commit to its caller
    if (hook != null) new ManifestStore(spark, out.toString).commitSnapshot()
    r.triples.count()
  }

  private def committed(spark: SparkSession, out: Path, stage: String): DataFrame = {
    val store = new ManifestStore(spark, out.toString)
    spark.read.parquet(out.resolve(stage).resolve(store.dataDirOf(stage).get).toString)
  }

  /** Output checks of one span job: one triple per turn, and the committed
    * canonical triples and edges match the recorded checksums.
    */
  private def checkSpanOutputs(spark: SparkSession, env: SpanEnv, out: Path,
      triples: Long): Seq[(Long, Long)] = {
    check(triples == env.sizes.totalTurns,
      s"triples: $triples emitted, expected one per turn (${env.sizes.totalTurns})")
    Seq("triples_canonical", "edges").map { st =>
      val c = checksum(committed(spark, out, st))
      expect("span", st, c)
      c
    }
  }

  /** A fully resumed rerun into `out`: every stage must be read back (no new
    * commit) and the outputs must be identical. Returns the rerun wall.
    */
  private def resumeCheck(spark: SparkSession, env: SpanEnv, out: Path, triples: Long,
      sums: Seq[(Long, Long)], tracer: Option[Tracer]): Double = {
    val store = new ManifestStore(spark, out.toString)
    val before = SpanStages.map(store.versionOf(_))
    val t0 = now()
    val n = tracer.fold(spanJob(spark, env, out))(_.span("resume")(spanJob(spark, env, out)))
    val wall = now() - t0
    val after = SpanStages.map(store.versionOf(_))
    check(before == after, s"resumed rerun committed new versions: $before -> $after")
    check(n == triples, s"resumed rerun: $n triples, first run $triples")
    val again = Seq("triples_canonical", "edges").map(st => checksum(committed(spark, out, st)))
    check(again == sums, s"resumed rerun changed outputs: $sums -> $again")
    wall
  }

  private final class SpanWorkload(spark: SparkSession, ledger: Ledger,
      tracer: Option[Tracer], jvmStartMs: Long) {

    def run(): Unit = {
      val s0 = now()
      val env = tracer.fold(spanSetup(spark, dir, None))(_.span("setup")(spanSetup(spark, dir, tracer)))
      val s1 = now()
      // full-size warm-up job(s), checked like the timed ones; the first is
      // also resumed
      for (i <- 1 to SpanWarmups) {
        val warm = newOut()
        op("warm-up job") {
          val n = spanJob(spark, env, warm)
          (n, checkSpanOutputs(spark, env, warm, n))
        }.filter(_ => i == 1).foreach { case (n, sums) =>
          op("resumed rerun")(resumeCheck(spark, env, warm, n, sums, None))
            .foreach(r => println(f"# resumed rerun of the warm-up job: $r%.3f s"))
        }
        deleteTree(warm)
      }
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      println(f"# setup: $setupS%.3f s: JVM and session ${setupS - (now() - s0)}%.3f s, " +
        f"inputs, index and dictionary ${s1 - s0}%.3f s, warm-up jobs and rerun ${now() - s1}%.3f s")

      val jobs = mutable.ArrayBuffer.empty[(Double, Long, Double, Long, Long)]
      val deadline = now() + seconds
      var tries = 0
      do {
        tries += 1
        val out = newOut()
        val m0 = ledger.mark()
        val t0 = now()
        op("span job") {
          val n = spanJob(spark, env, out)
          val wall = now() - t0
          val tot = ledger.between(m0, ledger.mark())
          checkSpanOutputs(spark, env, out, n)
          jobs += ((wall, n, tot.cpuS, tot.shuffleWriteBytes, treeBytes(out)))
        }
        deleteTree(out)
        // a traced run times one untraced job, for the tracing overhead
      } while (tracer.isEmpty && (tries < SpanMinJobs || now() < deadline))

      check(jobs.nonEmpty, "no span job passed its checks")
      val walls = jobs.map(_._1).toSeq
      println(f"# span: ${env.sizes.totalTurns} turns (${env.sizes.convs} convs x ${env.sizes.turns}), " +
        f"${env.sizes.ents} entities, ${env.sizes.props} properties, dictionary ${env.dictRows} rows")
      val jobS = summary("job_s", walls, "s")
      val tps = summary("triples_per_s", jobs.map(j => j._2 / j._1).toSeq, "1/s")
      summary("stored_bytes", jobs.map(_._5.toDouble).toSeq, "bytes")
      if (!trace) {
        put("job_s", jobS, "s")
        put("triples_per_s", tps, "1/s")
        put("query_geomean_s", Stats.geomean(walls), "s")
        put("setup_s", setupS, "s")
        put("cpu_s", Stats.median(jobs.map(_._3).toSeq), "s")
        put("shuffle_write_bytes", Stats.median(jobs.map(_._4.toDouble).toSeq), "bytes")
      } else {
        val t = tracer.get
        val layers = new Layers(spark, ledger, t)
        layers.indexStages(env.indexStore, 0)
        layers.dictionary(env.dictRows)
        layers.tracedSpanJob(env, jobS)
        // the query layers are not on this workload's path: one traced,
        // un-warmed pass over the toolkit tables reports them
        val tk = dir.resolve("toolkit").toString
        Inputs.writeToolkit(spark, tk)
        val m0 = ledger.mark()
        t.span("pass")(timedPass(spark, tk, Some(t))).foreach { case (_, qs) => layers.queries(qs, m0) }
        layers.taskFailures()
      }
      env.release()
    }
  }

  // ------------------------------------------------------------- toolkit

  private val queries: Seq[(String, (SparkSession, String) => DataFrame)] =
    SparkEntry.queries.toSeq.sortBy(_._1)

  /** One timed pass over every query. Each query's output is reduced to its
    * checksum (which forces the whole output, where `count()` would let Spark
    * prune it) and checked against the record; `clearCache` follows each
    * query. Returns the pass wall and per-query (name, wall, rows); None when
    * a query failed.
    */
  private def timedPass(spark: SparkSession, tables: String,
      tracer: Option[Tracer]): Option[(Double, Seq[(String, Double, Long)])] = {
    val t0 = now()
    val results = queries.map { case (name, fn) =>
      val q0 = now()
      op(s"query $name") {
        val c = traced(tracer, s"q.$name") {
          try checksum(fn(spark, tables)) finally spark.catalog.clearCache()
        }
        val wall = now() - q0
        expect("toolkit", name, c)
        (name, wall, c._1)
      }
    }
    val wall = now() - t0
    if (results.forall(_.isDefined)) Some((wall, results.flatten)) else None
  }

  private final class ToolkitWorkload(spark: SparkSession, ledger: Ledger,
      tracer: Option[Tracer], jvmStartMs: Long) {

    def run(): Unit = {
      val s0 = now()
      val tables = dir.resolve("tables").toString
      Inputs.writeToolkit(spark, tables)
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      println(f"# setup: $setupS%.3f s: JVM and session ${setupS - (now() - s0)}%.3f s, " +
        f"tables ${now() - s0}%.3f s")

      // no warm-up pass: the timed pass is the JVM's first, as in a
      // toolkit batch job, so it includes JIT and code generation
      val passes = mutable.ArrayBuffer.empty[(Double, Double, Long, Double, Long)]
      val deadline = now() + seconds
      do {
        val m0 = ledger.mark()
        tracer.fold(timedPass(spark, tables, None))(t =>
          t.span("pass")(timedPass(spark, tables, Some(t)))).foreach {
          case (wall, qs) =>
            val tot = ledger.between(m0, ledger.mark())
            val triples = qs.find(_._1 == "kg_triples").map(_._3).getOrElse(0L)
            passes += ((wall, Stats.geomean(qs.map(_._2)), triples, tot.cpuS, tot.shuffleWriteBytes))
            if (tracer.isDefined) new Layers(spark, ledger, tracer.get).queries(qs, m0)
        }
      } while (now() < deadline && tracer.isEmpty)

      check(passes.nonEmpty, "no toolkit pass passed its checks")
      println(s"# toolkit: ${queries.size} queries on generated tables " +
        Inputs.ToolkitRows.map { case (t, n) => s"$t=$n" }.mkString(" "))
      val jobS = summary("job_s", passes.map(_._1).toSeq, "s")
      val geo = summary("query_geomean_s", passes.map(_._2).toSeq, "s")
      if (!trace) {
        put("job_s", jobS, "s")
        put("triples_per_s", Stats.median(passes.map(p => p._3 / p._1).toSeq), "1/s")
        put("query_geomean_s", geo, "s")
        put("setup_s", setupS, "s")
        put("cpu_s", Stats.median(passes.map(_._4).toSeq), "s")
        put("shuffle_write_bytes", Stats.median(passes.map(_._5.toDouble).toSeq), "bytes")
      } else {
        val t = tracer.get
        val layers = new Layers(spark, ledger, t)
        // the pipeline layers are not on this workload's path: one traced,
        // un-warmed span (set-up and job) at the span workload's size
        val sweep = dir.resolve("span")
        val m0 = ledger.mark()
        val env = t.span("setup")(spanSetup(spark, sweep, tracer))
        layers.indexStages(env.indexStore, m0)
        layers.dictionary(env.dictRows)
        layers.tracedSpanJob(env, Double.NaN)
        env.release()
        layers.taskFailures()
      }
    }
  }

  // -------------------------------------------------------------- layers

  /** Per-layer metrics of the traced run, read from the spans and from the
    * tasks the ledger attributed to them.
    */
  private final class Layers(spark: SparkSession, ledger: Ledger, t: Tracer) {

    private def stage(name: String, from: Int, to: Int, rows: Option[Long]): Unit = {
      val tot = ledger.between(from, to, Some(name))
      put(s"$name.wall_s", t.last(name).map(_.wallS).getOrElse(Double.NaN), "s")
      put(s"$name.cpu_s", tot.cpuS, "s")
      put(s"$name.fetch_wait_s", tot.fetchWaitS, "s")
      put(s"$name.shuffle_write_bytes", tot.shuffleWriteBytes.toDouble, "bytes")
      put(s"$name.spill_bytes", tot.spillBytes.toDouble, "bytes")
      put(s"$name.task_skew", tot.skew, "ratio")
      put(s"$name.rows_out", rows.map(_.toDouble).getOrElse(Double.NaN), "rows")
    }

    def indexStages(store: ManifestStore, from: Int): Unit = {
      val to = ledger.mark()
      Seq("entity_index", "property_index").foreach(s => stage(s, from, to, store.rowCountOf(s)))
    }

    def dictionary(rows: Long): Unit = {
      put("dictionary.wall_s", t.last("dictionary").map(_.wallS).getOrElse(Double.NaN), "s")
      put("dictionary.rows_out", rows.toDouble, "rows")
    }

    /** One traced span job plus its traced resumed rerun. `untracedJobS` is
      * the same run's untraced median, for the tracing overhead.
      */
    def tracedSpanJob(env: SpanEnv, untracedJobS: Double): Unit = {
      val out = newOut()
      val m0 = ledger.mark()
      op("traced span job") {
        val n = t.span("job")(spanJob(spark, env, out, tracedStages(spark, env, out, t)))
        val m1 = ledger.mark()
        val sums = checkSpanOutputs(spark, env, out, n)
        val store = new ManifestStore(spark, out.toString)
        SpanStages.foreach(s => stage(s, m0, m1, store.rowCountOf(s)))
        val mRows = store.rowCountOf("mentions").getOrElse(0L)
        put("mentions.shuffle_bytes_per_row",
          if (mRows == 0) 0.0 else metrics("mentions.shuffle_write_bytes")._1 / mRows, "bytes/row")
        put("mentions.max_id_degree", store.maxDegreeOf("mentions").map(_.toDouble).getOrElse(Double.NaN), "rows")
        put("stored_bytes", treeBytes(out).toDouble, "bytes")
        val job = t.last("job").get
        val staged = SpanStages.flatMap(t.last(_)).map(_.wallS).sum
        println(f"# traced span job: ${job.wallS}%.3f s; stages ${staged}%.3f s; " +
          f"unattributed ${t.selfS(job)}%.3f s")
        SpanStages.flatMap(t.last(_)).foreach(s =>
          println(f"#   ${s.name}%-18s ${s.wallS}%.3f s (${100 * s.wallS / job.wallS}%.1f%%)"))
        if (!untracedJobS.isNaN)
          println(f"# tracing overhead: ${job.wallS - untracedJobS}%.3f s " +
            f"(traced ${job.wallS}%.3f s - untraced median $untracedJobS%.3f s)")
        put("resume_s", resumeCheck(spark, env, out, n, sums, Some(t)), "s")
      }
      deleteTree(out)
    }

    /** Per-query walls of a traced pass and the LSH query's shuffle bytes. */
    def queries(qs: Seq[(String, Double, Long)], from: Int): Unit = {
      qs.foreach { case (name, w, _) => put(s"q.$name.wall_s", w, "s") }
      val lsh = ledger.between(from, ledger.mark(), Some("q.dedup_minhash_lsh")).shuffleWriteBytes
      put("lsh_shuffle_bytes", lsh.toDouble, "bytes")
      // the ids-only banding guard: the count must repeat exactly
      op("lsh shuffle bytes")(expect("toolkit", "lsh_shuffle_bytes", (lsh, 0L)))
      t.last("pass").foreach(p => println(f"# traced pass: ${p.wallS}%.3f s; " +
        f"unattributed ${t.selfS(p)}%.3f s"))
    }

    def taskFailures(): Unit =
      put("task_failures", ledger.between(0, ledger.mark()).failures.toDouble, "count")
  }
}
