package graft

import org.apache.spark.sql.SparkSession

/** Process-isolated scaling replicate (separate from the frozen [[Bench]]):
  * the north-rule span (extract → link → canonicalize → materialize over a
  * prebuilt dictionary — the same job [[Bench]]'s `scaling` section times)
  * run on `local-cluster[W, 4, memMB]` masters, where each of the W workers
  * launches a REAL separate executor JVM with its own heap and GC.
  *
  * Motivation (VERDICT r05 next-round #6): every scaling artifact so far ran
  * `local[N]` — one JVM, one heap, one allocator shared by all N threads —
  * so the 8→32 "wide" pair measures the single-heap/DRAM ceiling as much as
  * the engine. 2 workers × 4 cores vs 8 workers × 4 cores is the same 8→32
  * core span with per-executor heaps, one honest step toward the N→4N
  * EXECUTOR criterion without a cluster.
  *
  * Env: SPARK_GRAFT_LC_WORKERS (default "2,8"), SPARK_GRAFT_LC_MEM_MB
  * (per-worker, default 8192), SPARK_GRAFT_LC_CONVS (default 600000 — the
  * frozen bench's span sizing), SPARK_GRAFT_LC_REPS (default 2),
  * SPARK_GRAFT_LC_JAR (the packaged library jar shipped to executors).
  * Prints ONE JSON line, `metric: "lc_span"`.
  */
object BenchLC {

  private def deleteRecursively(path: String): Unit = {
    import java.nio.file.{Files, Paths}
    import java.util.Comparator
    val p = Paths.get(path)
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p))(
        _.sorted(Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => Files.deleteIfExists(f)))
  }

  def main(args: Array[String]): Unit = {
    val workers = sys.env.getOrElse("SPARK_GRAFT_LC_WORKERS", "2,8")
      .split(",").map(_.trim.toInt).toSeq
    val memMb = sys.env.getOrElse("SPARK_GRAFT_LC_MEM_MB", "8192").toInt
    val convs = sys.env.getOrElse("SPARK_GRAFT_LC_CONVS", "600000").toLong
    val reps = sys.env.getOrElse("SPARK_GRAFT_LC_REPS", "2").toInt
    val jar = sys.env.getOrElse("SPARK_GRAFT_LC_JAR",
      "target/scala-2.13/knowledgegraphnaturallanguageindexspark_2.13-0.1.0.jar")
    require(new java.io.File(jar).exists(), s"library jar not found: $jar")

    val dictEnts = 500000L
    val dictProps = 5000L

    def spanRun(w: Int): (Long, Double, Seq[Double]) = {
      // SPARK_GRAFT_LC_MASTER_TPL: e.g. "local[%d]" to run the identical
      // span single-JVM for A/B against the process-isolated shape (the
      // placeholder receives workers*4 cores)
      val master = sys.env.get("SPARK_GRAFT_LC_MASTER_TPL")
        .map(_.format(w * 4))
        .getOrElse(s"local-cluster[$w,4,$memMb]")
      val s = SparkSession.builder()
        .master(master)
        .appName(s"graft-lc-$w")
        // the master string's memMB is the WORKER's budget; the executor
        // JVM still sizes its heap from spark.executor.memory (default 1g),
        // which OOM-killed the span's sort/aggregate tasks — claim the
        // whole worker budget per executor
        .config("spark.executor.memory", s"${memMb}m")
        .config("spark.jars", jar)
        .config("spark.sql.shuffle.partitions", (w * 4).toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      // SPARK_GRAFT_STAGELOG=1 → per-stage wall/task/shuffle log on stderr
      // (a headless stage table, guide §7.1)
      if (sys.env.get("SPARK_GRAFT_STAGELOG").contains("1"))
        s.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onStageCompleted(
                sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
              val si = sc.stageInfo
              val wall = for {
                a <- si.submissionTime; c <- si.completionTime
              } yield c - a
              val m = si.taskMetrics
              System.err.println(
                f"[stage] id=${si.stageId}%-4d wall=${wall.getOrElse(-1L)}%-6d " +
                  f"tasks=${si.numTasks}%-3d exec=${m.executorRunTime}%-7d " +
                  f"shw=${m.shuffleWriteMetrics.bytesWritten}%-10d " +
                  f"shr=${m.shuffleReadMetrics.totalBytesRead}%-10d ${si.name.take(90)}")
            }
          })
      val ents = graft.synth.Synth.entityDump(s, dictEnts).persist()
      ents.count()
      val props = graft.synth.Synth.propertyDump(s, dictProps)
      val reds = graft.synth.Synth.redirects(s, dictEnts)
      val ei = graft.index.EntityIndexBuilder.build(ents)
      val pi = graft.index.PropertyIndexBuilder.build(props)
      val dict = graft.pipeline.KgPipeline.dictionary(ei, ents, pi, props).persist()
      val dictRows = dict.count()
      def timedRun(c: Long): (Long, Double) = {
        val out = java.nio.file.Files.createTempDirectory("graft-lc").toString
        val t0 = System.nanoTime()
        val r = graft.pipeline.KgPipeline.linkAndMaterialize(
          s, graft.synth.Synth.transcripts(s, c, 20, dictEnts, dictProps),
          ents, reds, dict, ei, pi, out, inputVersion = s"lc-$c",
          dictRowsHint = Some(dictRows), dictVersion = s"lc-dict-$dictEnts",
          mentionBuckets = w * 4)
        val n = r.triples.count()
        val sec = (System.nanoTime() - t0) / 1e9
        deleteRecursively(out)
        (n, sec)
      }
      timedRun(200) // warmup: classloading + codegen on fresh executor JVMs
      val runs = (1 to reps).map(_ => timedRun(convs))
      s.stop()
      System.gc()
      (runs.head._1, runs.map(_._2).min, runs.map(_._2))
    }

    val results = workers.map(w => w -> spanRun(w))
    def jarr(xs: Seq[Double]) = xs.map(x => f"$x%.1f").mkString("[", ",", "]")
    val per = results.map { case (w, (n, best, runs)) =>
      f""""w$w":{"workers":$w,"cores":${w * 4},"triples":$n,""" +
        f""""sec":$best%.1f,"runs":${jarr(runs)},"tput":${n / best}%.1f}"""
    }.mkString(",")
    val eff =
      if (results.size >= 2) {
        val (wLo, (nLo, tLo, _)) = results.head
        val (wHi, (nHi, tHi, _)) = results.last
        val factor = wHi.toDouble / wLo
        f"${((nHi / tHi) / (nLo / tLo)) / factor}%.3f"
      } else "null"
    println(
      f"""{"metric":"lc_span","mem_mb":$memMb,"convs":$convs,""" +
        f""""reps":$reps,$per,"efficiency":$eff}""")
  }
}
