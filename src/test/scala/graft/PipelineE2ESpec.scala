package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.index.EntityIndexConfig
import graft.model.{RawEntity, RawProperty}
import graft.oracle.ReferenceOracle
import graft.pipeline.KgPipeline
import graft.synth.Synth

/** End-to-end: synthesized transcripts → dictionaries → mentions → triples →
  * canonicalization, checked against a full plain-Scala mirror of the flow
  * built on the reference oracle (north rule: P/R ≥ 0.95 vs reference
  * label-index resolution; per-turn text equality; idempotent resume).
  */
class PipelineE2ESpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val nEnts = 200L
  val mProps = 20L
  val convs = 30L
  val turnsPerConv = 6

  def collectEntities(): Seq[RawEntity] = {
    Synth.entityDump(spark, nEnts).collect().map { r =>
      RawEntity(r.getString(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getSeq[String](4), r.getSeq[String](5), r.getLong(6))
    }.toSeq
  }
  def collectProps(): Seq[RawProperty] = {
    Synth.propertyDump(spark, mProps).collect().map { r =>
      RawProperty(r.getString(0), r.getString(1), r.getLong(2),
        r.getSeq[String](3), r.getSeq[String](4), r.getLong(5))
    }.toSeq
  }

  /** Plain-Scala mirror of dictionary render + mention detection (dominance
    * rule) + triple extraction, over the reference-oracle index.
    */
  def oracleTriples(
      ents: Seq[RawEntity], props: Seq[RawProperty],
      turns: Seq[(String, Int, String)]): Set[(String, String, String, String, Int)] = {
    val entIdx = ReferenceOracle.entityIndex(ents, ReferenceOracle.Config())
    val propIdx = ReferenceOracle.propertyIndex(props)
    val entW = ents.map(e => e.qid -> e.count).toMap
    val propW = props.map(p => p.pid -> p.count).toMap
    // rendered surfaces, collision → (kind asc, id asc)
    val rendered = (entIdx.toSeq.map(e =>
      (e.info.map(i => s"${e.surface} ($i)").getOrElse(e.surface), e.id, e.kind, false,
        entW.getOrElse(e.id, 1L))) ++
      propIdx.toSeq.map { case (s, pid, k) => (s, pid, k, true, propW.getOrElse(pid, 1L)) })
    val dict = rendered.groupBy(_._1).map { case (s, cands) =>
      // same cross-collision rule as KgPipeline.dictionary: entity < property,
      // then kind, then id
      val best = cands.minBy(c => (if (c._4) 1 else 0, c._3, c._2))
      s -> best
    }
    val maxN = 4
    val triples = scala.collection.mutable.Set.empty[(String, String, String, String, Int)]
    turns.groupBy(_._1).foreach { case (conv, ts) =>
      var lastEnt: Option[String] = None
      ts.sortBy(_._2).foreach { case (_, turnIdx, text) =>
        val toks = text.split("\\s+")
        val all = for {
          n <- 1 to maxN
          i <- 0 to toks.length - n
          gram = toks.slice(i, i + n).mkString(" ")
          if dict.contains(gram)
        } yield (i, i + n, dict(gram))
        // dominance filter
        val kept = all.filter { case (s, e, _) =>
          !all.exists { case (s2, e2, _) =>
            (s2, e2) != (s, e) && s2 < e && s < e2 &&
              ((e2 - s2) > (e - s) || ((e2 - s2) == (e - s) && s2 < s))
          }
        }.sortBy(m => (m._1, m._2, m._3._2))
        // walk in span order; subj = last entity seen (any earlier turn ok)
        kept.zipWithIndex.foreach { case ((_, _, m), pos) =>
          if (m._4) { // property
            val subj = {
              // entities before this mention in this turn, else carried state
              val before = kept.take(pos).filter(!_._3._4).lastOption.map(_._3._2)
              before.orElse(lastEnt)
            }
            val obj = kept.drop(pos + 1).find(!_._3._4).map(_._3._2)
            (subj, obj) match {
              case (Some(s), Some(o)) => triples += ((s, m._2, o, conv, turnIdx))
              case _ =>
            }
          }
        }
        // update conversation focus AFTER the turn: last entity in the turn
        val entsInTurn = kept.filter(!_._3._4)
        if (entsInTurn.nonEmpty) lastEnt = Some(entsInTurn.last._3._2)
      }
    }
    triples.toSet
  }

  test("pipeline triples match oracle resolution at P/R >= 0.95 (exact here)") {
    import spark.implicits._
    val entities = Synth.entityDump(spark, nEnts)
    val properties = Synth.propertyDump(spark, mProps)
    val redirects = Synth.redirects(spark, nEnts)
    val transcripts = Synth.transcripts(spark, convs, turnsPerConv, nEnts, mProps)
    val outDir = Files.createTempDirectory("graft-e2e").toString
    val res = KgPipeline.run(spark, transcripts, entities, properties, redirects, outDir)

    val got = res.triples
      .select("subj", "pred", "obj", "conv_id", "turn_idx")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getInt(4))).toSet
    assert(got.nonEmpty, "pipeline produced no triples")

    val turnRows = transcripts.select("conv_id", "turn_idx", "text")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq
    val want = oracleTriples(collectEntities(), collectProps(), turnRows)

    val tp = (got intersect want).size.toDouble
    val precision = if (got.isEmpty) 1.0 else tp / got.size
    val recall = if (want.isEmpty) 1.0 else tp / want.size
    info(f"precision=$precision%.4f recall=$recall%.4f got=${got.size} want=${want.size}")
    assert(precision >= 0.95 && recall >= 0.95,
      s"P=$precision R=$recall\nonly-spark=${(got -- want).take(5)}\nonly-oracle=${(want -- got).take(5)}")
  }

  test("per-turn text equality under stable turn ordering (input invariant)") {
    val transcripts = Synth.transcripts(spark, convs, turnsPerConv, nEnts, mProps)
    // reconstruct through the stable ordering window and join back
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("conv_id").orderBy("turn_idx")
    val reordered = transcripts
      .withColumn("rn", row_number().over(w))
      .withColumn("expected_idx", col("rn") - 1)
    val bad = reordered.filter(col("expected_idx") =!= col("turn_idx")).count()
    assert(bad == 0, "turn ordering not dense/stable")
    val self = transcripts.select(col("conv_id"), col("turn_idx"), col("text").as("t2"))
    val mism = transcripts.join(self, Seq("conv_id", "turn_idx"))
      .filter(col("text") =!= col("t2")).count()
    assert(mism == 0)
  }

  test("stage writes bound file sizes and record the policy + skew hint") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-filesize").toString
    val store = new graft.io.ManifestStore(spark, out)
    // 5000 rows forced into ONE task: without the bound this writes one
    // 5000-row file (the low-parallelism giant-file shape)
    val df = (0 until 5000).map(i => (s"id${i % 7}", i.toLong))
      .toDF("id", "v").repartition(1)
    store.runStage("sized", "fp1", Nil, distinctOf = Some("id"),
      maxRecordsPerFile = 1000L)(df)
    val perFile = spark.read.parquet(s"$out/sized/${store.dataDirOf("sized").get}")
      .groupBy(input_file_name()).count().collect().map(_.getLong(1))
    assert(perFile.length >= 5, s"expected >=5 files, got ${perFile.length}")
    assert(perFile.max <= 1000L, s"file exceeds the record bound: ${perFile.max}")
    assert(perFile.sum == 5000L)
    // manifest records the policy and the observed approx-distinct hint
    val manifest = store.readManifestVersion("sized", store.versionOf("sized")).get
    assert(manifest.contains("\"maxRecordsPerFile\":1000"))
    assert(store.distinctCountOf("sized").exists(d => d >= 6 && d <= 8),
      s"approx distinct of 7 ids: ${store.distinctCountOf("sized")}")
    assert(store.rowCountOf("sized").contains(5000L))
  }

  test("stage reads use the recorded schema: no inference job, same schema") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-schema-read").toString
    val store = new graft.io.ManifestStore(spark, out)
    val df = (0 until 20).map(i => (i.toLong, s"v$i", i % 3, if (i % 2 == 0) "a" else "b"))
      .toDF("k", "v", "n", "part")
    def inferred(stage: String) =
      spark.read.parquet(s"$out/$stage/${store.dataDirOf(stage).get}").schema
    // plain stage: the commit runs what a bare write runs (no extra job to
    // infer the schema back), the resume runs nothing
    val bareJobs = JobLog.jobsLaunchedBy(df.write.parquet(
      Files.createTempDirectory("graft-bare").resolve("w").toString))
    var committed: org.apache.spark.sql.DataFrame = null
    assert(JobLog.jobsLaunchedBy { committed = store.runStage("plain", "fp-p")(df)._1 } == bareJobs)
    var resumed: org.apache.spark.sql.DataFrame = null
    assert(JobLog.jobsLaunchedBy {
      resumed = store.runStage("plain", "fp-p")(fail("must resume"))._1
    } == 0)
    assert(committed.schema == inferred("plain") && resumed.schema == inferred("plain"))
    assert(resumed.collect().map(_.toString).sorted.sameElements(
      df.collect().map(_.toString).sorted))
    // partitionBy stage: the partition column reads back last, as inferred
    val (pCommitted, _) = store.runStage("parted", "fp-q", Seq("part"))(df)
    val (pResumed, wasResumed) = store.runStage("parted", "fp-q", Seq("part"))(
      fail("must resume"))
    assert(wasResumed)
    assert(pCommitted.schema == inferred("parted") && pResumed.schema == inferred("parted"))
    assert(pResumed.schema.fieldNames.sameElements(Array("k", "v", "n", "part")))
    assert(pResumed.filter(col("part") === "a").count() == 10)
  }

  test("manifest store closes its directory streams (no descriptor growth)") {
    import spark.implicits._
    val fdDir = Paths.get("/proc/self/fd")
    assume(Files.isDirectory(fdDir), "needs /proc")
    def openFds(): Long = scala.util.Using.resource(Files.list(fdDir))(_.count())
    val out = Files.createTempDirectory("graft-fds").toString
    val store = new graft.io.ManifestStore(spark, out)
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    // warm-up: the first commit and resume load classes and open Spark's
    // long-lived files
    store.runStage("warm", "fp-w")(df)
    store.runStage("warm", "fp-w")(fail("must resume"))
    store.commitSnapshot()
    val before = openFds()
    for (_ <- 1 to 1000) { store.versionOf("warm"); store.fingerprintOf("warm") }
    store.runStage("st", "fp-1")(df)
    store.runStage("st", "fp-1")(fail("must resume"))
    store.runStage("st", "fp-2")(df)
    store.commitSnapshot()
    store.listSnapshots()
    store.gcSnapshots(keepSnapshots = 1)
    store.invalidateStage("st")
    assert(openFds() == before, "manifest-store calls leaked file descriptors")
  }

  test("bucketed-mentions pipeline == default pipeline (full run equivalence)") {
    val entities = Synth.entityDump(spark, nEnts)
    val properties = Synth.propertyDump(spark, mProps)
    val redirects = Synth.redirects(spark, nEnts)
    val transcripts = Synth.transcripts(spark, convs, turnsPerConv, nEnts, mProps)
    // the committed mentions stage of every shape is the trie scan's output
    // under the schema the stage has always committed, with the same stats
    val mentionSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "conv_id STRING, turn_idx INT NOT NULL, span_start INT NOT NULL, " +
        "span_end INT NOT NULL, surface STRING, id STRING, kind INT NOT NULL, " +
        "is_prop BOOLEAN NOT NULL, score DOUBLE NOT NULL, base STRING")
    def digest(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        expr(s"bit_xor(xxhash64(${mentionSchema.fieldNames.mkString(", ")}))"))
        .head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    def checkMentions(res: KgPipeline.Result, outDir: String): Unit = {
      val fast = graft.pipeline.Mentions.detectFast(transcripts,
        KgPipeline.dictionary(res.entityIndex, entities, res.propertyIndex,
          properties))
      assert(fast.schema == mentionSchema)
      val store = new graft.io.ManifestStore(spark, outDir)
      assert(store.schemaOf("mentions").contains(mentionSchema))
      val (rows, hash) = digest(fast)
      assert(digest(res.mentions) == ((rows, hash)))
      assert(store.rowCountOf("mentions").contains(rows))
      assert(store.distinctCountOf("mentions").contains(
        fast.agg(approx_count_distinct("id")).head().getLong(0)))
      assert(store.maxDegreeOf("mentions").contains(
        fast.groupBy("id").count().agg(max("count")).head().getLong(0)))
    }
    def runWith(buckets: Int): Set[String] = {
      val outDir = Files.createTempDirectory(s"graft-bkt$buckets").toString
      val res = KgPipeline.run(spark, transcripts, entities, properties,
        redirects, outDir, mentionBuckets = buckets)
      checkMentions(res, outDir)
      (res.triples.selectExpr("subj", "pred", "obj", "conv_id", "turn_idx",
          "round(score,6) AS s").collect().map(_.toString) ++
        res.edges.selectExpr("src", "pid", "dst", "weight").collect().map(_.toString) ++
        res.linkScores.selectExpr("id", "n_mentions", "round(total_score,6)")
          .collect().map(_.toString))
        .toSet
    }
    val bucketed = runWith(4)
    assert(bucketed == runWith(0))
    // the AUTO default (negative → defaultParallelism buckets) is the
    // production shape and must stay output-identical too (VERDICT r04 #4)
    assert(bucketed == runWith(-1))
  }

  test("fingerprint chain: hashCode-colliding parents yield distinct stage fps") {
    // "Aa" and "BB" collide under 32-bit String.hashCode, and the collision
    // propagates to any shared-prefix pair — the round-4 chain folded
    // parents via hashCode, so these two DIFFERENT parent fingerprints
    // produced the SAME downstream fingerprint and a silent stale resume.
    // The sha-256 chain must keep them distinct (VERDICT r04 #3).
    val p1 = "iv=x;stage=mentions;parents=[];salt=Aa"
    val p2 = "iv=x;stage=mentions;parents=[];salt=BB"
    assert(p1.hashCode == p2.hashCode, "crafted 32-bit collision (test premise)")
    assert(p1 != p2)
    val f1 = KgPipeline.stageFp("base", "triples", Seq("mentions" -> p1))
    val f2 = KgPipeline.stageFp("base", "triples", Seq("mentions" -> p2))
    assert(f1 != f2, "chained fingerprints must distinguish colliding parents")
  }

  test("degree stat: manifest records max rows-per-key (the salt-gate signal)") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-degree").toString
    val store = new graft.io.ManifestStore(spark, out)
    // head key with 500 rows among 100 singletons: mean ≈ 5.9 but the head
    // degree is 500 — exactly the Zipf shape a mean-based gate misreads
    val df = ((1 to 500).map(_ => "HEAD") ++ (1 to 100).map(i => s"q$i"))
      .zipWithIndex.map { case (id, i) => (id, i.toLong) }.toDF("id", "v")
    store.runStage("deg", "fp-deg", Nil, distinctOf = Some("id"),
      degreeOf = Some("id"))(df)
    assert(store.maxDegreeOf("deg").contains(500L),
      s"exact head degree expected: ${store.maxDegreeOf("deg")}")
    // absent when not requested
    store.runStage("nodeg", "fp-nodeg")(df)
    assert(store.maxDegreeOf("nodeg").isEmpty)

    // the SKETCH regime: 100k rows, a 50k-row head and 50k singletons —
    // more distinct keys than approx_top_k tracks (10,000), so the count is
    // an estimate; it stays within 1% of the true head degree
    val big = spark.range(100000L)
      .selectExpr("CASE WHEN id < 50000 THEN 'HEAD' ELSE concat('q', id) END AS id",
        "id AS v")
    val sStore = new graft.io.ManifestStore(spark,
      Files.createTempDirectory("graft-degree-s").toString)
    sStore.runStage("deg", "fp-deg-s", Nil, degreeOf = Some("id"))(big)
    val est = sStore.maxDegreeOf("deg").get
    assert(math.abs(est - 50000L) <= 500L,
      s"sketched head-degree estimate must land within 1% of 50k: $est")
  }

  test("degree stat: observed in the write job, no Spark job after it") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-degree-jobs").toString
    val store = new graft.io.ManifestStore(spark, out)
    val df = ((1 to 300).map(_ => "HEAD") ++ (1 to 50).map(i => s"q$i"))
      .zipWithIndex.map { case (id, i) => (id, i.toLong) }.toDF("id", "v")
    // the same commit without the stat launches exactly the write's jobs
    val plain = JobLog.jobsLaunchedBy(store.runStage("plain", "fp-plain")(df))
    val plainB = JobLog.jobsLaunchedBy(
      store.runStageBucketed("plainb", "fp-plainb", Seq("id"), Seq("id"), 2)(df))
    assert(JobLog.jobsLaunchedBy(
      store.runStage("deg", "fp-deg", Nil, Some("id"), 0L, Some("id"))(df)) == plain)
    assert(JobLog.jobsLaunchedBy(store.runStageBucketed("degb", "fp-degb", Seq("id"),
      Seq("id"), 2, Some("id"), 0L, Some("id"))(df)) == plainB)
    assert(store.maxDegreeOf("deg").contains(300L) && store.maxDegreeOf("degb").contains(300L))
    // an empty stage records degree 0
    store.runStage("empty", "fp-empty", Nil, degreeOf = Some("id"))(df.limit(0))
    assert(store.maxDegreeOf("empty").contains(0L))

    // a manifest written before the sketch (same record, field order as that
    // writer emitted it) resumes with its recorded degree
    df.write.parquet(s"$out/old/data-00000000000000aa")
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    Files.createDirectories(Paths.get(out, "old", "_versions"))
    Files.writeString(Paths.get(out, "old", "_versions", "manifest-v000000001.json"),
      s"""{"stage":"old","fingerprint":"fp-old","data":"data-00000000000000aa",""" +
        s""""version":1,"rows":350,"distinct":51,"max_degree":300,"maxRecordsPerFile":0,""" +
        s""""committed_at":1700000000000,"schema":"${esc(df.schema.json)}"}""")
    val (back, resumed) = store.runStage("old", "fp-old", Nil, Some("id"), 0L,
      Some("id"))(fail("must resume"))
    assert(resumed && back.count() == 350L)
    assert(store.maxDegreeOf("old").contains(300L) && store.versionOf("old") == 1L)
  }

  test("snapshot isolation: a reader pinned to a snapshot survives a rerun") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-snap").toString
    val store = new graft.io.ManifestStore(spark, out)
    def commit(fp: String, rows: Seq[(Long, String)]): Unit =
      store.runStage("st", fp)(rows.toDF("k", "v"))

    commit("fp-v1", Seq((1L, "one"), (2L, "two")))
    val s1 = store.commitSnapshot()
    // reader pins snapshot 1 (plan built, not yet fully consumed)
    val pinned = store.snapshotTable(s1, "st")

    // a rerun with NEW inputs commits version 2 — in-place overwriting
    // would have deleted the files under the pinned reader mid-rerun
    commit("fp-v2", Seq((3L, "three")))
    val s2 = store.commitSnapshot()
    assert(store.listSnapshots().takeRight(2) == Seq(s1, s2).sorted.toSeq
      || store.listSnapshots().contains(s1))

    // the pinned reader still sees version 1, fully intact
    assert(pinned.collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(store.snapshotTable(s1, "st").collect().length == 2)
    // the new snapshot and the live manifest see version 2
    assert(store.snapshotTable(s2, "st").collect().map(_.getLong(0)).toSet == Set(3L))
    assert(store.dataDirOf("st").exists(_ != store.snapshotDataDirOf(s1, "st").get),
      "rerun must land in a NEW versioned dir")
    // unknown stage → explicit error
    intercept[IllegalArgumentException] { store.snapshotTable(s1, "nope") }

    // GC: keep only the newest snapshot → v1's dir and snapshot file go,
    // the live version and the kept snapshot stay readable
    commit("fp-v3", Seq((4L, "four")))
    val s3 = store.commitSnapshot()
    val (snapsGone, dirsGone) = store.gcSnapshots(keepSnapshots = 1)
    assert(snapsGone == 2 && dirsGone == 2,
      s"expected 2 snapshots + 2 version dirs collected: ($snapsGone, $dirsGone)")
    assert(store.listSnapshots() == Seq(s3))
    assert(store.snapshotTable(s3, "st").collect().map(_.getLong(0)).toSet == Set(4L))
    intercept[Exception] { store.snapshotTable(s1, "st").collect() }
  }

  test("a fingerprint with quotes and backslashes resumes and reads back exactly") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-fp-escape").toString
    val store = new graft.io.ManifestStore(spark, out)
    val df = Seq((1L, "one"), (2L, "two")).toDF("k", "v")
    // valid Unicode only (no lone surrogates): JSON specials, control
    // characters, line/paragraph separators, supplementary-plane characters
    // and fragments that would close a hand-built JSON string early
    val special = Seq(0x22, 0x5c, 0x0a, 0x09, 0x00, 0x01, 0x1f, 0x7f, 0x2028, 0x2029,
      0x1f600, 0x10ffff).map(cp => new String(Character.toChars(cp))) ++
      Seq("\"}", "\",\"data\":\"x", "\\u0022")
    val piece = Gen.frequency(
      3 -> Gen.oneOf(special),
      2 -> Gen.alphaNumStr.map(_.take(4)),
      1 -> Gen.choose(0x20, 0xd7ff).map(c => c.toChar.toString),
      1 -> Gen.choose(0x10000, 0x10ffff).map(cp => new String(Character.toChars(cp))))
    val genFp = Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, piece)).map(_.mkString)
    val fps = "iv=run \"7\";src=C:\\dumps\\\"q\\\";saltN=0" +:
      (1 to 15).map(seed => genFp(Gen.Parameters.default, Seed(seed.toLong)).get)
    // premise: the cases cover every character class named above
    for (cp <- Seq(0x22, 0x5c, 0x01, 0x2028))
      assert(fps.exists(_.contains(cp.toChar)), f"no case holds U+$cp%04X")
    assert(fps.exists(_.codePoints().anyMatch(Character.isSupplementaryCodePoint)))
    for ((fp, i) <- fps.zipWithIndex) {
      val st = s"st$i"
      val (_, first) = store.runStage(st, fp)(df)
      val (_, resumed) = store.runStage(st, fp)(fail("must resume"))
      assert(!first && resumed, s"the second run must resume the committed stage: $fp")
      assert(store.fingerprintOf(st).contains(fp))
    }
    val snap = store.commitSnapshot()
    for (i <- fps.indices) {
      assert(store.snapshotDataDirOf(snap, s"st$i") == store.dataDirOf(s"st$i"))
      assert(store.snapshotTable(snap, s"st$i").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    }
  }

  test("a manifest in the pre-codec byte format resumes and reads back its rows") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-fp-compat").toString
    val store = new graft.io.ManifestStore(spark, out)
    val df = Seq((1L, "one"), (2L, "two")).toDF("k", "v")
    df.write.parquet(s"$out/st/data-0123456789abcdef")
    // field order, escapes and `schema` last exactly as the string-built
    // writer emitted them
    val fp = "iv=\"7\";src=C:\\d\n"
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")
    Files.createDirectories(Paths.get(out, "st", "_versions"))
    Files.writeString(Paths.get(out, "st", "_versions", "manifest-v000000001.json"),
      s"""{"stage":"st","fingerprint":"${esc(fp)}","data":"data-0123456789abcdef",""" +
        s""""version":1,"rows":2,"distinct":2,"max_degree":1,"maxRecordsPerFile":0,""" +
        s""""committed_at":1700000000000,"schema":"${esc(df.schema.json)}"}""")
    val (back, resumed) = store.runStage("st", fp)(fail("must resume"))
    assert(resumed && store.versionOf("st") == 1L)
    assert(back.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "one"), (2L, "two")))
    assert(store.fingerprintOf("st").contains(fp) && store.rowCountOf("st").contains(2L) &&
      store.distinctCountOf("st").contains(2L) && store.maxDegreeOf("st").contains(1L) &&
      store.schemaOf("st").contains(df.schema))
    // a fresh commit names its data dir as before: the first 16 hex digits
    // of the SHA-256 of the fingerprint (bucketed: plus the bucket fields)
    def digest16(s: String) = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(16)
    store.runStage("plain", fp)(df)
    assert(store.dataDirOf("plain").contains(s"data-${digest16(fp)}"))
    store.runStageBucketed("bk", fp, Seq("k"), Seq("k", "v"), 2)(df)
    assert(store.dataDirOf("bk").contains(
      s"data-${digest16(fp + "\"bucketBy\":\"k\",\"sortBy\":\"k,v\",\"nBuckets\":2,")}"))
  }

  test("a stage holding only a pre-log _MANIFEST.json is uncommitted and recomputes") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-prelog").toString
    val store = new graft.io.ManifestStore(spark, out)
    Files.createDirectories(Paths.get(out, "st"))
    Files.writeString(Paths.get(out, "st", "_MANIFEST.json"),
      """{"stage":"st","fingerprint":"fp","rows":1,"committed_at":1}""")
    assert(store.versionOf("st") == 0L && store.fingerprintOf("st").isEmpty)
    val (df, resumed) = store.runStage("st", "fp")(Seq((1L, "one")).toDF("k", "v"))
    assert(!resumed && df.count() == 1L && store.versionOf("st") == 1L)
  }

  test("a failed publish commits no manifest") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-publish").toString
    val store = new graft.io.ManifestStore(spark, out)
    val df = Seq((1L, "one")).toDF("k", "v")
    store.runStage("st", "fp-f")(df)
    // the version dir F publishes to is a regular file when F commits again
    val dir = Paths.get(out, "st", store.dataDirOf("st").get)
    store.invalidateStage("st")
    scala.util.Using.resource(Files.walk(dir))(
      _.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]()).forEach(Files.delete(_)))
    Files.writeString(dir, "not a data dir")
    intercept[java.nio.file.FileSystemException](store.runStage("st", "fp-f")(df))
    assert(store.versionOf("st") == 0L, "a manifest names a dir that holds no data")
    assert(scala.util.Using.resource(Files.list(Paths.get(out, "st")))(
      !_.iterator().asScala.exists(_.getFileName.toString.startsWith(".inflight-"))))
  }

  test("bucketed table names of stores on hashCode-colliding dirs are distinct") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-tname").toString
    val (d1, d2) = (s"$base/Aa", s"$base/BB")
    assert(d1.hashCode == d2.hashCode, "crafted 32-bit collision (test premise)")
    val stores = Seq(new graft.io.ManifestStore(spark, d1), new graft.io.ManifestStore(spark, d2))
    assert(stores(0).bucketedTableName("st") != stores(1).bucketedTableName("st"))
    def run(i: Int)(f: => org.apache.spark.sql.DataFrame) =
      stores(i).runStageBucketed("st", "fp", Seq("k"), Seq("k"), 2)(f)
    for (i <- stores.indices) run(i)(Seq((i.toLong, s"v$i")).toDF("k", "v"))
    // each resume re-points its own table; neither moves the other's
    val resumed = stores.indices.map(i => run(i)(fail("must resume")))
    for (i <- stores.indices) {
      assert(resumed(i)._2 && resumed(i)._1.collect().map(_.getLong(0)).toSeq == Seq(i.toLong))
      assert(spark.table(stores(i).bucketedTableName("st")).collect().map(_.getLong(0)).toSeq ==
        Seq(i.toLong))
    }
  }

  test("pipeline run returns a committed snapshot id covering every stage") {
    val entities = Synth.entityDump(spark, nEnts)
    val properties = Synth.propertyDump(spark, mProps)
    val redirects = Synth.redirects(spark, nEnts)
    val transcripts = Synth.transcripts(spark, 8L, 4, nEnts, mProps)
    val outDir = Files.createTempDirectory("graft-runsnap").toString
    val res = KgPipeline.run(spark, transcripts, entities, properties,
      redirects, outDir)
    assert(res.snapshotId.nonEmpty)
    val store = new graft.io.ManifestStore(spark, outDir)
    for (st <- Seq("mentions", "triples", "edges", "canonical_map"))
      assert(store.snapshotDataDirOf(res.snapshotId, st).nonEmpty, st)
    // the pinned mentions read equals the live stage
    assert(store.snapshotTable(res.snapshotId, "triples").count() ==
      res.triples.count())
    // _metrics rows follow the pipeline's stage order, whatever order the
    // stages of one wave finished in
    val order = Seq("entity_index", "property_index", "mentions", "link_scores", "triples",
      "canonical_map", "triples_canonical", "nodes", "edges")
    assert(res.metrics.collect().map(_.getString(0)).toSeq == order)
    assert(spark.read.parquet(s"$outDir/_metrics").collect().map(_.getString(0)).toSeq == order)
  }

  test("resume: second run reads every stage from manifests; outputs identical") {
    val entities = Synth.entityDump(spark, nEnts)
    val properties = Synth.propertyDump(spark, mProps)
    val redirects = Synth.redirects(spark, nEnts)
    val transcripts = Synth.transcripts(spark, 10L, 4, nEnts, mProps)
    val outDir = Files.createTempDirectory("graft-resume").toString

    val r1 = KgPipeline.run(spark, transcripts, entities, properties, redirects, outDir)
    val t1 = r1.triples.collect().map(_.toString).sorted
    val resumed1 = r1.metrics.select("stage", "resumed").collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(resumed1.values.forall(_ == false))

    val r2 = KgPipeline.run(spark, transcripts, entities, properties, redirects, outDir)
    val resumed2 = r2.metrics.select("stage", "resumed").collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(resumed2.values.forall(_ == true), s"not resumed: $resumed2")
    assert(r2.triples.collect().map(_.toString).sorted.sameElements(t1))

    // invalidate one mid-pipeline stage → only it recomputes, same rows
    // (via the store API: it drops the stage's numbered commit log)
    new graft.io.ManifestStore(spark, outDir).invalidateStage("triples")
    val r3 = KgPipeline.run(spark, transcripts, entities, properties, redirects, outDir)
    val resumed3 = r3.metrics.select("stage", "resumed").collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(resumed3("triples") == false && resumed3("mentions") == true)
    assert(r3.triples.collect().map(_.toString).sorted.sameElements(t1))

    // a NEW inputVersion must invalidate every stage (the fingerprints
    // encode input identity, not just config — stale-resume guard)
    val r4 = KgPipeline.run(spark, transcripts, entities, properties, redirects,
      outDir, inputVersion = "v2")
    val resumed4 = r4.metrics.select("stage", "resumed").collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(resumed4.values.forall(_ == false), s"stale stages resumed: $resumed4")
  }

  test("pipeline over a TranscriptStore table == pipeline over the raw frame") {
    val entities = Synth.entityDump(spark, nEnts)
    val properties = Synth.propertyDump(spark, mProps)
    val redirects = Synth.redirects(spark, nEnts)
    val transcripts = Synth.transcripts(spark, 12L, 4, nEnts, mProps)

    val tableDir = Files.createTempDirectory("graft-ts-table").toString
    graft.io.TranscriptStore.write(transcripts, tableDir, nBuckets = 8)
    val fromTable = graft.io.TranscriptStore.read(spark, tableDir)
    // the conv_bucket partition column rides along; the pipeline must not care
    val r1 = KgPipeline.run(spark, fromTable, entities, properties, redirects,
      Files.createTempDirectory("graft-ts-out1").toString, inputVersion = "ts")
    val r2 = KgPipeline.run(spark, transcripts, entities, properties, redirects,
      Files.createTempDirectory("graft-ts-out2").toString, inputVersion = "raw")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("subj", "pred", "obj", "conv_id", "turn_idx")
      .collect().map(_.toString).sorted.toSeq
    assert(canon(r1.triples) == canon(r2.triples))
    assert(r1.triples.count() > 0)
  }

  test("standalone linkAndMaterialize: a changed dictVersion invalidates resume") {
    val entities = Synth.entityDump(spark, nEnts)
    val redirects = Synth.redirects(spark, nEnts)
    val transcripts = Synth.transcripts(spark, 8L, 4, nEnts, mProps)
    val properties = Synth.propertyDump(spark, mProps)
    val ei = graft.index.EntityIndexBuilder.build(entities)
    val pi = graft.index.PropertyIndexBuilder.build(properties)
    val dict = KgPipeline.dictionary(ei, entities, pi, properties)
    val outDir = Files.createTempDirectory("graft-dictver").toString

    val store = new graft.io.ManifestStore(spark, outDir)
    def mentionsManifest(): String =
      store.readManifestVersion("mentions", store.versionOf("mentions")).get

    KgPipeline.linkAndMaterialize(spark, transcripts, entities, redirects,
      dict, ei, pi, outDir, dictVersion = "dict-v1")
    val m1 = mentionsManifest()
    // same dictVersion → resumes (manifest untouched, fingerprint stable)
    KgPipeline.linkAndMaterialize(spark, transcripts, entities, redirects,
      dict, ei, pi, outDir, dictVersion = "dict-v1")
    assert(mentionsManifest() == m1)
    // CHANGED dictVersion → every dictionary-derived stage recomputes (the
    // round-2 constant-"dict" fallback silently resumed stale mentions)
    KgPipeline.linkAndMaterialize(spark, transcripts, entities, redirects,
      dict, ei, pi, outDir, dictVersion = "dict-v2")
    assert(mentionsManifest() != m1, "new dictionary must invalidate mentions")
  }

  test("a wave's stages run concurrently: link_scores, triples and canonical_map jobs overlap") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val entities = Synth.entityDump(spark, nEnts)
    val properties = Synth.propertyDump(spark, mProps)
    val transcripts = Synth.transcripts(spark, 8L, 4, nEnts, mProps)
    // canonical_map's first job reads the redirects: its tasks wait (30 s at
    // most) until jobs of both siblings have started, so the canonical_map
    // job cannot finish before its siblings begin
    WaveGate.siblings = new CountDownLatch(2)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val gate = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val d = String.valueOf(e.properties.getProperty("spark.job.description"))
        if (Set("link_scores", "triples").contains(d) && seen.add(d)) WaveGate.siblings.countDown()
      }
    }
    val held = udf { (q: String) => WaveGate.siblings.await(30, TimeUnit.SECONDS); q }
    val redirects = Synth.redirects(spark, nEnts).withColumn("qid", held(col("qid")))
    val outDir = Files.createTempDirectory("graft-wave").toString
    spark.sparkContext.addSparkListener(gate)
    val jobs = try JobLog.jobsOf {
      KgPipeline.run(spark, transcripts, entities, properties, redirects, outDir)
    } finally spark.sparkContext.removeSparkListener(gate)
    val byStage = jobs.groupBy(_.description)
    for (sibling <- Seq("link_scores", "triples"))
      assert(byStage(sibling).exists(j => byStage("canonical_map").exists(_.overlaps(j))),
        s"no $sibling job overlaps a canonical_map job: $jobs")
    // each stage's jobs carry its name as their description
    assert(Set("entity_index", "property_index", "mentions", "link_scores", "triples",
      "canonical_map", "triples_canonical", "nodes", "edges").subsetOf(byStage.keySet),
      byStage.keySet)
  }

  test("a failing stage fails its wave after its siblings commit; a rerun resumes them") {
    import spark.implicits._
    val entities = Synth.entityDump(spark, nEnts)
    val redirects = Synth.redirects(spark, nEnts)
    val transcripts = Synth.transcripts(spark, 8L, 4, nEnts, mProps)
    val properties = Synth.propertyDump(spark, mProps)
    val scope = new CacheScope
    val ei = graft.index.EntityIndexBuilder.build(entities, scope,
      EntityIndexConfig(), persistInput = true)
    val pi = graft.index.PropertyIndexBuilder.build(properties)
    val dict = KgPipeline.dictionary(ei, entities, pi, properties)
    val outDir = Files.createTempDirectory("graft-wave-fail").toString
    val store = new graft.io.ManifestStore(spark, outDir)
    // an earlier edges commit whose `src` is a number: the pipeline's string
    // `src` is a retype, refused before its write
    store.runStage("edges", "fp-old")(
      Seq((1L, "P1", "Q2", 1L, 1.0)).toDF("src", "pid", "dst", "weight", "score"))
    def span(): Unit = KgPipeline.linkAndMaterialize(spark, transcripts, entities,
      redirects, dict, ei, pi, outDir, dictVersion = "wave-fail")
    val e = intercept[graft.io.SchemaEvolutionException](span())
    assert(e.getMessage.contains("'edges'") && e.getMessage.contains("'src' retyped"))
    assert(store.versionOf("nodes") == 1L, "edges' sibling nodes must be committed")
    val nodesFp = store.fingerprintOf("nodes")
    intercept[graft.io.SchemaEvolutionException](span())
    assert(store.versionOf("nodes") == 1L && store.fingerprintOf("nodes") == nodesFp,
      "the rerun must resume nodes, not recommit it")
    assert(store.fingerprintOf("edges").contains("fp-old"))
    scope.close()
  }

  test("an interrupted caller ends its wave before the call fails") {
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    val entities = Synth.entityDump(spark, nEnts)
    val redirects = Synth.redirects(spark, nEnts)
    val transcripts = Synth.transcripts(spark, 8L, 4, nEnts, mProps)
    val properties = Synth.propertyDump(spark, mProps)
    val scope = new CacheScope
    val ei = graft.index.EntityIndexBuilder.build(entities, scope,
      EntityIndexConfig(), persistInput = true)
    val pi = graft.index.PropertyIndexBuilder.build(properties)
    val dict = KgPipeline.dictionary(ei, entities, pi, properties)
    // the hook holds link_scores until it is interrupted; its siblings wait
    // for the hook's turn or have already run
    val entered = new CountDownLatch(1)
    val calls = new ConcurrentLinkedQueue[String]()
    val hook: (String, Seq[String], Seq[String]) =>
      (=> org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame =
      (stage, _, _) => f => {
        calls.add(stage)
        if (stage == "link_scores") { entered.countDown(); Thread.sleep(120000L) }
        f
      }
    @volatile var thrown: Throwable = null
    val caller = new Thread(() =>
      try KgPipeline.linkAndMaterialize(spark, transcripts, entities, redirects, dict,
        ei, pi, Files.createTempDirectory("graft-wave-interrupt").toString, timedOpt = hook)
      catch { case e: Throwable => thrown = e })
    caller.start()
    assert(entered.await(60, TimeUnit.SECONDS), "link_scores never reached the hook")
    caller.interrupt()
    caller.join(60000L)
    assert(!caller.isAlive, "the interrupted call did not return")
    assert(thrown.isInstanceOf[InterruptedException], thrown)
    // every thread of the wave ended before the call failed, and no later
    // stage started
    val waveThreads = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith("graft-stage-wave-") && t.isAlive)
    assert(waveThreads.isEmpty, waveThreads)
    assert(!calls.asScala.exists(Set("triples_canonical", "nodes", "edges")), calls)
    scope.close()
  }

  test("a failing mentions commit releases detection's and the builder's caches") {
    val entities = Synth.entityDump(spark, nEnts)
    val properties = Synth.propertyDump(spark, mProps)
    val redirects = Synth.redirects(spark, nEnts)
    // every turn's text throws inside the mentions write job, after the
    // join path's match set and the builder's caches are in use
    val planted = udf { (t: String) => if (t != null) throw new IllegalStateException("planted"); t }
    val transcripts = Synth.transcripts(spark, 8L, 4, nEnts, mProps)
      .withColumn("text", planted(col("text")))
    val outDir = Files.createTempDirectory("graft-fail-release").toString
    CacheChecks.assertReleased {
      val e = intercept[Exception] {
        KgPipeline.run(spark, transcripts, entities, properties, redirects, outDir,
          dictBroadcastMaxRows = 0L)
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("planted")), e)
    }
    val store = new graft.io.ManifestStore(spark, outDir)
    assert(store.versionOf("entity_index") == 1L && store.versionOf("mentions") == 0L)
  }

  /** The two stage layouts the store commits, by test-name suffix: plain,
    * and bucketed on `k`. Both run one commit sequence.
    */
  val layouts: Seq[(String, graft.io.ManifestStore => (String, String) =>
      (=> org.apache.spark.sql.DataFrame) => (org.apache.spark.sql.DataFrame, Boolean))] = Seq(
    "" -> (store => (st, fp) => f => store.runStage(st, fp)(f)),
    " (bucketed)" -> (store => (st, fp) => f =>
      store.runStageBucketed(st, fp, Seq("k"), Seq("k"), nBuckets = 2)(f)))

  /** Names of the data files in a stage's committed dir. */
  def committedFiles(out: String, store: graft.io.ManifestStore, st: String): Set[String] =
    scala.util.Using.resource(Files.list(Paths.get(out, st, store.dataDirOf(st).get)))(
      _.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet)

  /** Catalog tables a bucketed write leaves behind under a throwaway name. */
  def inflightTables(): Seq[String] =
    spark.catalog.listTables().collect().map(_.name).filter(_.contains("inflight")).toSeq

  for ((suffix, layout) <- layouts) {
    test(s"concurrent writers, same job: the loser adopts the winner's commit$suffix") {
      import spark.implicits._
      val out = Files.createTempDirectory("graft-ccw-same").toString
      val store = new graft.io.ManifestStore(spark, out)
      val commit = layout(store)
      // deterministic interleave: writer B's compute runs writer A's ENTIRE
      // commit as a side effect, so A commits between B's version read and
      // B's commit — the exact window optimistic concurrency must handle
      var aResumed: Option[Boolean] = None
      var aFiles = Set.empty[String]
      val (bDf, bResumed) = commit("st", "fp-x") {
        val (_, r) = commit("st", "fp-x")(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
        aResumed = Some(r)
        aFiles = committedFiles(out, store, "st")
        Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      }
      assert(aResumed.contains(false), "inner writer A must commit fresh")
      assert(bResumed, "B lost the version race on its own fingerprint -> adopt")
      assert(bDf.collect().map(_.getLong(0)).toSet == Set(1L, 2L))
      assert(store.versionOf("st") == 1L, "one committed version, not two")
      assert(store.fingerprintOf("st").contains("fp-x"))
      // B published nothing over A's commit: the same files, by name
      assert(aFiles.nonEmpty && committedFiles(out, store, "st") == aFiles,
        s"winner's files rewritten: $aFiles -> ${committedFiles(out, store, "st")}")
      assert(inflightTables().isEmpty, s"throwaway tables left: ${inflightTables()}")
    }

    test(s"concurrent writers, different jobs: the loser aborts with a conflict$suffix") {
      import spark.implicits._
      val out = Files.createTempDirectory("graft-ccw-diff").toString
      val store = new graft.io.ManifestStore(spark, out)
      val commit = layout(store)
      val ex = intercept[graft.io.ConcurrentWriteException] {
        commit("st", "fp-b") {
          commit("st", "fp-a")(Seq((1L, "a")).toDF("k", "v"))
          Seq((9L, "z")).toDF("k", "v")
        }
      }
      assert(ex.getMessage.contains("fp-a") && ex.getMessage.contains("fp-b"))
      // the winner's commit is intact, and a resume of it reads its rows
      assert(store.fingerprintOf("st").contains("fp-a"))
      assert(store.versionOf("st") == 1L)
      val (resumed, wasResumed) = commit("st", "fp-a")(fail("must resume"))
      assert(wasResumed)
      assert(resumed.collect().map(r => (r.getLong(0), r.getString(1))).toSet == Set((1L, "a")))
      assert(inflightTables().isEmpty, s"throwaway tables left: ${inflightTables()}")
      // the loser's orphan dir is GC-able
      store.commitSnapshot()
      val (_, dirsGone) = store.gcSnapshots(keepSnapshots = 1)
      assert(dirsGone == 1, s"loser's orphan version dir collected: $dirsGone")
      assert(spark.read.parquet(s"$out/st/${store.dataDirOf("st").get}")
        .collect().map(_.getLong(0)).toSet == Set(1L))
    }

    test(s"concurrent writers: a race lost to the same job adopts it, whatever commits next$suffix") {
      import spark.implicits._
      val out = Files.createTempDirectory("graft-ccw-next").toString
      val store = new graft.io.ManifestStore(spark, out)
      val commit = layout(store)
      // B reads version 0; inside B's compute, A (same job) commits v1 and
      // C (another job) commits v2; B then loses the race for v1, to A
      val (bDf, bResumed) = commit("st", "fp-x") {
        commit("st", "fp-x")(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
        commit("st", "fp-y")(Seq((3L, "c")).toDF("k", "v"))
        Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      }
      assert(bResumed, "B lost v1 to its own fingerprint -> adopt v1")
      assert(bDf.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
        Set((1L, "a"), (2L, "b")))
      assert(store.versionOf("st") == 2L && store.fingerprintOf("st").contains("fp-y"))
      assert(inflightTables().isEmpty, s"throwaway tables left: ${inflightTables()}")
    }
  }

  test("resume reads the bucket layout the commit recorded, not the caller's") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-layout-resume").toString
    val store = new graft.io.ManifestStore(spark, out)
    val df = (0 until 50).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    def describe(st: String, row: String): String =
      spark.sql(s"DESCRIBE TABLE EXTENDED ${store.bucketedTableName(st)}")
        .filter(col("col_name") === row).collect().map(_.getString(1)).mkString
    def numBuckets(st: String): String = describe(st, "Num Buckets")
    // committed plain (the fingerprint does not cover the layout), resumed by
    // a bucketed caller: read plain, not as a bucketed table over files
    // without bucket ids
    store.runStage("plain", "fp")(df)
    val (p, pResumed) = store.runStageBucketed("plain", "fp", Seq("k"), Seq("k"), 4)(
      fail("must resume"))
    assert(pResumed && p.count() == 50L)
    // committed with 4 buckets sorted by k, resumed by a 3-bucket caller
    // sorting by v: still 4 buckets, sorted by k
    store.runStageBucketed("bk", "fp", Seq("k"), Seq("k"), 4)(df)
    val (b, bResumed) = store.runStageBucketed("bk", "fp", Seq("k"), Seq("v"), 3)(
      fail("must resume"))
    assert(bResumed && numBuckets("bk") == "4")
    assert(describe("bk", "Sort Columns").contains("k") &&
      !describe("bk", "Sort Columns").contains("v"), describe("bk", "Sort Columns"))
    assert(b.groupBy("k").count().filter(col("count") =!= 1).count() == 0L && b.count() == 50L)
  }

  test("a bucketed commit never reuses a dir written under another layout") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-layout-dirs").toString
    val store = new graft.io.ManifestStore(spark, out)
    val df = (0 until 50).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    // reads that trust the table's bucket metadata — a bucketed scan (the
    // groupBy on the bucket column) and bucket pruning (point lookups): plain
    // files have no bucket id, and a wrong bucket count drops or misses files
    def bucketedReads(t: org.apache.spark.sql.DataFrame): (Long, Int) =
      (t.groupBy("k").count().filter(col("count") === 1).count(),
        (0 until 50 by 5).count(i => t.filter(col("k") === i.toLong).count() == 1L))
    // the same fingerprint committed plain, invalidated, rerun bucketed
    store.runStage("st", "fp")(df)
    store.invalidateStage("st")
    val (s, sResumed) = store.runStageBucketed("st", "fp", Seq("k"), Seq("k"), 4)(df)
    assert(!sResumed && s.count() == 50L && bucketedReads(s) == ((50L, 10)))
    // the same fingerprint committed with 4 buckets, invalidated, rerun with 3
    store.runStageBucketed("bk", "fp", Seq("k"), Seq("k"), 4)(df)
    store.invalidateStage("bk")
    val (b, bResumed) = store.runStageBucketed("bk", "fp", Seq("k"), Seq("k"), 3)(df)
    assert(!bResumed && b.count() == 50L && bucketedReads(b) == ((50L, 10)))
    // each layout got its own version dir
    val stDirs = scala.util.Using.resource(Files.list(Paths.get(out, "st")))(
      _.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("data-")).toSet)
    assert(stDirs.size == 2 && stDirs.contains(store.dataDirOf("st").get), stDirs)
  }

  test("schema evolution: additive commit ok, old snapshots read under the live schema") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-evolve").toString
    val store = new graft.io.ManifestStore(spark, out)
    store.runStage("st", "fp-v1")(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val snap1 = store.commitSnapshot()
    assert(store.schemaOf("st").exists(_.fieldNames.sameElements(Array("k", "v"))))
    // additive recommit: one new NULLABLE column
    store.runStage("st", "fp-v2")(
      Seq((3L, "c")).toDF("k", "v").withColumn("w", lit(null).cast("string")))
    assert(store.versionOf("st") == 2L)
    assert(store.schemaOf("st").exists(_.fieldNames.sameElements(Array("k", "v", "w"))))
    // the pinned PRE-evolution snapshot evolves to the live schema: w nulls
    val evolved = store.snapshotTable(snap1, "st", evolveToCurrent = true)
    assert(evolved.schema.fieldNames.sameElements(Array("k", "v", "w")))
    assert(evolved.count() == 2 && evolved.filter(col("w").isNull).count() == 2)
    // raw pinned read unchanged; version time travel reaches both commits
    assert(store.snapshotTable(snap1, "st", evolveToCurrent = false)
      .schema.fieldNames.sameElements(Array("k", "v")))
    assert(store.tableAsOfVersion("st", 1L).collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(store.tableAsOfVersion("st", 2L).collect().map(_.getLong(0)).toSet == Set(3L))
    intercept[IllegalArgumentException] { store.tableAsOfVersion("st", 3L) }
  }

  test("schema evolution: drops, retypes and non-nullable adds are refused") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-evolve-bad").toString
    val store = new graft.io.ManifestStore(spark, out)
    store.runStage("st", "fp-v1")(Seq((1L, "a")).toDF("k", "v"))
    val dropped = intercept[graft.io.SchemaEvolutionException] {
      store.runStage("st", "fp-drop")(Seq(Tuple1(2L)).toDF("k"))
    }
    assert(dropped.getMessage.contains("'v' dropped"))
    val retyped = intercept[graft.io.SchemaEvolutionException] {
      store.runStage("st", "fp-retype")(Seq((2L, 5L)).toDF("k", "v"))
    }
    assert(retyped.getMessage.contains("retyped"))
    val nonNull = intercept[graft.io.SchemaEvolutionException] {
      store.runStage("st", "fp-nn")(
        Seq((2L, "b")).toDF("k", "v").withColumn("w", lit(7L)))
    }
    assert(nonNull.getMessage.contains("must be nullable"))
    // failed commits consume no version and leave no visible data
    assert(store.versionOf("st") == 1L)
    assert(store.fingerprintOf("st").contains("fp-v1"))
  }
}

/** Holds the wave-overlap test's canonical_map tasks until jobs of its
  * sibling stages have started (tasks of a local master share this JVM).
  */
object WaveGate {
  @volatile var siblings = new java.util.concurrent.CountDownLatch(0)
}
