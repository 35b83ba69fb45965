package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan contracts — the properties that make these operators hold
  * up at 100 TB, asserted against the ACTUAL executed plans so a regression
  * (a lost pushdown, a surprise sort-merge, a wide column riding a shuffle)
  * fails CI instead of surfacing as a silent 10× slowdown at scale.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.count() // materialize so AQE finalizes its plan
    df.queryExecution.executedPlan.toString
  }

  test("per-row text ops prune the parquet scan to the referenced columns") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("plan-docs").toString
    (0L until 100L).map(i => (i, s"text $i", s"extra $i", i * 2))
      .toDF("doc_id", "text", "unused_wide_col", "unused_num")
      .write.mode("overwrite").parquet(dir)
    val plan = executedPlan(
      graft.ops.TextAnalysis.quality(spark.read.parquet(dir), "doc_id", "text"))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan must read ONLY (doc_id, text):\n$plan")
  }

  test("conv-scoped transcript read prunes partitions and pushes the id filter") {
    val dir = java.nio.file.Files.createTempDirectory("plan-transcripts").toString
    graft.io.TranscriptStore.write(
      graft.synth.Synth.transcripts(spark, convs = 40, turnsPerConv = 3,
        nEnts = 50, mProps = 5),
      dir, nBuckets = 16)
    val probe = graft.io.TranscriptStore.forConv(spark, dir, "conv-000007")
    assert(probe.count() == 3) // correctness of the point read itself
    val scan = probe.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .getOrElse(fail("no FileSourceScanExec in the point-read plan"))
    // plan-time partition pruning: exactly ONE of the 16 bucket directories
    assert(scan.partitionFilters.exists(_.toString.contains("conv_bucket")),
      s"bucket predicate must be a PARTITION filter:\n${probe.queryExecution.executedPlan}")
    assert(scan.selectedPartitions.partitionCount == 1,
      s"16-bucket table must prune to 1 partition, got ${scan.selectedPartitions.partitionCount}")
    // the conv_id equality reaches the parquet reader for row-group skipping
    assert(scan.metadata.get("PushedFilters").exists(_.contains("EqualTo(conv_id")),
      s"conv_id filter must push down:\n${scan.metadata.get("PushedFilters")}")
  }

  test("minhash-LSH band exchange never carries token arrays") {
    import spark.implicits._
    val docs = (0L until 50L).map(i => (i, s"alpha beta w$i x${i % 7} y${i % 5}"))
      .toDF("doc_id", "text")
    val plan = executedPlan(
      graft.ops.Dedup.minhashLshPairs(docs, "doc_id", "text", 16, 4, 50))
    // the token sets join back by id for verification; the banded self-join
    // exchanges only (id, band, bhash) — Exchange nodes must not ship toks
    val exchanges = plan.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("toks")),
      s"band shuffle must be ids-only:\n${exchanges.mkString("\n")}")
  }

  test("mention detection: dictionary side broadcasts; dominance is a left-anti join") {
    import spark.implicits._
    val dict = Seq(("new york", "Q60", false, 100L), ("york", "Q100", false, 10L))
      .toDF("surface", "id", "is_prop", "weight")
      .withColumn("kind", org.apache.spark.sql.functions.lit(0))
    val turns = Seq(("c1", 0, "i love new york a lot")).toDF("conv_id", "turn_idx", "text")
    val plan = executedPlan(graft.pipeline.Mentions.detect(turns, dict))
    assert(plan.contains("BroadcastHashJoin"), s"dictionary must broadcast:\n$plan")
    assert(plan.contains("LeftAnti"), s"dominance must be an anti-join:\n$plan")
  }

  test("bucketed mentions: triples walk + coref groupBy plan with ZERO exchange") {
    import spark.implicits._
    // synthetic mentions across 3 conversations, entity + property rows
    val mentions = (0 until 300).map { i =>
      val conv = s"c${i % 3}"
      (conv, i / 10, i % 5, i % 5 + 1, if (i % 4 == 0) s"P${i % 7}" else s"Q${i % 11}",
        i % 4 == 0, 1.0 + i % 3, s"base${i % 7}")
    }.toDF("conv_id", "turn_idx", "span_start", "span_end", "id", "is_prop",
      "score", "base")
    val out = java.nio.file.Files.createTempDirectory("plan-bucketed").toString
    val store = new graft.io.ManifestStore(spark, out)
    val (bucketed, resumed0) = store.runStageBucketed("mentions", "fp-b1",
      graft.pipeline.KgPipeline.MentionBucketCols,
      graft.pipeline.KgPipeline.MentionSortCols, nBuckets = 4)(mentions)
    assert(!resumed0)

    // 1) the conv-grouped triples walk: required distribution satisfied by
    //    the bucketed scan → no Exchange anywhere in the final plan
    val walked = graft.pipeline.Triples.extractBucketed(bucketed)
    val walkPlan = executedPlan(walked).split("== Initial Plan ==")(0)
    assert(!walkPlan.contains("Exchange"),
      s"bucket-aligned walk must not shuffle:\n$walkPlan")
    // and it matches the window reference on the same rows
    def c(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("subj", "pred", "obj", "conv_id", "turn_idx", "round(score,6) AS s")
      .collect().map(_.toString).sorted.toSeq
    assert(c(walked) == c(graft.pipeline.Triples.extract(mentions)))
    assert(walked.count() > 0)

    // 2) the co-reference groupBy (conv_id, base): clustering on a superset
    //    of the bucket key → aggregation is exchange-free too
    val coref = bucketed.filter(!org.apache.spark.sql.functions.col("is_prop"))
      .groupBy("conv_id", "base")
      .agg(org.apache.spark.sql.functions.collect_set("id").as("ids"))
    val corefPlan = executedPlan(coref).split("== Initial Plan ==")(0)
    assert(!corefPlan.contains("Exchange"),
      s"conv-clustered agg over bucketed scan must not shuffle:\n$corefPlan")

    // 2b) the ACTUAL co-reference edge builder (windowed per-(conv, base)
    //     min, r5): over the bucketed scan its only Exchange is the final
    //     edge-set distinct — the window itself is exchange-free
    val emptyReds = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("qid",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("redirects",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType)))))
    val edges = graft.pipeline.KgPipeline.coreferenceEdges(bucketed, emptyReds)
    val edgesPlan = executedPlan(edges).split("== Initial Plan ==")(0)
    val nEx = edgesPlan.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(nEx == 1,
      s"bucketed co-ref edges: only the distinct may exchange (got $nEx):\n$edgesPlan")
    assert(edges.count() > 0, "co-ref premise: multi-id base groups exist")

    // 3) resume re-registers and reads the same bucketed table
    val (again, resumed1) = store.runStageBucketed("mentions", "fp-b1",
      graft.pipeline.KgPipeline.MentionBucketCols,
      graft.pipeline.KgPipeline.MentionSortCols, nBuckets = 4)(fail("must resume"))
    assert(resumed1 && again.count() == 300)
  }

  test("bucketed mentions write: its one exchange carries dictionary ordinals only") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val ents = graft.synth.Synth.entityDump(spark, 300)
    val props = graft.synth.Synth.propertyDump(spark, 30)
    val dict = graft.pipeline.KgPipeline.dictionary(
      graft.index.EntityIndexBuilder.build(ents), ents,
      graft.index.PropertyIndexBuilder.build(props), props)
    val turns = graft.synth.Synth.transcripts(spark, 40, 6, 300, 30)
    // every executed plan of the session, until a marker query arrives (the
    // listener bus is asynchronous; events arrive in order)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val out = java.nio.file.Files.createTempDirectory("plan-ordinals").toString
    val store = new graft.io.ManifestStore(spark, out)
    try {
      // the pipeline's mentions stage: trie path clustered into the buckets
      store.runStageBucketed("mentions", "fp-ord",
        graft.pipeline.KgPipeline.MentionBucketCols,
        graft.pipeline.KgPipeline.MentionSortCols, nBuckets = 4) {
        graft.pipeline.Mentions.detectRouted(turns, dict, new CacheScope, 4,
          Long.MaxValue, Some(1L), buckets = 4)
      }
      spark.range(1).toDF("plan_spec_marker").collect()
      val deadline = System.nanoTime() + 30000000000L
      while (!plans.toArray(Array.empty[QueryExecution]).exists(
          _.analyzed.output.exists(_.name == "plan_spec_marker")) &&
          System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    object H extends AdaptiveSparkPlanHelper
    val writes = plans.toArray(Array.empty[QueryExecution]).map(_.executedPlan)
      .filter(p => H.find(p)(_.isInstanceOf[DataWritingCommandExec]).isDefined)
    assert(writes.length == 1, s"expected one write plan, got ${writes.length}")
    val exchanges = H.collect(writes.head) { case e: ShuffleExchangeExec => e }
    assert(exchanges.length == 1,
      s"the bucketed write must plan exactly one exchange:\n${writes.head}")
    assert(exchanges.head.child.output.map(_.name) == Seq("conv_id", "turn_idx", "m"),
      s"the exchange must carry packed ordinals, not dictionary strings:\n${writes.head}")
    // and what it committed is the trie scan's decoded output
    val committed = spark.table(store.bucketedTableName("mentions"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("conv_id", "turn_idx", "span_start", "span_end", "surface",
        "id", "kind", "is_prop", "score", "base").collect().map(_.toString).toSet
    assert(rows(committed) == rows(graft.pipeline.Mentions.detectFast(turns, dict)))
    // one exchanged row per turn with a match, not one per mention
    val matchedTurns = committed.select("conv_id", "turn_idx").distinct().count()
    assert(committed.count() > matchedTurns)
    assert(exchanges.head.metrics("shuffleRecordsWritten").value == matchedTurns,
      s"the exchange must carry one row per matched turn:\n${writes.head}")
  }

  test("entity cascade under AQE: no forced join strategy, small sides broadcast") {
    val ents = graft.synth.Synth.entityDump(spark, 1000)
    val plan = executedPlan(graft.index.EntityIndexBuilder.build(ents))
    assert(plan.contains("AdaptiveSparkPlan isFinalPlan=true"))
    // at this size AQE must pick broadcast for the E1/taken-surface sides —
    // round 1 forced merge joins here and paid three avoidable sort+exchange
    // pairs (VERDICT r01); at dictionary scale the same code sort-merges
    assert(plan.contains("BroadcastHashJoin"),
      s"small anti-join sides should broadcast under AQE:\n$plan")
  }

  test("corpus-prep per-row ops are shuffle-free map stages over a pruned scan") {
    val dir = java.nio.file.Files.createTempDirectory("plan-corpus").toString
    import spark.implicits._
    (0L until 200L).map(i => (i, s"alpha beta gamma delta tok$i", s"src${i % 4}", i * 3))
      .toDF("doc_id", "text", "source", "unused_num")
      .write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    // one exchange would turn a 100-TB map pass into a 100-TB shuffle — the
    // whole point of these ops is that they cost one scan
    for ((name, df) <- Seq(
        "repSignals" -> graft.ops.TextAnalysis.repSignals(docs, "doc_id", "text"),
        "tokenWindows" -> graft.ops.TextAnalysis.tokenWindows(docs, "doc_id", "text"),
        "scrub" -> graft.ops.Scrub.piiAudit(docs, "doc_id", "text"),
        "domainTag" -> graft.ops.Curate.domainTag(docs, "doc_id", "source",
          rates = Seq("src0" -> 10000), defaultBp = 5000))) {
      val plan = executedPlan(df).split("== Initial Plan ==")(0)
      assert(!plan.contains("Exchange"), s"$name must not shuffle:\n$plan")
    }
    // and the scan reads only the referenced columns
    val rsPlan = executedPlan(
      graft.ops.TextAnalysis.repSignals(docs, "doc_id", "text"))
    assert(rsPlan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"repSignals scan must read ONLY (doc_id, text):\n$rsPlan")
  }

  test("packSequences: corpus window is bucket-partitioned; only the subtotal window is global") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("plan-pack").toString
    (0L until 400L).map(i => (i, (0 to (i % 23).toInt).map(j => s"w$j").mkString(" "),
        s"wide $i", i * 2))
      .toDF("doc_id", "text", "unused_wide_col", "unused_num")
      .write.mode("overwrite").parquet(dir)
    val df = graft.ops.Curate.packSequences(
      spark.read.parquet(dir), "doc_id", "text", budget = 64L, nBuckets = 16)
    val plan = executedPlan(df).split("== Initial Plan ==")(0)
    // column pruning: only (doc_id, text) leave the scan
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"pack scan must read ONLY (doc_id, text):\n$plan")
    // two-level prefix sum: the per-row window is PARTITIONED by bucket (the
    // naive global `sum over (order by id)` would funnel the corpus through
    // one task); the only unpartitioned window runs over the <=nBuckets
    // subtotal rows coming out of the hash aggregate
    val windows = plan.split("\n").filter(_.contains("Window ["))
    assert(windows.length == 2, s"expected 2 Window nodes:\n${windows.mkString("\n")}")
    val (partitioned, global) = windows.partition(
      _.matches(""".*\], \[bkt#\d+L\], \[.*"""))
    assert(partitioned.length == 1,
      s"per-row window must partition by bkt:\n${windows.mkString("\n")}")
    assert(global.head.contains("sum(bn"),
      s"the global window may only consume bucket subtotals:\n${global.head}")
    // bucket offsets rejoin the corpus as a broadcast, never a shuffle
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket offsets must broadcast back:\n$plan")

    // shufflePositions shares the contract (and needs no bounds action: its
    // hash domain is static)
    val sp = graft.ops.Curate.shufflePositions(
      spark.read.parquet(dir), "doc_id", seed = 42L, nBuckets = 16)
    val spPlan = executedPlan(sp).split("== Initial Plan ==")(0)
    val spWindows = spPlan.split("\n").filter(_.contains("Window ["))
    assert(spWindows.length == 2,
      s"expected 2 Window nodes:\n${spWindows.mkString("\n")}")
    assert(spWindows.count(_.matches(""".*\], \[bkt#\d+L\], \[.*""")) == 1,
      s"per-row rank window must partition by bkt:\n${spWindows.mkString("\n")}")
    assert(spPlan.contains("BroadcastHashJoin"),
      s"rank offsets must broadcast back:\n$spPlan")
    assert(spPlan.contains("ReadSchema: struct<doc_id:bigint>"),
      s"shuffle scan must read ONLY doc_id:\n$spPlan")
  }

  test("lengthQuantiles: scan pruned; no exchange carries document text") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("plan-lq").toString
    (0L until 300L).map(i => (i, (0 to (i % 19).toInt).map(j => s"w$j").mkString(" "),
        s"src${i % 4}", s"wide $i"))
      .toDF("doc_id", "text", "source", "unused_wide_col")
      .write.mode("overwrite").parquet(dir)
    val df = graft.ops.TextAnalysis.lengthQuantiles(
      spark.read.parquet(dir), "text", "source", qMilli = Seq(500, 900))
    val plan = executedPlan(df).split("== Initial Plan ==")(0)
    assert(plan.contains("ReadSchema: struct<text:string,source:string>") ||
      plan.contains("ReadSchema: struct<source:string,text:string>"),
      s"quantile scan must read ONLY (text, source):\n$plan")
    // histogram-first: the token count is computed BEFORE the first
    // exchange, so no shuffle ever carries the text column — the corpus
    // never moves, only per-task partial histograms do
    val exchanges = plan.split("\n").filter(_.contains("Exchange"))
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text")),
      s"no exchange may carry text:\n${exchanges.mkString("\n")}")
    // and the first aggregate below the exchange is a partial hash agg
    assert(plan.contains("HashAggregate"), s"histogram must hash-aggregate:\n$plan")
  }

  test("decontam joins corpus shingles against a BROADCAST eval side") {
    import spark.implicits._
    // eval sets are benchmarks — thousands of docs against a 100-TB corpus;
    // the capped eval shingle set must broadcast, never shuffle the corpus
    // side by shingle hash
    val corpus = (0L until 400L)
      .map(i => (i, (0 until 12).map(j => s"w${(i * 7 + j) % 97}").mkString(" ")))
      .toDF("doc_id", "text")
    val evalDf = (1000L until 1010L)
      .map(i => (i, (0 until 12).map(j => s"w${(i * 7 + j) % 97}").mkString(" ")))
      .toDF("doc_id", "text")
    val df = graft.ops.Decontam.overlap(corpus, evalDf, "doc_id", "text", n = 5)
    val plan = executedPlan(df)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftOuter"),
      s"eval shingles should reach the corpus as a broadcast hit-mark join:\n$plan")
    // single-pass contract: the corpus shingle explode runs ONCE (one
    // Generate per side) — the semi-join + separate-total shape evaluated
    // the corpus explode twice
    val finalPlan = plan.split("== Initial Plan ==")(0)
    val nGenerate = finalPlan.split("\n").count(_.contains("Generate explode"))
    assert(nGenerate == 2, s"expected 2 Generate nodes (corpus + eval), got $nGenerate:\n$finalPlan")
    // per-doc dedupe is array_distinct (local): the only hash exchanges are
    // the eval df-cap aggregation and the final per-doc aggregation — an
    // explode().distinct() corpus index would add a third carrying the full
    // corpus (id, shingle) volume
    val nExchange = finalPlan.split("\n")
      .count(_.contains("Exchange hashpartitioning"))
    assert(nExchange <= 2,
      s"expected <=2 hash exchanges (eval cap agg + final agg), got $nExchange:\n$finalPlan")
  }
}
