package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.CacheScope

/** Corpus curation — the end-to-end shape a training-data pipeline runs
  * before a corpus ships: quality gate → near-duplicate CLUSTER dedup (keep
  * one representative per component) → deterministic train/val/test split.
  * Composes [[TextAnalysis.quality]], [[Dedup.minhashClusters]] and a
  * content-hash split; everything stays integer-exact, so the whole
  * composition carries one DuckDB oracle (`curate_corpus`).
  *
  * Scale shape: the quality gate is per-row (no shuffle), the cluster pass
  * is the bucketed LSH + large/small-star fixpoint (never all-pairs), and
  * the split is a per-row hash — nothing here collects to the driver.
  */
object Curate {

  /** Deterministic split assignment from a content hash of the id — NEVER
    * `rand()`: the split must be stable under recompute, reruns, and
    * engine changes, and a document must land in the same split when the
    * corpus is re-curated with new data around it (the property that keeps
    * eval sets uncontaminated across corpus versions). Thresholds are
    * basis points of 10000 (e.g. 9000/500 → 90% train, 5% val, 5% test).
    *
    * The affine mix wraps mod the LARGE prime 1e9+7 before the bucket mod:
    * the poly hash of a short id is a small smooth integer, and an affine
    * form taken straight mod 10000 keeps only `multiplier mod 10000` of the
    * mixing (1000003 ≡ 3 — integer ids then land 98/2/0 instead of 90/5/5).
    * The intermediate mod-P wrap with a multiplier ≫ P/max(fp) restores a
    * near-uniform bucket distribution in any 64-bit engine.
    */
  def splitCol(id: Column, trainBp: Int, valBp: Int): Column = {
    val h = pmod(
      pmod(
        TextAnalysis.fingerprint(id.cast("string")) * 1103515245L + 12345L,
        lit(1000000007L)),
      lit(10000L))
    when(h < trainBp, "train")
      .when(h < trainBp + valBp, "val")
      .otherwise("test")
  }

  /** Quality gate → cluster dedup (drop every clustered doc except its
    * min-id representative) → split assignment.
    *
    * The cluster pass goes through the capped dedup path
    * ([[Dedup.minhashClusters]] → [[Dedup.minhashNearDups]]), so the 100-TB
    * defaults apply here too: bucket cap 1000, df cap corpus/100 (of the
    * GATE SURVIVORS — the corpus the dedup actually runs on), dropped
    * volume logged, signature plan evaluated once. Uncapped is an explicit
    * opt-in via `maxBucket = Long.MaxValue, maxDfFraction = 1.0`.
    *
    * The gated quality table is persisted, so the quality regex scan over
    * the corpus runs ONCE — the uncached r5 shape re-evaluated it three
    * times (under the gate semi-join feeding dedup, and under the final
    * anti-join), each a full corpus scan with three `regexp_replace` passes
    * per row. The narrow (id, quality, split) survivor table is
    * materialized once against that cache, which is then released.
    *
    * @return (idCol, quality_milli, split) for every SURVIVING document
    */
  def curate(df: DataFrame, idCol: String, textCol: String,
      minQualityMilli: Int = 500,
      numHashes: Int = 32, bands: Int = 8, thresholdPct: Int = 80,
      maxBucket: Long = 1000L, maxDfFraction: Double = 0.01,
      trainBp: Int = 9000, valBp: Int = 500): DataFrame = CacheScope.materialized { scope =>
    val scored = scope.persist(TextAnalysis.quality(df, idCol, textCol)
      .select(col(idCol), col("quality_milli"))
      .filter(col("quality_milli") >= minQualityMilli))
    // dedup runs AFTER the gate: a low-quality doc must not be the
    // representative that evicts a high-quality near-duplicate
    val kept = df.join(scored.select(col(idCol)), Seq(idCol), "left_semi")
    // the dedup corpus size for the maxDf rail is the gate-survivor count —
    // counting the persisted `scored` table fills the quality cache (a scan
    // the cluster phase was about to pay anyway) and replaces the extra
    // corpus-scan count job `minhashNearDups` would otherwise run
    // over the semi-join (VERDICT r05 #4). Equal by the dedup family's
    // unique-id contract: one gate row per surviving document.
    val clusters = Dedup.minhashClusters(kept, idCol,
      textCol, numHashes, bands, thresholdPct, maxBucket, maxDfFraction,
      corpusRowsHint = Some(scored.count()))
    val dupes = clusters
      .filter(col("doc_id") =!= col("rep_id"))
      .select(col("doc_id").as(idCol))
    scored.join(dupes, Seq(idCol), "left_anti")
      .withColumn("split", splitCol(col(idCol), trainBp, valBp))
  }

  /** Deterministic per-domain sampling rate (basis points of 10000) and
    * keep decision — the domain-mixing step that reweights a corpus
    * (downsample web crawl, keep books/reference at full rate) without
    * `rand()`: the keep decision is a content hash of the id, so a document
    * keeps or drops identically under recompute and across engines. The
    * hash mixer differs from [[splitCol]]'s so sampling is independent of
    * split assignment.
    *
    * Scale shape: per-row hash + CASE — a map stage, no shuffle.
    *
    * @param rates (domain → rate in basis points); domains not listed get
    *              `defaultBp`
    */
  def domainTag(df: DataFrame, idCol: String, domainCol: String,
      rates: Seq[(String, Int)], defaultBp: Int): DataFrame = {
    val rateCol = rates.foldRight(lit(defaultBp): Column) {
      case ((domain, bp), acc) => when(col(domainCol) === domain, lit(bp)).otherwise(acc)
    }
    val h = pmod(
      pmod(
        TextAnalysis.fingerprint(col(idCol).cast("string")) * 747796405L + 2891336453L,
        lit(1000000007L)),
      lit(10000L))
    df.withColumn("rate_bp", rateCol.cast("long"))
      .withColumn("keep", h < col("rate_bp"))
  }

  /** The rows [[domainTag]] keeps, with the tag columns dropped. */
  def domainSample(df: DataFrame, idCol: String, domainCol: String,
      rates: Seq[(String, Int)], defaultBp: Int): DataFrame =
    domainTag(df, idCol, domainCol, rates, defaultBp)
      .filter(col("keep")).drop("rate_bp", "keep")

  /** Deterministic global corpus shuffle — a seeded pseudo-random
    * permutation of the corpus as dense positions `0..n-1`, the step a
    * training pipeline runs before [[packSequences]] so batches don't
    * replay the corpus's storage order. NEVER `rand()` or
    * `repartition().mapPartitions` tricks: the permutation is a pure
    * function of (id, seed), so it is stable under recompute, reruns,
    * partial re-reads and engine changes. Order key is the content hash of
    * `"id#seed"` times a large multiplier mod 1e9+7, id-tie-broken into a
    * total order. The seed is hashed INTO the key, never added to it: an
    * additive seed shifts every key equally and (absent mod wraparound)
    * yields the SAME permutation for every seed; and the multiplier wrap is
    * what breaks the poly hash's near-monotonicity on sequential decimal
    * ids (same reasoning as [[splitCol]]).
    *
    * Output: `(idCol, shuffle_pos)`, both BIGINT; `shuffle_pos` is a
    * permutation of `0..n-1`.
    *
    * Scale shape: same two-level rank as [[packSequences]], but the hash
    * domain is statically `[0, 1e9+7)`, so bucket bounds need NO driver
    * action: rows bucket by hash range, per-bucket counts get the exclusive
    * prefix on the ≤`nBuckets`-row subtotal table, and a PER-BUCKET
    * `row_number` (parallel) finishes the rank. No single-task corpus sort.
    */
  def shufflePositions(df: DataFrame, idCol: String, seed: Long,
      nBuckets: Int = 0): DataFrame = {
    val P = 1000000007L
    val b =
      if (nBuckets > 0) nBuckets
      else df.sparkSession.sparkContext.defaultParallelism * 4
    val width = P / b + 1
    val h = pmod(
      TextAnalysis.fingerprint(
        concat(col(idCol).cast("string"), lit("#" + seed))) * 2862933555L,
      lit(P))
    val based = df.select(col(idCol).cast("long").as(idCol), h.as("h"))
      .withColumn("bkt", expr(s"h div ${width}L"))
    val bucketOffsets = based.groupBy("bkt").agg(count(lit(1)).as("bn"))
      .withColumn("boff", coalesce(
        sum("bn").over(Window.orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bkt", "boff")
    based
      .withColumn("rk", row_number().over(
        Window.partitionBy("bkt").orderBy(col("h"), col(idCol))))
      .join(broadcast(bucketOffsets), Seq("bkt"))
      .select(col(idCol),
        (col("boff") + col("rk") - 1L).as("shuffle_pos"))
  }

  /** Sequence packing — the training-batch prep step that concatenates the
    * corpus's whitespace-token stream in deterministic `idCol` order and
    * splits it at fixed `budget`-token boundaries ("pack and split", the
    * padding-free packing used for LLM pre-training batches): every packed
    * sequence holds exactly `budget` tokens (the final one may be partial),
    * documents straddling a boundary are split across two sequences, and
    * nothing is padded. One output row per (document × sequence) piece:
    *
    * `(idCol, seq_id, doc_off, seq_off, piece_len)` — all BIGINT; a
    * zero-token document contributes no pieces.
    *
    * Scale shape: the global token prefix-sum is computed as a TWO-LEVEL
    * sum so no stage sorts the corpus through one partition — a naive
    * `sum over (order by id)` window without `partitionBy` funnels every
    * row through a single task, the exact shape that dies at 100 TB.
    * Instead: (1) rows bucket by `idCol` value range into `nBuckets`
    * ordered buckets; (2) per-bucket token subtotals (one hash aggregate,
    * `nBuckets` rows) get an exclusive cumulative sum on the tiny bucket
    * table (the only unpartitioned window, over ≤ `nBuckets` rows); (3) the
    * bucket offsets broadcast-join back and a PER-BUCKET window (parallel
    * across buckets) finishes the per-row prefix. The final explode emits
    * the 1–2 sequences each document overlaps. All arithmetic is 64-bit
    * integer (`div`, never floating `floor(x/y)` — exact past 2^53 tokens).
    *
    * The min/max bounds aggregate is a declared 2-value driver action.
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      budget: Long, nBuckets: Int = 0): DataFrame = {
    require(budget > 0, "budget must be positive")
    val b =
      if (nBuckets > 0) nBuckets
      else df.sparkSession.sparkContext.defaultParallelism * 4
    val base = df.select(
      col(idCol).cast("long").as(idCol),
      size(filter(split(col(textCol), " "), t => length(t) > 0))
        .cast("long").as("n"))
    val bounds = base.agg(min(col(idCol)), max(col(idCol))).head()
    if (bounds.isNullAt(0))
      return base.select(col(idCol), col("n").as("seq_id"),
        col("n").as("doc_off"), col("n").as("seq_off"),
        col("n").as("piece_len")).limit(0)
    val lo = bounds.getLong(0)
    // ids must span < 2^63 (any real id space does): a wider range wraps the
    // subtraction and would silently mis-bucket rather than fail
    require(bounds.getLong(1) - lo >= 0,
      s"id range [$lo, ${bounds.getLong(1)}] exceeds Long — renumber ids first")
    val width = math.max(1L, (bounds.getLong(1) - lo) / b + 1)
    val withB = base.withColumn("bkt",
      expr(s"(`$idCol` - ${lo}L) div ${width}L"))
    val bucketOffsets = withB.groupBy("bkt").agg(sum("n").as("bn"))
      .withColumn("boff", coalesce(
        sum("bn").over(Window.orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bkt", "boff")
    val start = withB
      .withColumn("loff", coalesce(
        sum("n").over(Window.partitionBy("bkt").orderBy(idCol)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .join(broadcast(bucketOffsets), Seq("bkt"))
      .select(col(idCol), col("n"), (col("boff") + col("loff")).as("start"))
    start.filter(col("n") > 0)
      .select(col(idCol), col("n"), col("start"),
        explode(sequence(
          expr(s"start div ${budget}L"),
          expr(s"(start + n - 1) div ${budget}L"))).as("seq_id"))
      .select(col(idCol), col("seq_id"),
        (greatest(col("start"), col("seq_id") * budget) - col("start"))
          .as("doc_off"),
        (greatest(col("start"), col("seq_id") * budget) - col("seq_id") * budget)
          .as("seq_off"),
        (least(col("start") + col("n"), (col("seq_id") + 1) * budget) -
          greatest(col("start"), col("seq_id") * budget)).as("piece_len"))
  }
}
