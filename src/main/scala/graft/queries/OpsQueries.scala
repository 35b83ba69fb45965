package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Curate, Decontam, Dedup, Multimodal, Scrub, Similarity, TextAnalysis}

/** Training-data pipeline operators over the `documents` / `embeddings`
  * tables. Hash-free formulations carry DuckDB oracles; hash-based LSH /
  * float-ranked ANN are rows-only here and verified against in-engine
  * brute-force oracles in OpsSpec.
  */
object OpsQueries {
  import CoreQueries.tbl

  def dedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exact(tbl(s, d, "documents"), "doc_id", "text")

  /** Near-dup pairs by unigram Jaccard on a 2% document sample (the shared
    * synthetic vocabulary makes the full corpus degenerate-dense; the
    * inverted-index shape is the same).
    */
  def dedupJaccardPairs(s: SparkSession, d: String): DataFrame =
    Dedup.jaccardPairs(
      tbl(s, d, "documents").filter(pmod(col("doc_id"), lit(50)) === 0),
      "doc_id", "text", thresholdPct = 80, maxDf = 1000000L)

  def dedupMinhashLsh(s: SparkSession, d: String): DataFrame =
    Dedup.minhashLshPairs(
      tbl(s, d, "documents").filter(pmod(col("doc_id"), lit(20)) === 0),
      "doc_id", "text", numHashes = 32, bands = 8, thresholdPct = 80)

  /** The 100-TB-capped minhash shape with BOTH caps live (df cap 50,
    * bucket cap 5) — caps are exact SQL (GROUP BY … HAVING), so the capped
    * run is oracle-checked end to end, not just plan-asserted.
    */
  def dedupMinhashCapped(s: SparkSession, d: String): DataFrame =
    Dedup.minhashLshPairs(
      tbl(s, d, "documents").filter(pmod(col("doc_id"), lit(20)) === 0),
      "doc_id", "text", numHashes = 32, bands = 8, thresholdPct = 80,
      maxDf = 50L, maxBucket = 5L)

  /** Near-dup clusters over the same sample as [[dedupMinhashLsh]]:
    * CAPPED-BY-DEFAULT pairs (df cap greatest(100, corpus/100), bucket cap
    * 1000 — the entry point routes through the scoped capped dedup) →
    * connected components → (doc_id, rep_id). The oracle reproduces the
    * caps as HAVING clauses and closes the pair set with a recursive CTE,
    * so the composition (capped LSH × union-find) is driver-verified end
    * to end.
    */
  def dedupClusters(s: SparkSession, d: String): DataFrame =
    Dedup.minhashClusters(
      tbl(s, d, "documents").filter(pmod(col("doc_id"), lit(20)) === 0),
      "doc_id", "text", numHashes = 32, bands = 8, thresholdPct = 80)

  /** Full curation composition on the same sample: quality gate (≥900
    * drops stopword-free docs) → capped cluster dedup (same 100-TB
    * defaults as [[dedupClusters]], caps reproduced in the oracle) →
    * deterministic split.
    */
  def curateCorpus(s: SparkSession, d: String): DataFrame =
    graft.ops.Curate.curate(
      tbl(s, d, "documents").filter(pmod(col("doc_id"), lit(20)) === 0),
      "doc_id", "text", minQualityMilli = 900, thresholdPct = 80)

  def dedupSimhash(s: SparkSession, d: String): DataFrame =
    Dedup.simhashPairs(
      tbl(s, d, "documents").filter(pmod(col("doc_id"), lit(20)) === 0),
      "doc_id", "text", maxHamming = 3, chunks = 4)

  def textQuality(s: SparkSession, d: String): DataFrame =
    TextAnalysis.quality(tbl(s, d, "documents"), "doc_id", "text")

  def langId(s: SparkSession, d: String): DataFrame =
    TextAnalysis.langId(tbl(s, d, "documents"), "doc_id", "text")

  def tokenCounts(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tokenCounts(tbl(s, d, "documents"), "doc_id", "text")

  def docFingerprint(s: SparkSession, d: String): DataFrame =
    TextAnalysis.fingerprints(tbl(s, d, "documents"), "doc_id", "text")

  /** Gopher-style repetition quality signals + keep flag (thresholds chosen
    * so the synthetic corpus splits both ways).
    */
  def repSignals(s: SparkSession, d: String): DataFrame =
    TextAnalysis.repetitionFilter(tbl(s, d, "documents"), "doc_id", "text",
      maxDupTokenMilli = 900, maxTopUnigramMilli = 120, maxTopBigramMilli = 400)
      .withColumn("keep", col("keep").cast("long"))

  /** Token-window chunking: 16-token windows, stride 12 (overlap 4) —
    * window CONTENT pinned via per-chunk fingerprint.
    */
  def chunkWindows(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tokenWindows(tbl(s, d, "documents"), "doc_id", "text",
      window = 16, stride = 12)

  /** PII scrub over documents with deterministically injected PII (the
    * synthetic corpus has none, so the query plants an email, an IP and a
    * phone per document from doc_id — mirrored verbatim in the oracle —
    * and the redaction does real work; redacted bytes pinned by
    * fingerprint).
    */
  def piiScrub(s: SparkSession, d: String): DataFrame = {
    val planted = tbl(s, d, "documents").withColumn("pii_text",
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com from 10."),
        pmod(col("doc_id"), lit(256)).cast("string"),
        lit(".0."), pmod(col("doc_id"), lit(100)).cast("string"),
        lit(" call "), (pmod(col("doc_id"), lit(900)) + 100).cast("string"),
        lit("-"), (pmod(col("doc_id"), lit(9000)) + 1000).cast("string")))
    Scrub.piiAudit(planted, "doc_id", "pii_text")
  }

  /** Deterministic domain-mix sampling: per-source basis-point rates, keep
    * decision by content hash (never rand()); per-domain totals compared.
    */
  def domainMix(s: SparkSession, d: String): DataFrame =
    Curate.domainTag(tbl(s, d, "documents"), "doc_id", "source",
        rates = Seq("src0" -> 10000, "src1" -> 7500, "src2" -> 2500, "src3" -> 0),
        defaultBp = 5000)
      .groupBy("source")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))

  /** Train/eval decontamination: the content-hash split's test documents
    * are the eval set; training documents sharing any 5-gram shingle with
    * them are flagged with their contamination ratio.
    */
  def decontamOverlap(s: SparkSession, d: String): DataFrame = {
    val docs = tbl(s, d, "documents")
      .withColumn("split", Curate.splitCol(col("doc_id"), 9000, 500))
    Decontam.overlap(
      docs.filter(col("split") === "train"),
      docs.filter(col("split") === "test"),
      "doc_id", "text", n = 5, maxEvalDf = 1000L)
  }

  /** Exact per-domain token-length quantiles (p25/p50/p75/p90/p99) over the
    * documents table, domain = source; histogram-exact, so the oracle is the
    * same cumulative-count selection in plain SQL.
    */
  def lengthQuantiles(s: SparkSession, d: String): DataFrame =
    TextAnalysis.lengthQuantiles(tbl(s, d, "documents"), "text", "source",
      qMilli = Seq(250, 500, 750, 900, 990))

  /** Tokenizer-training vocabulary: corpus-wide word frequencies with the
    * hapax tail pruned (minCount = 100 — BINDS at the driver's verify
    * scales: the synthetic corpus has one rare token under it at both
    * sf0.001 and sf0.01, so the pruning branch is oracle-exercised, not
    * just present). The one corpus-scale shuffle is a map-side-combined
    * count.
    */
  def wordFreqs(s: SparkSession, d: String): DataFrame =
    TextAnalysis.wordFrequencies(tbl(s, d, "documents"), "text", minCount = 100L)

  /** BPE pair statistics: top-50 frequency-weighted adjacent character
    * pairs off the vocabulary, ties broken on the pair string — the
    * data-scale step of BPE tokenizer training.
    */
  def bpePairs(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bpePairCounts(tbl(s, d, "documents"), "text", topK = 50)

  /** Deterministic seeded corpus shuffle: every document ranked into a dense
    * pseudo-random permutation 0..n-1; the two-level distributed rank is
    * checked against a plain single-window ROW_NUMBER in the oracle.
    */
  def shufflePositions(s: SparkSession, d: String): DataFrame =
    Curate.shufflePositions(tbl(s, d, "documents"), "doc_id", seed = 42L)

  /** Sequence packing at a 64-token budget: the deterministic pack-and-split
    * training-batch prep. Piece geometry (doc_off/seq_off/piece_len) is
    * integer-exact, so the two-level distributed prefix sum is checked
    * against a plain SQL window prefix sum in the oracle.
    */
  def packSequences(s: SparkSession, d: String): DataFrame =
    Curate.packSequences(tbl(s, d, "documents"), "doc_id", "text", budget = 64L)

  def multimodalMeta(s: SparkSession, d: String): DataFrame =
    Multimodal.attach(tbl(s, d, "documents"), "doc_id", "text")
      .select("media_id", "mime", "n_bytes")

  /** Binary frame-sampling plumbing; per-media sampled-frame stats. */
  def frameSample(s: SparkSession, d: String): DataFrame =
    Multimodal.sampleFrames(
      Multimodal.attach(tbl(s, d, "documents"), "doc_id", "text"),
      frameBytes = 32, stride = 2)
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_frames"), sum(col("frame_bytes")).as("total_bytes"))

  /** Real codec path: text rendered as binary PGM images, decoded back by
    * header parse + pixel statistics — integer-exact, DuckDB-oracled.
    */
  def multimodalFeatures(s: SparkSession, d: String): DataFrame =
    Multimodal.decodeFeatures(
      Multimodal.attachPgm(tbl(s, d, "documents"), "doc_id", "text"),
      Multimodal.PgmCodec)
      .toDF().select("media_id", "n_bytes", "width", "height", "pixel_sum", "mean_milli")

  /** Second real codec path: text rendered as 8-bit grayscale BMP (binary
    * little-endian header built via unhex), decoded back by header parse +
    * stride-aware raster fold — integer-exact, DuckDB-oracled.
    */
  def multimodalBmp(s: SparkSession, d: String): DataFrame =
    Multimodal.decodeFeatures(
      Multimodal.attachBmp(tbl(s, d, "documents"), "doc_id", "text"),
      Multimodal.BmpCodec)
      .toDF().select("media_id", "n_bytes", "width", "height", "pixel_sum", "mean_milli")

  /** Third real codec path — the AUDIO class: text rendered as 16-bit PCM
    * mono WAV (canonical RIFF header via unhex, one LE int16 sample per
    * text byte), decoded back by the chunk-walking header parse + absolute
    * amplitude fold — integer-exact, DuckDB-oracled.
    */
  def multimodalWav(s: SparkSession, d: String): DataFrame =
    Multimodal.decodeFeatures(
      Multimodal.attachWav(tbl(s, d, "documents"), "doc_id", "text"),
      Multimodal.WavCodec)
      .toDF().select(col("media_id"), col("n_bytes"),
        col("width").as("channels"), col("height").as("n_frames"),
        col("pixel_sum").as("amp_sum"), col("mean_milli").as("mean_amp_milli"))

  def embedStats(s: SparkSession, d: String): DataFrame =
    tbl(s, d, "embeddings").groupBy("label")
      .agg(count(lit(1)).as("n"),
        min(size(col("embedding"))).as("min_dim"),
        max(size(col("embedding"))).as("max_dim"))

  /** Brute-force cosine top-k on a 5% sample (exact ANN baseline;
    * integer-quantized ranking — DuckDB-oracled).
    */
  def annBruteTopK(s: SparkSession, d: String): DataFrame =
    Similarity.bruteForceTopK(
      tbl(s, d, "embeddings").filter(pmod(col("vec_id"), lit(20)) === 0),
      "vec_id", "embedding", k = 5)

  /** IVF ANN on the same sample: trained √N centroids, 2 Lloyd rounds,
    * 3-probe — the scale path, reproduced step-for-step by the DuckDB oracle.
    */
  def annIvfTopK(s: SparkSession, d: String): DataFrame =
    Similarity.ivfTopK(
      tbl(s, d, "embeddings").filter(pmod(col("vec_id"), lit(20)) === 0),
      "vec_id", "embedding", k = 5, nCentroids = 0, nProbe = 3)

  def embedNearDups(s: SparkSession, d: String): DataFrame =
    Similarity.embeddingNearDups(
      tbl(s, d, "embeddings").filter(pmod(col("vec_id"), lit(5)) === 0),
      "vec_id", "embedding", thresholdPct = 15, nPlanes = 4)
      .select(col("a"), col("b"))

  /** Trained k-means corpus clustering (same training as the IVF index —
    * the oracle reproduces seeding + both Lloyd rounds step-for-step).
    */
  def embedKmeans(s: SparkSession, d: String): DataFrame =
    Similarity.kmeansClusters(
      tbl(s, d, "embeddings").filter(pmod(col("vec_id"), lit(5)) === 0),
      "vec_id", "embedding")

  /** SemDeDup: exact-cosine near-dups within trained k-means clusters;
    * min-id keeper. Threshold chosen so the synthetic embeddings split
    * both ways.
    */
  def semanticDedup(s: SparkSession, d: String): DataFrame =
    Similarity.semanticDedup(
      tbl(s, d, "embeddings").filter(pmod(col("vec_id"), lit(5)) === 0),
      "vec_id", "embedding", thresholdPct = 30)

  /** SemDeDup with a BINDING `maxCluster` rail (15 excludes the largest
    * trained cluster at verify scale): proves against the SQL oracle that
    * overfull clusters skip the pair phase with members kept, exactly —
    * the `dedup_minhash_capped` discipline applied to the semantic path.
    */
  def semanticDedupCapped(s: SparkSession, d: String): DataFrame =
    Similarity.semanticDedup(
      tbl(s, d, "embeddings").filter(pmod(col("vec_id"), lit(5)) === 0),
      "vec_id", "embedding", thresholdPct = 30, maxCluster = 15L)
}
