package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Two-phase salted aggregation for skewed keys (north rule: "skewed
  * high-frequency entities (head QIDs) are salted before the link-score
  * aggregation shuffle").
  *
  * AQE's skew handling splits skewed JOIN partitions but does nothing for
  * aggregation skew; partial (map-side) aggregation already bounds the damage
  * for algebraic aggregates, but when upstream partitioning is pathological
  * (one producer partition per head key) the explicit salt guarantees the
  * first shuffle fans a head key out over `saltN` reducers. Phase 1 groups by
  * (key, salt); phase 2 re-aggregates by key.
  *
  * The salt is a CONTENT hash of caller-named stable columns
  * (`pmod(xxhash64(saltFrom...), saltN)`, SURVEY §2.9) — never a
  * nondeterministic expression: a salt from `monotonically_increasing_id()`
  * or `rand()` feeds a shuffle key that can change when a lost shuffle block
  * forces a map-task recompute, and phase 2 does NOT protect against mixing
  * old and new map outputs. Content salts re-derive identically on recompute.
  *
  * Only algebraic (re-aggregatable) measures are supported: sum / count /
  * min / max — exactly what link scoring needs.
  */
object SaltedAgg {

  final case class Measure(colName: String, fn: String, as: String)

  def apply(df: DataFrame, key: Seq[String], measures: Seq[Measure], saltN: Int,
      saltFrom: Seq[String]): DataFrame = {
    require(saltN >= 1)
    require(saltFrom.nonEmpty,
      "saltFrom must name stable input columns — the salt must be deterministic under recompute")
    def m(fn: String, c: Column): Column = fn match {
      case "sum" => sum(c)
      case "count" => count(c)
      case "min" => min(c)
      case "max" => max(c)
    }
    // saltN == 1 degenerates to the plain single-phase aggregate — skip the
    // salt column and phase-2 exchange entirely (the gated fast path)
    if (saltN == 1)
      return df.groupBy(key.map(col): _*)
        .agg(m(measures.head.fn, col(measures.head.colName)).as(measures.head.as),
          measures.tail.map(x => m(x.fn, col(x.colName)).as(x.as)): _*)
    val salted = df.withColumn("_salt",
      pmod(xxhash64(saltFrom.map(col): _*), lit(saltN.toLong)))
    val phase1 = salted
      .groupBy((key.map(col) :+ col("_salt")): _*)
      .agg(m(measures.head.fn, col(measures.head.colName)).as(measures.head.as),
        measures.tail.map(x => m(x.fn, col(x.colName)).as(x.as)): _*)
    // phase 2: counts re-aggregate by SUM, everything else by itself
    def reFn(fn: String): String = if (fn == "count") "sum" else fn
    phase1
      .groupBy(key.map(col): _*)
      .agg(m(reFn(measures.head.fn), col(measures.head.as)).as(measures.head.as),
        measures.tail.map(x => m(reFn(x.fn), col(x.as)).as(x.as)): _*)
  }

  /** Head-key degree from which [[linkScores]] salts. */
  private val SkewMaxDegree = 1000000L

  /** Link-score aggregation: per linked id, mention count + summed score —
    * the head-QID-skewed shuffle of the pipeline. Salted from the mention's
    * position columns (stable content, uncorrelated with the hot id).
    *
    * The salt is GATED on the observed HEAD-KEY DEGREE: the round-4 gate
    * keyed on MEAN mentions-per-id, but a mean cannot bound the max — a
    * Zipfian head QID holds a hot reducer's worth of rows while millions of
    * singleton ids keep the mean low, disabling the salt exactly when it is
    * needed (ADVICE r04). `maxDegreeHint` is the max rows-per-id column stat
    * the mentions stage write records in its manifest
    * ([[graft.io.ManifestStore.maxDegreeOf]]); under `SkewMaxDegree` the
    * two-phase plan — whose second exchange is a real fixed cost at EVERY
    * scale — degenerates to the plain one-exchange aggregate.
    *
    * Authority (ADVICE r04): `saltN > 0` is a caller-FORCED fan-out and is
    * never overridden by the hint; `saltN = 0` (the default) is AUTO —
    * observed head degree picks the shape, and no hint keeps the
    * conservative salted form (16). Gating is safe because both forms are
    * exactly equivalent on any input (`salted_agg_equiv` oracle) — the
    * hint only picks the physical shape.
    */
  def linkScores(mentions: DataFrame, saltN: Int = 0,
      maxDegreeHint: Option[Long] = None): DataFrame = {
    val effSaltN =
      if (saltN > 0) saltN
      else maxDegreeHint match {
        case Some(d) if d < SkewMaxDegree => 1
        case _ => 16
      }
    apply(mentions, Seq("id"),
      Seq(Measure("id", "count", "n_mentions"), Measure("score", "sum", "total_score")),
      effSaltN, saltFrom = Seq("conv_id", "turn_idx", "span_start"))
  }
}
