package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-turn (subj, pred, obj) triple extraction over linked mentions
  * (SURVEY.md §2.9): conversations are windowed by conv_id ordered by
  * (turn_idx, span_start) — the stable turn ordering the north rule fixes —
  * and for every property mention,
  *
  *   subj = nearest entity mention BEFORE it (same turn or any earlier turn —
  *          the conversation-focus fallback),
  *   obj  = nearest entity mention AFTER it within the SAME turn.
  *
  * Both are ignore-null window lookups, so the stage is two window passes over
  * one partition-by-conversation sort — no joins, no shuffle beyond the
  * conv_id hash partition.
  */
object Triples {

  /** @param mentions (conv_id, turn_idx, span_start, span_end, id, is_prop, score)
    * @return (subj, pred, obj, conv_id, turn_idx, score)
    */
  def extract(mentions: DataFrame): DataFrame = {
    // both lookups use GROWING frames (unboundedPreceding → -1), which Spark
    // evaluates incrementally in O(n) per partition; the "nearest entity
    // after" is the same growing frame over the REVERSED sort order — a
    // shrinking (1 → unboundedFollowing) frame would re-scan per row.
    val wAsc = Window.partitionBy(col("conv_id"))
      .orderBy(col("turn_idx").asc, col("span_start").asc, col("span_end").asc,
        col("id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wDesc = Window.partitionBy(col("conv_id"))
      .orderBy(col("turn_idx").desc, col("span_start").desc, col("span_end").desc,
        col("id").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val entId = when(!col("is_prop"), col("id"))
    val entScore = when(!col("is_prop"), col("score"))
    val withCtx = mentions
      .withColumn("subj", last(entId, ignoreNulls = true).over(wAsc))
      .withColumn("subj_score", last(entScore, ignoreNulls = true).over(wAsc))
      // nearest entity after, then constrain to same turn
      .withColumn("obj_cand",
        last(when(!col("is_prop"), struct(col("turn_idx").as("t"), col("id").as("i"),
          col("score").as("s"))), ignoreNulls = true)
          .over(wDesc))
    withCtx
      .filter(col("is_prop") && col("subj").isNotNull &&
        col("obj_cand").isNotNull && col("obj_cand.t") === col("turn_idx"))
      .select(
        col("subj"),
        col("id").as("pred"),
        col("obj_cand.i").as("obj"),
        col("conv_id"),
        col("turn_idx"),
        ((col("subj_score") + col("obj_cand.s")) / 2.0 + col("score")).as("score"))
  }

  /** A mention row in the walker's wire shape:
    * (conv_id, turn_idx, span_start, span_end, id, is_prop, score).
    */
  type MentionRow = (String, Int, Int, Int, String, Boolean, Double)

  /** One conversation's turn walk — the per-group state machine both
    * [[extractBucketed]] (batch) and the streaming stateful extractor share.
    * `seed` is the conversation-focus entity carried in from EARLIER turns
    * (an earlier micro-batch on the streaming path; None in batch, where the
    * group holds the whole conversation).
    *
    * @return (triples, final focus entity or null, its score)
    */
  private[graft] def walkTurns(
      conv: String,
      ms: Array[MentionRow],
      seed: Option[(String, Double)]):
      (Seq[(String, String, String, String, Int, Double)], String, Double) = {
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String, String, Int, Double)]
    var lastEnt: String = seed.map(_._1).orNull
    var lastScore = seed.map(_._2).getOrElse(0.0)
    var turnStart = 0
    while (turnStart < ms.length) {
      val turn = ms(turnStart)._2
      var turnEnd = turnStart
      while (turnEnd < ms.length && ms(turnEnd)._2 == turn) turnEnd += 1
      var i = turnStart
      while (i < turnEnd) {
        val m = ms(i)
        if (m._6) { // property mention
          if (lastEnt != null) {
            // nearest following entity in the SAME turn
            var j = i + 1
            while (j < turnEnd && ms(j)._6) j += 1
            if (j < turnEnd) {
              val o = ms(j)
              out += ((lastEnt, m._5, o._5, conv, turn,
                (lastScore + o._7) / 2.0 + m._7))
            }
          }
        } else { lastEnt = m._5; lastScore = m._7 }
        i += 1
      }
      turnStart = turnEnd
    }
    (out.toSeq, lastEnt, lastScore)
  }

  /** Sort key shared by the batch group walk and the streaming state walk —
    * the same stable (turn, span, id) order the window formulation fixes.
    */
  private[graft] def sortMentions(ms: Array[MentionRow]): Array[MentionRow] =
    ms.sortBy(m => (m._2, m._3, m._4, m._5))

  /** Single-pass variant of [[extract]] — identical semantics
    * (equivalence-tested): conversations group on the `conv_id` COLUMN, and
    * each group is a bounded turn sequence walked once; the per-group state
    * (conversation focus entity) is exactly what the two growing window
    * frames encode. The walk's required distribution is
    * `ClusteredDistribution(conv_id)`, which Catalyst can satisfy from the
    * scan: over a conv-bucketed mentions table
    * ([[graft.io.ManifestStore.runStageBucketed]]) the whole stage plans
    * with ZERO Exchange (plan-asserted in PlanSpec) — the write-side bucket
    * repartition already co-located every conversation. On unbucketed input
    * it costs one shuffle + one sort instead of two opposite-order window
    * sorts.
    */
  def extractBucketed(mentions: DataFrame): DataFrame = {
    val spark = mentions.sparkSession
    import spark.implicits._
    mentions
      .select(col("conv_id"), col("turn_idx").cast("int"),
        col("span_start").cast("int"), col("span_end").cast("int"),
        col("id"), col("is_prop"), col("score").cast("double"))
      .as[MentionRow]
      .groupBy(col("conv_id")).as[String, MentionRow]
      .flatMapGroups { (conv: String, it: Iterator[MentionRow]) =>
        walkTurns(conv, sortMentions(it.toArray), None)._1.iterator
      }
      .toDF("subj", "pred", "obj", "conv_id", "turn_idx", "score")
  }
}
