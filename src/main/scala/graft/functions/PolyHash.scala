package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the engine-portable polynomial string hash
  * that keys the whole dedup/LSH family (TextAnalysis.fingerprint):
  *
  *   acc_0 = 0;  acc_{i+1} = (31·acc_i + codepoint_i) mod 1e9+7
  *
  * Exactly the semantics of the built-in formulation
  * `aggregate(filter(split(s, "")), 0L, (acc, c) -> pmod(acc*31 + ascii(c), 1e9+7))`
  * — Java's `split("")` yields CODEPOINTS (it does not cut surrogate pairs)
  * and `ascii` returns `codePointAt(0)` — but as one fused loop
  * ([[PolyHash.fold]], shared by the sketch expressions and the transcript
  * bucket mirror): no per-character string array, no two lambda evals per
  * character. On the MinHash/SimHash path this hash runs once per token per
  * document, so the constant factor is the dominant cost of candidate
  * generation at corpus scale. Equivalence is property-tested against the
  * built-in formulation (PolyHashSpec), which also keeps the DuckDB oracles
  * valid (they mirror the built-in form).
  */
case class PolyHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"poly_hash expects string, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    PolyHash.of(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.PolyHash.of($x.toString());")

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

object PolyHash {

  /** Folds the codepoints of `s` into `acc`: acc ← (31·acc + cp) mod 1e9+7. */
  def fold(acc0: Long, s: String): Long = {
    var acc = acc0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 31L + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    acc
  }

  /** The hash of `s`. */
  def of(s: String): Long = fold(0L, s)

  /** The hashes of a token array's non-null tokens, in order (null tokens
    * never vote in a sketch).
    */
  def ofNonNull(toks: ArrayData): Array[Long] = {
    val n = toks.numElements()
    val hs = new Array[Long](n)
    var m = 0
    var t = 0
    while (t < n) {
      if (!toks.isNullAt(t)) {
        hs(m) = of(toks.getUTF8String(t).toString)
        m += 1
      }
      t += 1
    }
    if (m == n) hs else java.util.Arrays.copyOf(hs, m)
  }

  /** Column API. */
  def poly_hash(c: Column): Column = Bridge.column(PolyHash(Bridge.expression(c)))

  /** Register as a SQL function `poly_hash`. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "poly_hash", exprs => PolyHash(exprs(0)), "scala_udf")
}
