package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}

/** Native Catalyst expressions for the dedup-sketch hot loops: the MinHash
  * signature and the SimHash bit vector, each fused into one pass over a
  * token array.
  *
  * Motivation (guide §1.2 step 2 — per-task work, and §4: prefer codegen
  * expressions over interpreted lambda chains): the built-in higher-order
  * formulations in [[graft.ops.Dedup]] evaluate `numHashes` (resp. `bits`)
  * separate `transform`/`array_min`/`filter` lambda chains per document —
  * HOFs run OUTSIDE whole-stage codegen, allocate an intermediate array per
  * lambda, and re-hash every token `numHashes`/`bits` times. These
  * expressions tokenize-hash ONCE per document and fold all hash slots in a
  * single fused loop (`doGenCode`), exactly reproducing the built-in
  * semantics — equivalence is property-tested in SketchExpressionSpec, which
  * is what keeps the DuckDB oracles (which mirror the built-in forms) valid.
  */

/** All `numHashes` MinHash signature slots of a token array in one pass —
  * semantically identical to
  * `Dedup.minhashSigFromHashes(Dedup.tokenHashes(toks), numHashes)`:
  *
  *   sig_i = min over tokens t of (polyhash(t) * a_i + b_i) mod (2^31-1)
  *   a_i = ((i*1103515245 + 12345) mod (2^31-2)) + 1
  *   b_i = (i*134775813 + 1) mod (2^31-1)
  *
  * Null/empty semantics match the built-ins: null array → null; a null
  * token's hash is null and `array_min` ignores nulls, so null tokens don't
  * vote; an array with no non-null tokens yields all-null slots (array_min
  * of an empty/all-null array is null).
  */
case class MinhashSigs(child: Expression, numHashes: Int) extends UnaryExpression {

  require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sigs expects array<string>, got ${t.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    MinhashSigs.compute(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.MinhashSigs.compute($x, $numHashes);")

  override protected def withNewChildInternal(newChild: Expression): MinhashSigs =
    copy(child = newChild)
}

object MinhashSigs {

  private final val P31 = 2147483647L // 2^31 - 1

  def compute(toks: ArrayData, numHashes: Int): ArrayData = {
    // token hashes once (null tokens excluded — array_min ignores nulls)
    val hs = PolyHash.ofNonNull(toks)
    val m = hs.length
    val out = new Array[Any](numHashes)
    var i = 0
    while (i < numHashes) {
      val a = ((i.toLong * 1103515245L + 12345L) % (P31 - 1)) + 1L
      val b = (i.toLong * 134775813L + 1L) % P31
      if (m == 0) out(i) = null
      else {
        var best = Long.MaxValue
        var j = 0
        while (j < m) {
          val v = (hs(j) * a + b) % P31
          if (v < best) best = v
          j += 1
        }
        out(i) = best
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Column API. */
  def minhash_sigs(toks: Column, numHashes: Int): Column =
    Bridge.column(MinhashSigs(Bridge.expression(toks), numHashes))
}

/** The `bits`-slot SimHash bit vector of a token array in one pass —
  * semantically identical to [[graft.ops.Dedup.simhashBits]]:
  *
  *   bit_b = 1 iff 2 · |{t : ((h_t·(131b+137) + 1000003b + 7) mod 1e9+7) odd}|
  *               > size(toks)
  *
  * where h_t = polyhash(t). Null tokens never vote (the built-in `filter`
  * drops the null lambda result) but DO count in size(toks); a null array
  * yields null.
  */
case class SimhashBitsExpr(child: Expression, bits: Int) extends UnaryExpression {

  require(bits >= 1, s"bits must be >= 1, got $bits")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash_bits expects array<string>, got ${t.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    SimhashBitsExpr.compute(input.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.SimhashBitsExpr.compute($x, $bits);")

  override protected def withNewChildInternal(newChild: Expression): SimhashBitsExpr =
    copy(child = newChild)
}

object SimhashBitsExpr {

  private final val P = 1000000007L

  def compute(toks: ArrayData, bits: Int): ArrayData = {
    val n = toks.numElements() // null tokens count here but never vote
    val hs = PolyHash.ofNonNull(toks)
    val m = hs.length
    val out = new Array[Int](bits)
    var b = 0
    while (b < bits) {
      val mul = b.toLong * 131L + 137L
      val add = b.toLong * 1000003L + 7L
      var ones = 0
      var j = 0
      while (j < m) {
        if (((hs(j) * mul + add) % P & 1L) == 1L) ones += 1
        j += 1
      }
      out(b) = if (ones * 2 > n) 1 else 0
      b += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Column API. */
  def simhash_bits(toks: Column, bits: Int): Column =
    Bridge.column(SimhashBitsExpr(Bridge.expression(toks), bits))
}
