package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression producing ALL word n-gram [[PolyHash]]es of a
  * string in one fused pass — semantically identical to the built-in
  * formulation
  *
  *   transform(sequence(1, size(toks) - (n-1)),
  *     i -> poly_hash(concat_ws(" ", slice(toks, i, n))))
  *   where toks = filter(split(s, "\\s+"), t -> length(t) > 0)
  *
  * (empty array when the text has fewer than n tokens; equivalence is
  * property-tested in PolyHashSpec, which keeps the DuckDB decontamination
  * oracle valid — it mirrors the built-in form), but with a radically
  * better constant: the HOF chain re-tokenizes the text inside the
  * transform lambda for EVERY shingle (the `slice(filter(split(text)))`
  * under the lambda), runs interpreted (higher-order functions are outside
  * whole-stage codegen), and is re-evaluated wholesale by the
  * isnotnull/size>0 predicates `InferFiltersFromGenerate` pushes below the
  * explode — measured 2.4× end-to-end on the decontamination operator at
  * sf0.1 even before the per-shingle re-tokenization is counted. Here:
  * tokenize ONCE, then one rolling poly-hash per shingle over the token
  * codepoints (the join space hashed between tokens, never materializing
  * the n-gram string).
  */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"shingle_hashes expects string, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    ShingleHashes.compute(input.asInstanceOf[UTF8String].toString, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.ShingleHashes.compute($x.toString(), $n);")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {

  /** One pass over the pre-split tokens: for each window of `n`, poly-hash
    * the codepoints of the tokens with a single space (32) hashed between
    * them — exactly the hash of `concat_ws(" ", slice(toks, i, n))`
    * (surrogate pairs never span a token boundary, so per-token codepoint
    * iteration equals iterating the joined string).
    */
  def compute(s: String, n: Int): ArrayData = {
    val toks = s.split("\\s+").filter(_.nonEmpty)
    val k = toks.length
    if (k < n) return ArrayData.toArrayData(Array.empty[Long])
    val out = new Array[Long](k - n + 1)
    var i = 0
    while (i <= k - n) {
      var acc = PolyHash.of(toks(i))
      var j = i + 1
      while (j < i + n) {
        acc = PolyHash.fold(PolyHash.fold(acc, " "), toks(j))
        j += 1
      }
      out(i) = acc
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Column API. */
  def shingle_hashes(c: Column, n: Int): Column =
    Bridge.column(ShingleHashes(Bridge.expression(c), n))
}
