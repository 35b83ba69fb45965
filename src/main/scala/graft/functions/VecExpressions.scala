package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for the ANN hot loop: dot product of two
  * float-array columns, accumulated in double.
  *
  * The built-in formulation `aggregate(zip_with(a, b, _*_), 0d, _+_)`
  * allocates an intermediate array and evaluates two lambda closures per
  * element; this expression is a single fused loop with `doGenCode`, so it
  * stays inside WholeStageCodegen with zero allocation — the preferred
  * custom-operator tier (custom Expression) for a scalar function Spark
  * lacks. Nulls/length-mismatch follow SQL semantics: null in, null out;
  * extra elements of the longer vector are ignored.
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_dot expects array<float>/array<double>, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    val lf = isFloat(left)
    val rf = isFloat(right)
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val getX = if (isFloat(left)) s"(double) $x.getFloat($i)" else s"$x.getDouble($i)"
      val getY = if (isFloat(right)) s"(double) $y.getFloat($i)" else s"$y.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $getX * $getY;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst expression for the quantized-vector hot loop: EXACT
  * integer dot product of two long-array columns — the ranking/verify
  * primitive of the whole oracle-checkable embedding family
  * (`Similarity.qdot` call sites: norms, LSH projections, IVF ranking,
  * SemDeDup/near-dup threshold verification).
  *
  * The built-in formulation `aggregate(zip_with(a, b, _*_), 0L, _+_)` runs
  * INTERPRETED — higher-order functions sit outside whole-stage codegen and
  * evaluate two closures plus an intermediate array per element, which made
  * the pair-verify phases the dominant cost of `semantic_dedup` once the
  * result was honestly materialized. This is the same fused `doGenCode`
  * loop as [[FloatVecDot]], but BIT-FAITHFUL to the built-in integer form:
  * products and the accumulator use EXACT long arithmetic that THROWS on
  * overflow (`Math.multiplyExact`/`addExact`) — under Spark 4's default
  * ANSI mode the built-in `x * y` raises ARITHMETIC_OVERFLOW rather than
  * wrapping, and DuckDB's BIGINT errors too, so a silently-wrapping loop
  * would return a value where both reference forms fail (callers hold the
  * [[graft.ops.Similarity.quantize]] magnitude contract, so overflow never
  * fires in practice); a length mismatch or a null element yields NULL
  * (zip_with pads the shorter side with nulls, and `acc + null` poisons
  * the built-in sum) — equivalence is property-tested in
  * VecExpressionSpec.
  *
  * Documented divergence (ADVICE r05): on a vector with a NULL element
  * FOLLOWED by a pair whose product/prefix-sum would overflow, this
  * expression short-circuits to NULL at the null element, while the
  * built-in `zip_with` materializes every product first and raises
  * ARITHMETIC_OVERFLOW under ANSI. The equivalence contract therefore
  * reads: bit-identical wherever no product/prefix-sum overflows; on
  * overflow both forms error UNLESS a null precedes the overflowing pair,
  * where the fused loop returns NULL (the built-in's answer on every
  * non-overflow null input). Pinned by a VecExpressionSpec test.
  */
case class LongVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"long_vec_dot expects array<bigint>, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc = Math.addExact(acc, Math.multiplyExact(x.getLong(i), y.getLong(i)))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $x.numElements();
         |if ($y.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc = java.lang.Math.addExact($acc,
         |      java.lang.Math.multiplyExact($x.getLong($i), $y.getLong($i)));
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongVecDot =
    copy(left = newLeft, right = newRight)
}

object VecFunctions {
  /** Column API for [[FloatVecDot]]. */
  def vec_dot(a: Column, b: Column): Column =
    Bridge.column(FloatVecDot(Bridge.expression(a), Bridge.expression(b)))

  /** Column API for [[LongVecDot]]. */
  def long_vec_dot(a: Column, b: Column): Column =
    Bridge.column(LongVecDot(Bridge.expression(a), Bridge.expression(b)))

  /** Register as SQL functions `vec_dot` / `long_vec_dot`. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dot", exprs => FloatVecDot(exprs(0), exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "long_vec_dot", exprs => LongVecDot(exprs(0), exprs(1)), "scala_udf")
  }
}
