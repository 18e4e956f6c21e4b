package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: dot product of two float-array columns,
  * accumulated in double, fixed left-to-right order.
  *
  * Why a custom Expression (SURVEY.md §7.3 allows exactly this case):
  * the composable alternative — `aggregate(zip_with(a, b, (x,y) -> x*y),
  * 0d, (acc,v) -> acc+v)` — runs on the CodegenFallback path (Spark's
  * higher-order functions are interpreted, one closure dispatch + boxed
  * object per element). This kernel participates in whole-stage codegen:
  * `doGenCode` emits a tight primitive loop fused into the surrounding
  * operator, ~an order of magnitude faster per row — the difference
  * between feasible and not at 10⁹ vectors/100 TB. Deterministic:
  * sequential accumulation order is part of the contract.
  */
case class DotProductF(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_f"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    // Fail fast on ragged inputs (see L2FixedF): a silent min-length
    // truncation masks corrupted embedding data with a plausible score.
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"dot_f: array length mismatch ($n vs ${b.numElements()})")
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $l.numElements();
         |if ($r.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "dot_f: array length mismatch (" + $n + " vs " + $r.numElements() + ")");
         |}
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double) $l.getFloat($i) * (double) $r.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductF =
    copy(left = newLeft, right = newRight)
}

object DotProductF {
  /** Arity-checked builder GraftExtensions registers:
    * wrong argument counts fail analysis cleanly instead of throwing
    * IndexOutOfBounds from inside the builder. */
  def build(exprs: Seq[Expression]): DotProductF = {
    if (exprs.length != 2)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> "`dot_f`", "expectedNum" -> "2",
          "actualNum" -> exprs.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
    DotProductF(exprs.head, exprs(1))
  }
}

/** Native Catalyst expression: FIXED-POINT dot product of two
  * float-array columns — Σᵢ floor(aᵢ·bᵢ · 2⁴⁰) as LONG.
  *
  * The order-independent sibling of [[DotProductF]] and the array-form
  * twin of `Det.sumFixed`: because every term is floored to an integer
  * BEFORE summation, the result is bit-identical regardless of
  * accumulation order — so a DuckDB oracle that sums the same floored
  * terms over a position join reproduces it exactly, and a THRESHOLD
  * comparison on the derived cosine can never flip engines at the
  * boundary (the risk a raw double loop leaves open). Use this when a
  * pairwise score feeds a filter or a cross-engine hash; use dot_f
  * when only relative order matters. Same codegen rationale as
  * L2FixedF: a fused primitive loop instead of interpreted HOFs.
  * Bounds: |aᵢ·bᵢ| ≤ 1 for unit-ish floats → term ≤ 2⁴⁰, ×64 dims
  * ≪ Long.Max.
  */
case class DotFixedF(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "dotfx"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"dotfx: array length mismatch ($n vs ${b.numElements()})")
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += math.floor(a.getFloat(i).toDouble * b.getFloat(i).toDouble
        * graft.Det.FixedPoint).toLong
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $l.numElements();
         |if ($r.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "dotfx: array length mismatch (" + $n + " vs " + $r.numElements() + ")");
         |}
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (long) java.lang.Math.floor(
         |    (double) $l.getFloat($i) * (double) $r.getFloat($i)
         |      * ${graft.Det.FixedPoint}D);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotFixedF =
    copy(left = newLeft, right = newRight)
}

object DotFixedF {
  def build(exprs: Seq[Expression]): DotFixedF = {
    if (exprs.length != 2)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> "`dotfx`", "expectedNum" -> "2",
          "actualNum" -> exprs.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
    DotFixedF(exprs.head, exprs(1))
  }
}
