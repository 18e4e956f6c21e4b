package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Native Catalyst expression: fixed-point squared L2 distance of two
  * float-array columns — Σᵢ floor((aᵢ−bᵢ)² · 2⁴⁰) as LONG.
  *
  * Same §7.3 rationale as [[DotProductF]]: the higher-order-function
  * composition runs interpreted (CodegenFallback), this fuses a
  * primitive loop into whole-stage codegen. The per-TERM floor before
  * the sum is the point: integer term sums are order-independent, so
  * the result is bit-identical across engines, partitionings, and
  * accumulation orders — an argmin over these values can never flip on
  * a last-ulp float difference, unlike a double-summed distance. The
  * DuckDB mirror is sum(CAST(floor((a-b)*(a-b)*1099511627776.0) AS
  * BIGINT)) over unnested positions (any order). Bounds: |aᵢ−bᵢ| ≤ 2
  * floats → term ≤ 2⁴², ×64 dims ≪ Long.Max.
  */
case class L2FixedF(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "l2fx"

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
    // Fail fast on ragged inputs: silently truncating to the shorter
    // array would let corrupted embedding data produce a plausible
    // distance (and an oracle that mirrors the truncation would never
    // see the drift).
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"l2fx: array length mismatch ($n vs ${b.numElements()})")
    var acc = 0L
    var i = 0
    while (i < n) {
      val dd = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      acc += math.floor(dd * dd * graft.Det.FixedPoint).toLong
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val dd = ctx.freshName("dd")
      s"""
         |int $n = $l.numElements();
         |if ($r.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "l2fx: array length mismatch (" + $n + " vs " + $r.numElements() + ")");
         |}
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $dd = (double) $l.getFloat($i) - (double) $r.getFloat($i);
         |  $acc += (long) java.lang.Math.floor($dd * $dd * ${graft.Det.FixedPoint}D);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2FixedF =
    copy(left = newLeft, right = newRight)
}

object L2FixedF {
  /** Arity-checked builder GraftExtensions registers. */
  def build(exprs: Seq[Expression]): L2FixedF = {
    if (exprs.length != 2)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> "`l2fx`", "expectedNum" -> "2",
          "actualNum" -> exprs.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
    L2FixedF(exprs.head, exprs(1))
  }
}
