package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions._

/** SparkSessionExtensions entry point (SURVEY.md §7.3): registers the
  * engine's native expressions at session build time —
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`. This is the ONE place
  * native functions are registered; a query session built without it
  * cannot resolve them. Injection points for custom Rules/Strategies
  * live here too (the as-of join strategy).
  *
  * Native functions: the vector kernels `dot_f`, `dotfx` and `l2fx`;
  * the aggregates `heavy_hitters`, `topk_by`, `kmv_bottomk`,
  * `bottomk_distinct_by` and `simhash64` (the 64-bit SimHash signature
  * the near-dup keys group documents by).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    def fn(name: String, cls: Class[_], build: Seq[Expression] => Expression)
        : Unit =
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    fn("dot_f", classOf[DotProductF], DotProductF.build)
    fn("dotfx", classOf[DotFixedF], DotFixedF.build)
    fn("l2fx", classOf[L2FixedF], L2FixedF.build)
    fn("heavy_hitters", classOf[HeavyHittersAgg], HeavyHittersAgg.build)
    fn("topk_by", classOf[TopKByAgg], TopKByAgg.build)
    fn("kmv_bottomk", classOf[KmvBottomKAgg], KmvBottomKAgg.build)
    fn("simhash64", classOf[SimHash64Agg], SimHash64Agg.build)
    fn("bottomk_distinct_by", classOf[BottomKDistinctByAgg],
      BottomKDistinctByAgg.build)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
