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
  *
  * It also sizes Spark's generated-class cache (see
  * [[GraftExtensions.CodegenCacheEntries]]). That cache is one per JVM,
  * and its capacity is a static conf that is read once, when the first
  * class is compiled. So the default has to be in place before the
  * context starts. `Builder.withExtensions` calls [[apply]] at once, before
  * `getOrCreate` builds the `SparkConf` that copies `spark.*` system
  * properties. [[apply]] therefore sets the system property
  * [[GraftExtensions.CodegenCacheConf]] when it is unset. A caller's value
  * wins: a `-D` property is never overwritten, and a builder `.config`
  * overrides system properties. A session that names the extension only
  * through `spark.sql.extensions=` runs it after its context exists, so it
  * gets no default and has to pass the conf itself.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    System.getProperties.putIfAbsent(GraftExtensions.CodegenCacheConf,
      GraftExtensions.CodegenCacheEntries.toString)
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

object GraftExtensions {
  val CodegenCacheConf = "spark.sql.codegen.cache.maxEntries"
  /** Capacity of Spark's generated-class cache (Spark's default is 100).
    * One pass over the 271 non-Postgres keys at sf0.01 compiles 2,048
    * distinct classes, and even the three perfbench `query_suite` keys
    * need more than 100, so at the default a warm pass cycles through
    * the cache and recompiles nearly every class. 4096 holds a whole
    * Bench pass with headroom; SCALE.md has the measurement. */
  val CodegenCacheEntries = 4096
}
