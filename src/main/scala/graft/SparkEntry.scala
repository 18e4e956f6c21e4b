package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each operator module contributes a `queries` map (key → DataFrame
  * builder over a scale-factor dir) and an `oracles` map (key →
  * equivalent DuckDB SQL). SURVEY.md §2 is the inventory this aggregates.
  *
  * Query sessions must be built with `GraftExtensions`
  * (`.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`): it is the one place
  * the native functions (dot_f, dotfx, l2fx, heavy_hitters, topk_by,
  * kmv_bottomk, bottomk_distinct_by, simhash64) and the as-of join
  * strategy are registered, and no query registers them itself. Only
  * the `.withExtensions` form also sizes the generated-class cache (see
  * `GraftExtensions`); a `spark.sql.extensions=` session has to set
  * `GraftExtensions.CodegenCacheConf` itself.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("agg_groupby_pricing")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ Windows.queries ++
      graft.functions.Functions.queries ++
      graft.functions.Udfs.queries ++
      graft.sources.Sources.queries ++
      graft.wikidata.Wd.queries ++
      graft.wikidata.Lexemes.queries ++
      graft.wikidata.Mediainfo.queries ++
      graft.wikidata.TypedValues.queries ++
      graft.wikidata.Etl.queries ++
      TextOps.queries ++ DedupOps.queries ++ SimOps.queries ++
      SampleOps.queries ++ Multimodal.queries ++ StatOps.queries ++
      GraphOps.queries ++
      graft.streaming.StreamingOps.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ Windows.oracles ++
      graft.functions.Functions.oracles ++
      graft.functions.Udfs.oracles ++
      graft.sources.Sources.oracles ++
      graft.wikidata.Wd.oracles ++
      graft.wikidata.Lexemes.oracles ++
      graft.wikidata.Mediainfo.oracles ++
      graft.wikidata.TypedValues.oracles ++
      graft.wikidata.Etl.oracles ++
      TextOps.oracles ++ DedupOps.oracles ++ SimOps.oracles ++
      SampleOps.oracles ++ Multimodal.oracles ++ StatOps.oracles ++
      GraphOps.oracles ++
      graft.streaming.StreamingOps.oracles
}
