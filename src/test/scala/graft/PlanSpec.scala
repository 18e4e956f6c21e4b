package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions (the 100 TB checklist, SURVEY.md §4):
  * filters reach the parquet scan, projections prune columns, the right
  * join strategies get picked, top-k never globally sorts. These lock
  * the plans we want — a regression here is a scale bug even when
  * results stay correct.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = Spec.spark

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, Spec.sf001)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("filter_pred pushes predicates into the parquet scan") {
    val p = plan("filter_pred")
    assert(p.contains("PushedFilters:") && p.contains("p_retailprice"), p.take(2000))
  }

  test("scan_parquet prunes to the two referenced columns") {
    val p = plan("scan_parquet")
    assert(p.contains("l_quantity") && p.contains("l_orderkey"))
    assert(!p.contains("l_extendedprice"), "scan reads unused columns")
  }

  test("text_tfidf explodes the token stream exactly once") {
    // The df branch derives from the materialized tf aggregate, so the
    // corpus-sized explode+shuffle is paid once — the round-9 fix that
    // took sf3 from e(1→3)=1.15 to 0.47. A second Generate in this
    // plan means the duplicate-branch regression is back.
    val p = plan("text_tfidf")
    assert(!p.contains("Generate"),
      "token stream re-exploded downstream of the tf checkpoint")
  }

  test("join_broadcast is a BroadcastHashJoin") {
    assert(plan("join_broadcast").contains("BroadcastHashJoin"))
  }

  test("join_sortmerge pins SortMergeJoin") {
    assert(plan("join_sortmerge").contains("SortMergeJoin"))
  }

  test("join_shuffled_hash pins ShuffledHashJoin") {
    assert(plan("join_shuffled_hash").contains("ShuffledHashJoin"))
  }

  test("join_theta_nestedloop is a (bounded) BroadcastNestedLoopJoin") {
    assert(plan("join_theta_nestedloop").contains("BroadcastNestedLoopJoin"))
  }

  test("limit_topk is TakeOrderedAndProject, not global sort") {
    val p = plan("limit_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
  }

  test("dump→Postgres ETL frames scan the dump once: one json FileScan, no join") {
    // the English label/caption rides the statements explode as a
    // pass-through column; a second scan + id join is the regression
    Seq("entity" -> graft.wikidata.Etl.loadFrame(spark),
        "mediainfo" -> graft.wikidata.Mediainfo.loadFrame(spark)).foreach {
      case (family, df) =>
        val p = df.queryExecution.executedPlan.toString
        assert("FileScan json".r.findAllIn(p).size === 1, s"$family plan:\n$p")
        assert(!p.contains("Join"), s"$family plan:\n$p")
    }
  }

  test("dump→Postgres ETL frames parse only the statement fields they load") {
    // Spark prunes a JSON scan at the top level only: without the pruned
    // read schema every statement's snak trees are parsed and dropped
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
    Seq("entity" -> graft.wikidata.Etl.loadFrame(spark),
        "mediainfo" -> graft.wikidata.Mediainfo.loadFrame(spark)).foreach {
      case (family, df) =>
        val reads = df.queryExecution.sparkPlan.collect {
          case f: FileSourceScanExec if f.relation.fileFormat.isInstanceOf[JsonFileFormat] =>
            f.requiredSchema.catalogString
        }
        assert(reads.size === 1, s"$family: $reads")
        Seq("qualifiers", "references", "rank", "snaktype", "language").foreach { f =>
          assert(!reads.head.contains(s"$f:"), s"$family ReadSchema: ${reads.head}")
        }
        assert(reads.head.contains("datavalue:struct<value:string,type:string>"),
          s"$family ReadSchema: ${reads.head}")
    }
  }

  test("agg_groupby_pricing has partial+final HashAggregate around one shuffle") {
    val p = plan("agg_groupby_pricing")
    assert("HashAggregate".r.findAllIn(p).length >= 2)
    assert(p.contains("Exchange"))
  }

  test("whole-stage codegen covers the Q1 pipeline") {
    // run first so AQE finalizes, then look for `*(n)` codegen markers
    val df = SparkEntry.queries("agg_groupby_pricing")(spark, Spec.sf001)
    df.collect() // count() would plan a separate query; collect runs THIS plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), p.take(1500))
  }

  test("date-partitioned layout prunes partitions at plan time") {
    // The 100 TB layout (SURVEY §7.5): fact tables partitioned by date →
    // a date filter never touches irrelevant files.
    import org.apache.spark.sql.functions._
    val path = graft.sources.Sources.ensurePartitionedLineitem(spark, Spec.sf001)
    val df = spark.read.parquet(path).filter(col("ship_year") === 1996)
      .groupBy(col("l_returnflag")).count()
    val p = df.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("PartitionFilters") && p.contains("ship_year"), p.take(2000))
    assert(df.count() > 0)
  }

  test("join_fuzzy_levenshtein joins on the block key, never a cartesian") {
    // The blocking key is the whole point: the fuzzy match must plan as
    // an equi join on blk with levenshtein as a post-join filter, not
    // as an all-pairs nested loop over the name sets.
    val p = plan("join_fuzzy_levenshtein")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      p.take(2000))
  }

  test("win_ewma evaluates all ten lag terms in one Window operator") {
    // Ten lags share (partition, order) — a plan with >1 Window means
    // Spark split the chain into multiple per-partition sorts.
    val p = plan("win_ewma")
    val windows = "Window \\(\\d+\\)".r.findAllIn(p).length
    assert(windows == 1, s"$windows Window operators:\n" + p.take(2000))
  }

  test("subquery_not_in plans null-aware broadcast anti joins, no nested loop") {
    // NOT IN must become BroadcastHashJoin LeftAnti (isNullAwareAntiJoin)
    // — the O(n) single-column fast path; a BroadcastNestedLoopJoin here
    // would be the O(n·m) fallback Spark uses for multi-column NOT IN.
    val p = SparkEntry.queries("subquery_not_in")(spark, Spec.sf001)
      .queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti") && p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("NestedLoop"), "NOT IN fell back to a nested loop")
  }

  test("join_dpp injects dynamic partition pruning into the fact scan") {
    // The dim-side years are only known at runtime (filter is on
    // o_orderdate, not the join key), so the fact scan must carry a
    // DynamicPruningExpression on ship_year — the mechanism that skips
    // non-qualifying partition directories at 100 TB.
    val p = plan("join_dpp").toLowerCase
    assert(p.contains("dynamicpruning"), p.take(3000))
  }

  /** Every FileSourceScanExec in an EXECUTED plan. AQE hides
    * materialized stages behind QueryStageExec leaves, so a plain
    * children walk never reaches the scan — unwrap every wrapper kind.
    * Shared by the runtime-metric tests (DPP numFiles, layout
    * numOutputRows). */
  private def allScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val here = p match {
      case s: FileSourceScanExec => Seq(s)
      case _ => Seq.empty
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    here ++ kids.flatMap(allScans) ++ p.subqueries.flatMap(allScans)
  }

  test("join_dpp runtime metrics prove partitions were actually skipped") {
    // Beyond the plan shape: after execution the fact scan's numFiles
    // metric must cover the 2 qualifying ship_year directories, not all
    // 7 — the hard evidence that the dynamic filter reached the scan.
    val df = SparkEntry.queries("join_dpp")(spark, Spec.sf001)
    df.collect()
    val scans = allScans(df.queryExecution.executedPlan)
      .filter(_.output.exists(_.name == "ship_year"))
    assert(scans.nonEmpty, "partitioned fact scan not found in final plan")
    val filesRead = scans.head.metrics("numFiles").value
    // same derivation as the operator: ensurePartitionedLineitem is
    // idempotent and returns the materialized path
    val partPath = graft.sources.Sources
      .ensurePartitionedLineitem(spark, Spec.sf001)
    val allFiles = new java.io.File(partPath).listFiles()
      .filter(_.getName.startsWith("ship_year="))
      .flatMap(_.listFiles()).count(_.getName.endsWith(".parquet"))
    assert(filesRead > 0 && filesRead < allFiles,
      s"read $filesRead of $allFiles files — no runtime pruning happened")
  }

  test("win_interp_linear fuses both IGNORE NULLS passes into one Window") {
    // The prev- and next-actual lookups share (partition key, ordering);
    // only their frames differ, so Spark must evaluate all four window
    // expressions in a SINGLE Window operator over one sort — two
    // Window nodes would mean a second per-partition sort of the fact.
    // count tree nodes only — formatted explain repeats each node as a
    // "(n) Window" detail header below the tree
    val p = plan("win_interp_linear")
    val windows = "Window \\(\\d+\\)".r.findAllIn(p).length
    assert(windows == 1, s"$windows Window operators:\n" + p.take(3000))
  }

  test("bucketed tables join without a shuffle (co-located join)") {
    import org.apache.spark.sql.functions._
    spark.sql("DROP TABLE IF EXISTS graft_b_orders")
    spark.sql("DROP TABLE IF EXISTS graft_b_lineitem")
    // the in-memory catalog forgets tables across sessions but their
    // warehouse dirs persist — remove them or saveAsTable refuses
    Seq("graft_b_orders", "graft_b_lineitem").foreach { t =>
      val dir = new java.io.File(s"/tmp/graft_warehouse/$t")
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(dir)
      }
    }
    Tables.orders(spark, Spec.sf001)
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("graft_b_orders")
    Tables.lineitem(spark, Spec.sf001)
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("graft_b_lineitem")
    val joined = spark.table("graft_b_lineitem")
      .join(spark.table("graft_b_orders").hint("MERGE"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    joined.collect()
    val p = joined.queryExecution.executedPlan.toString
    // the JOIN itself must not shuffle either side — the only exchange
    // allowed is the one feeding the final aggregation
    val joinSection = p.substring(p.indexOf("SortMergeJoin"))
    assert(!joinSection.contains("Exchange hashpartitioning(l_orderkey")
      && !joinSection.contains("Exchange hashpartitioning(o_orderkey"), p.take(3000))
  }

  test("join_bucketed: bucket-aligned SMJ, zero exchange on either join side") {
    val df = SparkEntry.queries("join_bucketed")(spark, Spec.sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val joinSection = p.substring(p.indexOf("SortMergeJoin"))
    assert(!joinSection.contains("Exchange hashpartitioning(o_custkey")
      && !joinSection.contains("Exchange hashpartitioning(c_custkey"),
      p.take(3000))
    // both scans must actually be bucketed reads, not plain file scans
    assert(p.contains("SelectedBucketsCount"), p.take(3000))
  }

  test("pipeline ops keep their broadcast shapes (no corpus-side shuffle joins)") {
    // weight table / eval grams / delta index are the small sides — the
    // corpus must never shuffle on their account
    assert(plan("sample_domain_mix").contains("BroadcastHashJoin"))
    assert(plan("text_decontaminate").contains("BroadcastHashJoin"))
    assert(plan("dedup_incremental").contains("BroadcastHashJoin"))
  }

  test("minhash band joins are equi and hot-band capped (clique→star)") {
    // The LSH candidate joins must be band-equi (never a cross
    // product), and both must carry the hot-band cap: one shared
    // Window pass computes (bn, rep) and the cap literal gates the
    // clique arm. An uncapped plan is quadratic under mass
    // duplication — the 100 TB scale-killer the cap removes.
    for (k <- Seq("dedup_near_minhash", "dedup_incremental")) {
      val p = plan(k)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$k: non-equi candidate join")
      assert(p.contains("Window"), s"$k: hot-band annotation window missing")
      // anchor to the cap PREDICATE, not a bare "1000" (which any
      // stray literal/statistic could satisfy — round-15 advice):
      // near_minhash splits into a cold arm (bn <= cap) and a hot arm
      // (bn > cap ∧ doc ≠ rep); incremental folds both into one
      // base-side filter (bn <= cap) OR (doc = rep). Check the exact
      // shape each key plans.
      assert(p.contains("<= 1000"), s"$k: cold-arm cap filter missing")
      if (k == "dedup_near_minhash")
        assert(p.contains("> 1000"), s"$k: hot-arm cap filter missing")
      else
        assert(p.contains("= rep#"), s"$k: hot-band rep retention missing")
    }
  }

  test("phash band joins are equi and hot-band capped (clique→star)") {
    // Round-16: the pHash LSH self-join gets the same cap discipline as
    // the minhash family — the last uncapped LSH self-join in the repo
    // (r15 verdict weak marks 1-2). multimodal_dedup composes the same
    // candidate plan through its anti-join, so both keys are checked.
    for (k <- Seq("multimodal_phash", "multimodal_dedup")) {
      val p = plan(k)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$k: non-equi candidate join")
      assert(p.contains("Window"), s"$k: hot-band annotation window missing")
      assert(p.contains("<= 1000"), s"$k: cold-arm cap filter missing")
      assert(p.contains("> 1000"), s"$k: hot-arm cap filter missing")
    }
  }

  test("dot_f resolves through GraftExtensions without manual registration") {
    // a fresh session sees only what the extensions inject: every
    // native function must resolve there with no per-query register call
    val ns = spark.newSession()
    import ns.implicits._
    val r = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
      .selectExpr("dot_f(a, b) AS d").head().getDouble(0)
    assert(r === 11.0)
    val missing = Seq("dot_f", "dotfx", "l2fx", "heavy_hitters", "topk_by",
      "kmv_bottomk", "bottomk_distinct_by", "simhash64")
      .filterNot(ns.catalog.functionExists)
    assert(missing.isEmpty, s"not injected by GraftExtensions: $missing")
  }

  test("join_bloom_pruned injects might_contain on the fact side") {
    val p = plan("join_bloom_pruned")
    assert(p.contains("might_contain"), p.take(3000))
    assert(p.contains("SortMergeJoin"), "bloom demo must stay a shuffle join")
  }

  test("dot_f rejects wrong arity with an analysis error, not an index crash") {
    import spark.implicits._
    val df = Seq((Array(1.0f), Array(2.0f))).toDF("a", "b")
    val e = intercept[Exception] { df.selectExpr("dot_f(a)").head() }
    assert(e.getMessage.contains("dot_f") &&
      !e.isInstanceOf[IndexOutOfBoundsException], e.getMessage.take(300))
    val e3 = intercept[Exception] { df.selectExpr("dot_f(a, b, a)").head() }
    assert(e3.getMessage.contains("dot_f"))
  }

  test("sim_ann_lsh per-row path: no hash calls, no interpreted HOFs") {
    // The signature must be plane-literal dot_f kernels — a plan that
    // recomputes hashes or runs lambda HOFs per row is the scale bug
    // this key had in round 1.
    val p = plan("sim_ann_lsh")
    assert(!p.contains("xxhash64"), "plane weights leaked into the per-row plan")
    assert(!p.toLowerCase.contains("lambdafunction"), "interpreted HOF in LSH path")
    assert(p.contains("dot_f"), p.take(1500))
  }

  test("sim_ann_ivf centroid count is fixed, independent of table size") {
    import org.apache.spark.sql.functions._
    // the quantizer inside sim_ann_ivf: k smallest md5(vec_id)
    def kCents(df: DataFrame): Long = df
      .select(col("vec_id"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(64).count()
    val small = Tables.embeddings(spark, Spec.sf001)
    assert(kCents(small) === math.min(64L, small.count()))
    assert(kCents(small.unionAll(small.withColumn("vec_id", col("vec_id") + 1000000L)))
      === 64L)
  }

  test("sample_weighted selects via TakeOrderedAndProject, not a global sort") {
    // The A-Res selection must be a per-partition heap + driver merge of
    // k rows; a global Sort before the limit would single-thread a
    // 100 TB corpus through one partition.
    val p = plan("sample_weighted")
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
  }

  test("win_sessionize runs lag + running-sum in one window exchange") {
    // Both window passes share the (user_id → sec_l, event_id) spec, so
    // the plan must contain exactly one user_id hash exchange feeding
    // the window stage(s) — a second sort+shuffle would double the cost
    // of sessionizing a 100 TB event log. (The rollup reuses the same
    // partitioning; the final orderBy is the presentation sort.)
    val p = plan("win_sessionize")
    val exchanges = "hashpartitioning\\(".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges\n" + p.take(2000))
  }

  test("join_existence decorrelates to one semi and one anti join") {
    // EXISTS / NOT EXISTS must become joins — a plan that re-executes
    // the subquery per row would be O(N·M) at scale.
    val p = plan("join_existence")
    assert(p.contains("Semi"), p.take(2000))
    assert(p.contains("Anti"), p.take(2000))
  }

  test("unpivot_long expands AFTER aggregation, not on the fact table") {
    // Expand must sit above the HashAggregate pair: 25 nation rows × 3
    // metrics, never customer-table rows × 3.
    val p = plan("unpivot_long")
    val expand = p.indexOf("Expand")
    val agg = p.indexOf("HashAggregate")
    assert(expand >= 0 && agg >= 0, p.take(1500))
    // formatted explain lists operators leaf-last; Expand printed before
    // the aggregate in the tree = applied after it
    assert(expand < agg, "Expand runs below (before) the aggregate:\n" + p.take(2000))
  }

  test("agg_filtered computes all conditional aggregates in one exchange") {
    val p = plan("agg_filtered")
    val exchanges = "hashpartitioning\\(".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges\n" + p.take(2000))
  }

  test("join_range_bucketed plans a hash join on bucket, never a nested loop") {
    // The key exists to prove pure-interval containment does NOT become
    // BroadcastNestedLoopJoin: bucketization turns it into an equi join.
    val p = plan("join_range_bucketed")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("join_interval_overlap plans equi joins only, never a nested loop") {
    val p = plan("join_interval_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
  }

  test("dot_f expression participates in codegen (no CodegenFallback wrapper)") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b").selectExpr("dot_f(a, b) AS d")
    assert(df.head().getDouble(0) === 32.0)
    // interpreted path agrees with codegen path
    val hof = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b")
      .selectExpr("aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v) AS d")
    assert(hof.head().getDouble(0) === 32.0)
    // null safety
    val n = Seq((null.asInstanceOf[Array[Float]], Array(1.0f)))
      .toDF("a", "b").selectExpr("dot_f(a, b) AS d")
    assert(n.head().isNullAt(0))
  }

  test("l2fx: exact fixed-point L2, resolves via extensions, null-safe") {
    import spark.implicits._
    // (1-4)² + (2-5)² + (3-6)² = 27 exactly → 27·2⁴⁰ (integers are
    // exact in double, floor is identity)
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b").selectExpr("l2fx(a, b) AS d")
    assert(df.head().getLong(0) === 27L * (1L << 40))
    // agrees with the exploded floor-per-term formulation (the oracle's
    // shape) on non-integer values
    val v = Seq((Array(0.25f, -1.5f), Array(1.125f, 0.75f)))
      .toDF("a", "b")
    val viaExpr = v.selectExpr("l2fx(a, b) AS d").head().getLong(0)
    val viaHof = v.selectExpr(
      """aggregate(zip_with(a, b, (x, y) ->
           CAST(floor((CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) *
                      (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) *
                      1099511627776.0) AS BIGINT)),
         CAST(0 AS BIGINT), (acc, t) -> acc + t) AS d""")
      .head().getLong(0)
    assert(viaExpr === viaHof)
    val n = Seq((null.asInstanceOf[Array[Float]], Array(1.0f)))
      .toDF("a", "b").selectExpr("l2fx(a, b) AS d")
    assert(n.head().isNullAt(0))
  }

  /** Rows the parquet scan actually DECODED (its runtime numOutputRows
    * metric) — less than the table size iff row-group min/max stats
    * pruned something. */
  private def decodedRows(df: DataFrame): Long = {
    df.collect()
    val scans = allScans(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, "no parquet scan in final plan")
    scans.map(_.metrics("numOutputRows").value).sum
  }

  test("sorted layout: row-group stats prune the selective partkey scan") {
    import org.apache.spark.sql.functions.col
    val path = graft.sources.Sources.ensureSortedLineitem(spark, Spec.sf001)
    val total = spark.read.parquet(path).count()
    val dec = decodedRows(
      spark.read.parquet(path).filter(col("l_partkey").between(101, 150)))
    // the range is ~25% of rows; clustered files bound decode at the
    // qualifying groups plus boundary spill — far under a full decode
    assert(dec > 0 && dec <= total / 2,
      s"scan decoded $dec of $total rows — min/max stats pruned nothing")
  }

  test("kmv_bottomk partial-aggregates map-side (≤k longs per partition cross the shuffle)") {
    // The KMV sketch's whole scale argument is the partial/final split:
    // the plan must show TWO ObjectHashAggregate passes around an
    // Exchange (partial_kmv_bottomk map-side), like any sum — never a
    // single post-shuffle aggregate of raw rows.
    val p = plan("agg_approx_distinct")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2, p.take(2000))
    assert(p.contains("partial_kmv_bottomk"), p.take(2000))
    assert(p.contains("Exchange"))
  }

  test("simhashEdges: no global sort or range shuffle, one native signature aggregate") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object Aqe extends AdaptiveSparkPlanHelper
    val docs = Tables.documents(spark, Spec.sf001)
    // the components loop's edge feed: partition-local sorts (the group
    // window, sort-merge joins) only, nothing orders the edge list
    val edges = operators.DedupOps.simhashEdges(docs).queryExecution.executedPlan
    assert(Aqe.collect(edges) { case x: SortExec if x.global => x }.isEmpty,
      edges.toString.take(3000))
    assert(Aqe.collect(edges) {
      case x: ShuffleExchangeExec
          if x.outputPartitioning.isInstanceOf[RangePartitioning] => x
    }.isEmpty, edges.toString.take(3000))
    // the signature is one simhash64 per aggregate node (partial and
    // final), not 64 sum(CASE WHEN …) buffers
    val sigs = operators.DedupOps.simhashSigs(docs).queryExecution.executedPlan
    val fns = Aqe.collect(sigs) {
      case a: BaseAggregateExec if a.aggregateExpressions.nonEmpty =>
        a.aggregateExpressions.map(_.aggregateFunction.prettyName)
    }
    assert(fns.nonEmpty && fns.forall(_ == Seq("simhash64")), fns)
    // dedup_simhash's ordered output still ends in the global sort
    val pairs = SparkEntry.queries("dedup_simhash")(spark, Spec.sf001)
      .queryExecution.executedPlan
    val root = pairs match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(root match { case x: SortExec => x.global; case _ => false },
      root.toString.take(2000))
  }

  test("dedup_semantic joins pairs on the cluster key — no cartesian, compact arrays") {
    val p = plan("dedup_semantic")
    assert(!p.contains("CartesianProduct"),
      "within-cluster pairing must be a cluster-keyed equi-join")
    // pair scoring runs on compact arrays via the dotfx kernel, not a
    // position explosion through the join
    assert(p.contains("dotfx"), p.take(2000))
    assert(!p.toLowerCase.contains("posexplode"),
      "pair scoring must not explode positions through the shuffle")
  }

  test("dotfx expression participates in codegen (no CodegenFallback wrapper)") {
    import org.apache.spark.sql.functions.{col, expr}
    val df = Tables.embeddings(spark, Spec.sf001)
      .withColumn("d", expr("dotfx(embedding, embedding)"))
      .filter(col("d") >= 0L)
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CodegenFallback"), exec.take(1500))
    // order-independence: same value under different partitionings
    val a = df.agg(org.apache.spark.sql.functions.sum("d")).head().getLong(0)
    val b = Tables.embeddings(spark, Spec.sf001).repartition(7)
      .withColumn("d", expr("dotfx(embedding, embedding)"))
      .agg(org.apache.spark.sql.functions.sum("d")).head().getLong(0)
    assert(a === b, "dotfx must be partitioning-independent")
  }

  test("z-order layout: secondary-dimension filter prunes; plain sort cannot") {
    import org.apache.spark.sql.functions.col
    val zp = graft.sources.Sources.ensureZorderLineitem(spark, Spec.sf001)
    val sp = graft.sources.Sources.ensureSortedLineitem(spark, Spec.sf001)
    // Predicate chosen inside ONE side of the curve's top suppkey bit:
    // sf0.001 has 10 distinct suppkeys, so the 8-bit grid splits the
    // domain between 4 and 5 — a range straddling that boundary (e.g.
    // [2, 5]) touches both z-halves and degrades to leading-dimension
    // pruning only, which is inherent to any space-filling curve, not a
    // layout bug. [2, 4] stays in the lower half and must prune hard.
    val zTot = spark.read.parquet(zp).count()
    val zDec = decodedRows(
      spark.read.parquet(zp).filter(col("l_suppkey").between(2, 4)))
    val sDec = decodedRows(
      spark.read.parquet(sp).filter(col("l_suppkey").between(2, 4)))
    // partkey-sorted files all span the full suppkey range → (near-)no
    // pruning; allow a small-tail row group to dodge the knife edge
    assert(sDec >= (zTot * 0.95).toLong,
      s"partkey-sorted layout unexpectedly pruned a suppkey filter ($sDec)")
    // z-ordered files bound BOTH dimensions → the same filter skips
    // every row group whose suppkey rectangle misses [2, 5]
    assert(zDec < sDec && zDec <= (zTot * 0.85).toLong,
      s"z-order decoded $zDec of $zTot — no secondary-dimension pruning")
  }

  test("multimodal_phash pairs via the band equi-join, never a cartesian") {
    val p = plan("multimodal_phash")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "band candidates must come from a (band, key) equi-join")
    // Hamming filter runs on candidates only — after the join, not as
    // a join condition that would force a nested loop
    assert(p.contains("bit_count"), p.take(2000))
  }

  test("graph_lpa rounds partial-aggregate the label counts map-side") {
    // inspect the composed (checkpoint-free) plan — the declared key
    // localCheckpoints per round, which truncates what explain shows
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("a", "b")
    val u = e.select(col("a").as("src"), col("b").as("dst"))
      .union(e.select(col("b").as("src"), col("a").as("dst")))
    val init = u.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    val p = operators.GraphOps.lpaOnUnd(u, init, rounds = 1,
        checkpoint = false)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"))
    // the (dst, label) count must split partial/final around the
    // exchange — the O(m)-shuffle-bytes argument
    assert(p.contains("partial_count") ||
      "HashAggregate".r.findAllIn(p).length >= 2, p.take(2000))
  }

  test("agg_assoc_rules: pairs generate map-side from baskets, counts split partial") {
    val p = plan("agg_assoc_rules")
    assert(!p.contains("CartesianProduct"),
      "pair generation must come from each order's own basket, never cross")
    // round-10 shape: per-order item sets collect in ONE order-keyed
    // aggregate, pairs explode from the basket array (Generate) — the
    // distinct + ok-keyed self-join is gone. A SortMergeJoin on the
    // basket-sized frames here means it's back.
    assert(p.contains("Generate"), "pairs must explode map-side")
    assert(p.contains("partial_count") ||
      "HashAggregate".r.findAllIn(p).length >= 2, p.take(2000))
  }

  test("agg_multireg: one shuffle, moments partial-aggregate map-side") {
    val p = plan("agg_multireg")
    // all nine moment sums ride one partial/final aggregate pair
    // around a single exchange — one pass over the fact table
    assert("\\+- Exchange".r.findAllIn(p).length === 1, p.take(1500))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p.take(1500))
  }

  test("sim_nearest_centroid: centroids broadcast to the classify pass") {
    val p = plan("sim_nearest_centroid")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      "the k centroids must broadcast, not shuffle the corpus")
    assert(!p.contains("SortMergeJoin"),
      "no corpus-sized shuffle join in the classify pass")
  }

  test("text_substring_dup: shingles generate map-side — no window, no cartesian") {
    val p = plan("text_substring_dup")
    assert(!p.contains("Window"),
      "shingle extraction must come from the row's own text, not a window")
    assert(!p.contains("CartesianProduct"))
    assert(p.toLowerCase.contains("generate"), p.take(1500))
  }

  test("graph_bipartite_project: pairs generate map-side from the bounded aggregate — no self-join") {
    val p = plan("graph_bipartite_project")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "projection pairs must never cartesian")
    // round-10 shape, round-17 split: the capped array is materialized
    // once (Ckpt in bipartiteCapped — three consumers shared one
    // aggregate chain that the planner otherwise ran 3×), so the
    // declared plan sees it as an ExistingRDD scan; the ≤190
    // pairs/customer still explode from the capped array (Generate).
    assert(p.contains("Generate"), "pairs must explode map-side")
    assert(!p.contains("Window"),
      "rank-window cap regressed — ships every distinct (c,p) through a per-group sort")
    // the cap itself is pinned on the pre-checkpoint subplan: the
    // mergeable bottomk_distinct_by aggregate (ObjectHashAggregate
    // with partial map-side combine) — the distinct() + rank window +
    // c-keyed self-join must stay gone.
    val cap = operators.GraphOps
      .bipartiteCapped(spark, Spec.sf001, checkpoint = false)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(cap.contains("bottomk_distinct_by"),
      "cap must be the mergeable bounded aggregate")
    assert(!cap.contains("Window") && !cap.contains("CartesianProduct"),
      "capped subplan must stay window/cartesian-free")
  }

  test("aggregate-cap keys carry no rank window: caps/argmax fold map-side") {
    // Round-10 conversions: keep-first, per-group caps, and argmax all
    // ride mergeable aggregates (min_by/max_by/bottomk_distinct_by)
    // whose partial pass folds duplicates map-side. A Window node in
    // any of these plans means the per-group reduce-side sort is back
    // (viral-duplicate / giant-stratum / probes×corpus shapes).
    for (k <- Seq("dedup_exact", "dedup_exact_keepbest", "text_line_dedup",
        "text_langid", "sample_stratified", "sample_negative",
        "sim_cosine_topk", "sim_knn_per_label", "agg_assoc_rules",
        "graph_bipartite_project",
        "win_dedup_latest_native")) // r11: keep-latest max_by twin
      assert(!plan(k).contains("Window"), s"$k regressed to a rank window")
  }

  test("win_attribution: candidate join is (user, day-bucket) equi — never cartesian") {
    val p = plan("win_attribution")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "attribution candidates must come from the bucketed equi-join")
  }

  test("graph_random_walk: step is an equi-join on (cur,pick)=(src,idx), frontier not force-broadcast") {
    val p = plan("graph_random_walk")
    // each step must stay a plain equi-join so the planner can pick a
    // shuffle strategy when the frontier is walks-sized (10⁹ walks);
    // the adjacency probe join keys are (cur, pick) = (src, idx)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "walk step degenerated to a non-equi join")
    // the logical plan carries no forced broadcast of the frontier:
    // ResolvedHint/UnresolvedHint would show in the analyzed plan
    val logical = SparkEntry.queries("graph_random_walk")(spark, Spec.sf001)
      .queryExecution.analyzed.toString
    assert(!logical.contains("ResolvedHint"),
      "frontier carries a forced broadcast hint — the 10⁹-walk shape must leave strategy choice to AQE")
  }

  test("sim_pca_power: covariance is generator + partial agg, never a corpus self-join") {
    val p = plan("sim_pca_power")
    // the d(d+1)/2 pair expansion must come from chained generators on
    // each row's own array — a vec_id self-join would shuffle raw
    // vectors twice and re-materialize the corpus
    assert(p.toLowerCase.contains("generate"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
    // the (i, j) cell sums split partial/final around an exchange, so
    // at most d(d+1)/2 longs per partition cross the one data shuffle
    assert(p.contains("partial_sum") ||
      "HashAggregate".r.findAllIn(p).length >= 2, p.take(2000))
  }
}
