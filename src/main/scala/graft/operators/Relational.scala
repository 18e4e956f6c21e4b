package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Det, Tables}
import Det._

/** Relational core (SURVEY.md §2.2 filters/projections, §2.3 joins,
  * §2.4 aggregations, §2.6 sort/limit, §2.7 set ops).
  *
  * Every query is expressed declaratively over DataFrames so Catalyst
  * applies predicate pushdown / column pruning / join selection; hints
  * appear only where a key deliberately pins a physical strategy.
  * Determinism discipline per SURVEY.md §7.4: exact decimal aggregation
  * (Det.sumMoney), fully-ordered output with unique tiebreaker chains.
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // ---- §2.1 scan ----
    "scan_parquet" -> ((s, d) => {
      // Projection narrows the parquet scan to 2 columns (ReadSchema);
      // count/sum fold map-side. At 100 TB this is a pure columnar scan.
      Tables.lineitem(s, d).agg(
        count(lit(1)).as("n_rows"),
        sumMoney(col("l_quantity")).as("sum_qty"),
        countDistinct(col("l_orderkey")).as("n_orders"))
    }),

    // ---- §2.2 projection / filter ----
    "project_arith" -> ((s, d) => {
      // Per-row double arithmetic is deterministic cross-engine (same
      // IEEE ops, same order) — only aggregates need the decimal path.
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax"))).as("charge"))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "revenue", "charge")
    }),

    "filter_pred" -> ((s, d) => {
      // Compound AND/OR + IN + BETWEEN + LIKE; all sargable → pushed to
      // the parquet scan as PushedFilters.
      Tables.part(s, d).filter(
        (col("p_size").between(10, 30)
          && col("p_type").isin("ECONOMY", "PROMO")
          && col("p_name").like("%red%"))
          || (col("p_retailprice") > 990.0 && col("p_brand").like("Brand#1%")))
        .orderBy("p_partkey")
    }),

    "filter_null_semantics" -> ((s, d) => {
      // Three-valued logic: nulls are synthesized via nullif so the
      // query is meaningful even on a null-free fixture.
      val st = expr("nullif(o_orderstatus, 'O')")
      Tables.orders(s, d).select(
        col("o_orderkey"),
        st.as("st"),
        st.isNull.as("st_null"),
        coalesce(st, lit("NONE")).as("st_coal"),
        (st <=> lit("F")).as("st_is_f"))
        .orderBy("o_orderkey")
    }),

    // ---- §2.3 joins ----
    "join_broadcast" -> ((s, d) => {
      // part is the small dim → explicit broadcast: no shuffle of the
      // fact side; at 100 TB this is THE join shape for dim enrichment.
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(sumMoney(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("p_brand")
    }),

    "join_sortmerge" -> ((s, d) => {
      // Large-large equi-join pinned to SortMergeJoin: both sides shuffle
      // on the key once; robust (spillable) at any scale.
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d).hint("MERGE"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sumMoney(col("l_quantity")).as("sum_qty"))
        .orderBy("o_orderpriority")
    }),

    "join_bucketed" -> ((s, d) => {
      // Bucketed co-located join: both sides are pre-bucketed on the
      // join key into the SAME bucket count, so the join reads
      // bucket-aligned files with ZERO Exchange on either side
      // (PlanSpec locks this). This is the 100 TB warehouse shape: pay
      // one write-time shuffle, then every downstream join/agg on that
      // key is shuffle-free forever. The bucketed twins are written
      // once per session per scale dir (names and paths tagged by the
      // dir so scale factors never alias); re-invocations — Bench's 3
      // passes, every spec that touches the key — reuse the catalog
      // entry instead of paying the rewrite. Production would maintain
      // them as the canonical stored tables.
      val tag = d.replaceAll("[^A-Za-z0-9]", "_")
      def ensureBucketed(tbl: String, df: => DataFrame, key: String,
                         path: String): Unit =
        if (!s.catalog.tableExists(tbl))
          df.write.format("parquet")
            .bucketBy(8, key).sortBy(key)
            .option("path", path).mode("overwrite").saveAsTable(tbl)
      ensureBucketed(s"g_orders_bkt_$tag", Tables.orders(s, d),
        "o_custkey", graft.Stage.p(s, s"graft_bucketed/$tag/orders"))
      ensureBucketed(s"g_customer_bkt_$tag", Tables.customer(s, d),
        "c_custkey", graft.Stage.p(s, s"graft_bucketed/$tag/customer"))
      // MERGE hint: at fixture scale AQE would broadcast the customer
      // side, which hides the property this key exists to prove (and
      // PlanSpec locks) — bucket-aligned SMJ with no join-side shuffle.
      // At 100 TB both sides exceed broadcast anyway; SMJ is the plan.
      s.table(s"g_orders_bkt_$tag")
        .join(s.table(s"g_customer_bkt_$tag").hint("MERGE"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sumMoney(col("o_totalprice")).as("total"))
        .orderBy("c_mktsegment")
    }),

    "join_dpp" -> ((s, d) => {
      // Dynamic partition pruning: the fact side is the date-partitioned
      // lineitem layout; the dim side's qualifying years are only known
      // at RUNTIME (distinct years of 1996–97 urgent orders), yet the
      // fact scan must still skip every non-qualifying ship_year
      // directory. The dim filter is on o_orderdate — NOT the join
      // column — so constraint propagation can't turn it into a static
      // partition filter; Catalyst instead inserts a
      // DynamicPruningExpression on the fact's partition column, fed by
      // the broadcast of the dim side. Here that prunes 5 of 7 year
      // directories at runtime; at 100 TB it's the difference between
      // scanning the table and scanning the qualifying slice (PlanSpec
      // locks the pruning subquery into the scan). No hint needed: the
      // dim aggregates to a handful of rows and broadcasts.
      val fact = s.read.parquet(
        graft.sources.Sources.ensurePartitionedLineitem(s, d))
      val dim = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1998-01-01") &&
          col("o_orderpriority") === "1-URGENT")
        .select(year(col("o_orderdate")).as("y")).distinct()
      fact.join(dim, col("ship_year") === col("y"))
        .groupBy(col("ship_year").cast(IntegerType).as("ship_year"))
        .agg(count(lit(1)).as("n"),
          sumMoney(col("l_extendedprice")).as("revenue"))
        .orderBy("ship_year")
    }),

    "join_shuffled_hash" -> ((s, d) => {
      // Same semantics, pinned to ShuffledHashJoin (no sort; build side
      // must fit per-partition — the skew-sensitive but faster option).
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d).hint("SHUFFLE_HASH"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sumMoney(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy("o_orderstatus")
    }),

    "join_star_5way" -> ((s, d) => {
      // TPC-H Q5 shape: one big fact, chain of shrinking dims. nation/
      // region auto-broadcast (tiny); AQE may demote the rest at runtime.
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(sumMoney(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    "join_left_outer" -> ((s, d) => {
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          money(coalesce(sum(dec(col("o_totalprice"))), lit(0).cast(Money))).as("total"))
        .orderBy("c_custkey")
    }),

    "join_full_outer" -> ((s, d) => {
      // Both sides have keys the other lacks: high-balance customers with
      // no orders vs ordering customers below the balance cut.
      val hi = Tables.customer(s, d).filter(col("c_acctbal") > 7000)
        .select(col("c_custkey"), col("c_acctbal"))
      val oc = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
      hi.join(oc, col("c_custkey") === col("o_custkey"), "full")
        .select(coalesce(col("c_custkey"), col("o_custkey")).as("k"),
          col("c_acctbal"), col("n_orders"))
        .orderBy("k")
    }),

    "join_semi" -> ((s, d) => {
      // EXISTS: customers having ≥1 open-ended ('P') order. Semi-join
      // never duplicates the left side — no fanout at scale.
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    }),

    "join_anti" -> ((s, d) => {
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    }),

    "join_theta_nestedloop" -> ((s, d) => {
      // Inequality-only condition → BroadcastNestedLoopJoin. Both inputs
      // are deliberately pre-filtered samples: NLJ is O(n·m) and must
      // only ever run on bounded sides (the 100 TB rule).
      val p = Tables.part(s, d).filter(col("p_partkey") < 100)
        .select(col("p_partkey"), col("p_retailprice"))
      val sup = Tables.supplier(s, d).filter(col("s_suppkey") < 50)
        .select(col("s_suppkey"), col("s_acctbal"))
      p.join(sup, col("s_acctbal") > col("p_retailprice")
        && col("s_acctbal") <= col("p_retailprice") * 3.0)
        .select(col("p_partkey"), col("s_suppkey"))
        .orderBy("p_partkey", "s_suppkey")
    }),

    "join_range_interval" -> ((s, d) => {
      // Equi (custkey) + range (30-day window) self-join: the equi key
      // keeps it a hash/merge join with the range as a join filter —
      // never a nested loop, so it scales with per-key density only.
      val o = Tables.orders(s, d)
      val a = o.select(col("o_custkey").as("custkey"),
        col("o_orderkey").as("k1"), col("o_orderdate").as("d1"))
      val b = o.select(col("o_custkey").as("custkey2"),
        col("o_orderkey").as("k2"), col("o_orderdate").as("d2"))
      a.join(b, col("custkey") === col("custkey2")
        && col("d2") >= col("d1")
        && col("d2") < col("d1") + expr("INTERVAL 30 DAY")
        && col("k1") =!= col("k2"))
        .groupBy(col("custkey"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("custkey")
    }),

    "join_range_bucketed" -> ((s, d) => {
      // PURE interval containment — no equi key at all, the case
      // join_range_interval can't cover (Spark would plan a
      // BroadcastNestedLoopJoin: every point × every interval). The
      // scale shape is bucketization: each interval EXPLODES into the
      // coarse 7-day buckets it overlaps (intervals are 14 days → ≤3
      // buckets each), each point maps to exactly ONE bucket, and the
      // candidate join becomes a plain equi-join on bucket followed by
      // the exact containment filter. A point meets an interval in at
      // most one bucket (its own), so no post-join dedup is needed.
      // Here the interval side is tiny → broadcast hash join, zero
      // shuffle on the fact table; with a LARGE interval table the same
      // plan shuffles both sides on bucket — either way cost scales
      // with bucket co-occupancy, never |points|×|intervals|.
      val iv = Tables.orders(s, d)
        .filter(col("o_orderkey") % 997 === 0)
        .select(col("o_orderkey").as("win_id"), col("o_orderdate").as("ws"),
          date_add(col("o_orderdate"), 14).as("we")) // exclusive end
        .withColumn("bucket", explode(sequence(
          expr("datediff(ws, DATE '1992-01-01') div 7"),
          expr("datediff(date_sub(we, 1), DATE '1992-01-01') div 7"))))
      val pts = Tables.lineitem(s, d)
        .select(col("l_shipdate"),
          expr("datediff(l_shipdate, DATE '1992-01-01') div 7").as("bucket"))
      broadcast(iv).join(pts, "bucket")
        .filter(col("l_shipdate") >= col("ws") && col("l_shipdate") < col("we"))
        .groupBy(col("win_id"), col("ws"))
        .agg(count(lit(1)).as("n_shipped"))
        .orderBy("win_id")
    }),

    "join_interval_overlap" -> ((s, d) => {
      // Interval×interval OVERLAP join (both sides are ranges — the
      // genomics/session-overlap case), again with no equi key. Same
      // bucketization as join_range_bucketed, but BOTH sides explode
      // into their covered 7-day buckets, so an overlapping pair can
      // co-occur in several buckets. Exactly-once emission comes from
      // bucket OWNERSHIP instead of a post-join dedup shuffle: two
      // intervals overlap iff both contain max(s1, s2), so the pair is
      // counted only in THAT point's bucket — a codegen'd filter, no
      // distinct. Cost scales with per-bucket co-occupancy; intervals
      // spanning b buckets appear b times (b ≤ 4 here), the standard
      // space/shuffle trade.
      val o = Tables.orders(s, d)
      def side(mod: Int, days: Int, p: String) = o
        .filter(col("o_custkey") % mod === 0)
        .select(col("o_orderkey").as(s"${p}_id"),
          col("o_orderdate").as(s"s$p"),
          expr(s"o_orderdate + INTERVAL $days DAY").as(s"e$p"))
        .withColumn("bucket", explode(sequence(
          expr(s"datediff(s$p, DATE '1992-01-01') div 7"),
          expr(s"datediff(e$p - INTERVAL 1 DAY, DATE '1992-01-01') div 7"))))
      side(31, 21, "a").join(side(37, 14, "b"), "bucket")
        .filter(col("sa") < col("eb") && col("sb") < col("ea")
          && col("bucket") ===
             expr("datediff(greatest(sa, sb), DATE '1992-01-01') div 7"))
        .groupBy(col("a_id"))
        .agg(count(lit(1)).as("n_overlaps"))
        .orderBy("a_id")
    }),

    "join_asof_native" -> ((s, d) => {
      // Same as-of semantics as join_asof, but through the NATIVE
      // operator (graft.plans.AsOfJoin: logical node → strategy →
      // streaming sort-merge SparkPlan). One buffered right row per
      // partition instead of the window idiom's full candidate fanout;
      // the shared oracle proves the two implementations agree.
      val ev = Tables.events(s, d).withColumn("secl", epochS(col("ts")))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("secl").as("p_sec"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("secl").as("c_sec"))
      graft.plans.AsOf.join(p, c,
        p("user_id"), c("c_user"), p("p_sec"), c("c_sec"), c("click_id"))
        .select(col("user_id"), col("purchase_id"), col("click_id"))
        .orderBy("user_id", "purchase_id")
    }),

    "join_skew_salted" -> ((s, d) => {
      // Salt-ONLY-hot-keys recipe (SURVEY §7.5): a cheap deterministic
      // ~1% row sample finds the heaviest join keys; only rows carrying
      // those keys are salted (fact salt in [0,8); dim replicated ×8 for
      // hot keys alone) while everything else takes the plain join, and
      // the two results union before the aggregate. vs salting
      // everything this avoids ×8-duplicating the whole dim and
      // octupling shuffle volume for cold keys — the dominant cost at
      // 100 TB. Which keys land on the hot list only affects ROUTING,
      // not results (both paths compute the same join), so the oracle
      // stays the plain-join SQL. (AQE's OptimizeSkewedJoin is the
      // automatic runtime variant; this is the plan-time hand-tool.)
      // UNMEASURED against AQE: SkewProbe's 40%-skewed twin (commit
      // 9503c2d, recoverable from 8993cd5) timed AQE's runtime split
      // ahead of this recipe at sf1 and sf3, but both of that twin's hot
      // keys missed the row sample below (SCALE.md, join_skew_salted
      // row), so the recipe ran its probe and routing without salting
      // any hot key. OperatorSpec pins the twin's result equality only.
      // Where AQE cannot split (skewed agg keys, order-constrained SMJ,
      // known hot lists) this shape is the one tool either way.
      // The sample hashes (l_orderkey, l_linenumber), so it samples rows
      // only while that pair is unique, as it is in TPC-H lineitem.
      val salts = 8
      val fact = Tables.lineitem(s, d)
      val dim = Tables.orders(s, d)
      // deterministic pseudo-sample of rows (hash-mod, fixed literal
      // seed) → per-key counts → top-16 keys. Tiny by construction.
      val hot = fact
        .filter(pmod(xxhash64(lit("skew-probe"), col("l_orderkey"),
          col("l_linenumber")), lit(100L)) === 0L)
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("kn"))
        .orderBy(col("kn").desc, col("l_orderkey")).limit(16)
        .select(col("l_orderkey").as("hot_key"))
      val factHot = fact.join(broadcast(hot),
        col("l_orderkey") === col("hot_key"), "left_semi")
        .withColumn("salt", pmod(xxhash64(col("l_orderkey"),
          col("l_linenumber")), lit(salts.toLong)))
      val factCold = fact.join(broadcast(hot),
        col("l_orderkey") === col("hot_key"), "left_anti")
      val dimHot = dim.join(broadcast(hot),
        col("o_orderkey") === col("hot_key"), "left_semi")
        .withColumn("salt", explode(sequence(lit(0L), lit(salts - 1L))))
      val hotSide = factHot.join(dimHot,
        col("l_orderkey") === col("o_orderkey")
          && factHot("salt") === dimHot("salt"))
        .select(col("o_orderpriority"), col("l_quantity"))
      val coldSide = factCold.join(dim,
        col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"), col("l_quantity"))
      hotSide.unionAll(coldSide)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sumMoney(col("l_quantity")).as("sum_qty"))
        .orderBy("o_orderpriority")
    }),

    "join_bloom_pruned" -> ((s, d) => {
      // Runtime bloom-filter pruning (Catalyst's InjectRuntimeFilter):
      // the selective dim filter (URGENT orders) builds a bloom filter
      // over its join keys as a subquery; the FACT side applies
      // might_contain() BEFORE its shuffle, cutting shuffled fact bytes
      // by roughly the dim selectivity with no manual semi-join. False
      // positives only under-prune — the join stays exact, so the
      // oracle is the plain-join SQL.
      //
      // Runs in an ISOLATED child session (shared SparkContext,
      // private conf — the per-workload-tuning pattern): injection
      // requires a hint-free shuffle join (any ResolvedHint defeats the
      // creation-side pattern match), so broadcast is disabled and the
      // fixture-scale thresholds lowered HERE without touching the
      // caller's session. At 100 TB the dim exceeds the broadcast
      // threshold naturally and only the threshold confs would differ.
      val s2 = s.newSession()
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      val urgent = Tables.orders(s2, d)
        .filter(col("o_orderpriority") === "1-URGENT")
      Tables.lineitem(s2, d)
        .join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sumMoney(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy("l_returnflag")
    }),

    "join_asof" -> ((s, d) => {
      // As-of join (no native Spark op): for each purchase, the latest
      // click at-or-before it, per user. Equi on user + range filter,
      // then row_number()=1 — the scalable as-of idiom (SURVEY §2.3).
      // Event-times truncated to whole seconds (ns vs µs hazard, §7.4).
      val ev = Tables.events(s, d).withColumn("sec", secs(col("ts")))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("sec").as("p_sec"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("sec").as("c_sec"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("purchase_id"))
        .orderBy(col("c_sec").desc_nulls_last, col("click_id").desc_nulls_last)
      p.join(c, col("user_id") === col("c_user") && col("c_sec") <= col("p_sec"), "left")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("purchase_id"), col("click_id"))
        .orderBy("user_id", "purchase_id")
    }),

    "join_asof_tolerance" -> ((s, d) => {
      // Feature-store as-of: latest click at-or-before each purchase,
      // but NO OLDER than 1 hour — a stale feature must surface as
      // NULL, never silently join (the bug class behind offline/online
      // skew). Same window idiom as join_asof; the staleness bound
      // rides in the join condition, which also caps the candidate
      // scan per purchase at 100 TB (unbounded backward as-of walks a
      // user's whole history).
      val ev = Tables.events(s, d).withColumn("sec", epochS(col("ts")))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("sec").as("p_sec"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("sec").as("c_sec"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("purchase_id"))
        .orderBy(col("c_sec").desc_nulls_last, col("click_id").desc_nulls_last)
      p.join(c, col("user_id") === col("c_user") &&
          col("c_sec") <= col("p_sec") &&
          col("c_sec") >= col("p_sec") - lit(3600L), "left")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("purchase_id"), col("click_id"),
          (col("p_sec") - col("c_sec")).as("staleness_sec"))
        .orderBy("user_id", "purchase_id")
    }),

    "join_asof_nearest" -> ((s, d) => {
      // Nearest-direction as-of: each purchase pairs with the click
      // whose event-time is CLOSEST in either direction (join_asof is
      // the backward-only variant). Same scalable idiom — equi on user,
      // one row_number window ordered by |Δt| with a full tiebreak —
      // plus a ±7-day tolerance band on the range condition, which is
      // what keeps the candidate set bounded at 100 TB (an unbounded
      // nearest join degenerates to per-user cross products for
      // pathological users; the band also makes it bucketizable like
      // join_range_bucketed if a user's week is still too hot).
      val ev = Tables.events(s, d).withColumn("sec", epochS(col("ts")))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("sec").as("p_sec"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("sec").as("c_sec"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("purchase_id"))
        .orderBy(abs(col("c_sec") - col("p_sec")).asc_nulls_last,
          col("click_id").asc_nulls_last)
      p.join(c, col("user_id") === col("c_user") &&
          abs(col("c_sec") - col("p_sec")) <= lit(7L * 86400L), "left")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("purchase_id"), col("click_id"),
          (col("c_sec") - col("p_sec")).as("dt_sec"))
        .orderBy("user_id", "purchase_id")
    }),

    "join_lateral" -> ((s, d) => {
      // LATERAL correlated subquery: top-2 orders per high-balance
      // customer. Catalyst decorrelates this into a ranked window join —
      // same plan family as win_topk_per_group, proven by the oracle.
      Tables.registerAll(s, d)
      s.sql("""
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                 WHERE o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        WHERE c.c_acctbal > 9000
        ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey""")
    }),

    "join_existence" -> ((s, d) => {
      // Correlated EXISTS / NOT EXISTS predicates in one query —
      // Catalyst rewrites them to left-semi and left-anti joins (no
      // per-row subquery execution), so the plan is two hash joins on
      // o_custkey regardless of data size.
      Tables.registerAll(s, d)
      s.sql("""
        SELECT c_custkey, c_mktsegment
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'P')
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_totalprice > 400000)
        ORDER BY c_custkey""")
    }),

    "subquery_scalar" -> ((s, d) => {
      // Scalar + correlated subqueries (RewriteCorrelatedScalarSubquery
      // turns these into joins — no per-row re-execution).
      Tables.registerAll(s, d)
      s.sql("""
        SELECT o_orderkey, o_custkey,
               CAST(round(CAST(o_totalprice AS DECIMAL(38,4)), 4) AS DOUBLE) AS price
        FROM orders
        WHERE o_totalprice > 1.5 * (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) / count(*)
                            FROM orders)
          AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
        ORDER BY o_orderkey""")
    }),

    "subquery_not_in" -> ((s, d) => {
      // NOT IN with NULL-aware semantics — the SQL trap a naive anti
      // join gets wrong: one NULL in the subquery list makes every
      // NOT IN test UNKNOWN, so the with_null variant must return 0
      // rows while the no_nulls variant anti-joins normally. Spark
      // plans the null-aware case as a single-column
      // isNullAwareAntiJoin broadcast (not a nested loop); proving
      // both variants side by side locks the semantics AND the plan.
      Tables.registerAll(s, d)
      s.sql("""
        SELECT 'no_nulls' AS variant, count(*) AS n FROM orders
        WHERE o_custkey NOT IN
          (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
        UNION ALL
        SELECT 'with_null', count(*) FROM orders
        WHERE o_custkey NOT IN
          (SELECT c_custkey FROM customer WHERE c_acctbal > 5000
           UNION ALL SELECT CAST(NULL AS BIGINT))
        ORDER BY variant""")
    }),

    "join_cross" -> ((s, d) => {
      // Explicit cartesian — legitimate ONLY between bounded dims (the
      // region × nation grid here, 125 rows): a deliberate crossJoin
      // call, never an accidental one (Spark requires the explicit API
      // or spark.sql.crossJoin.enabled). Anything fact-sized on either
      // side is a design bug, which is why every other join key in
      // this file carries an equi or banded key.
      Tables.region(s, d).crossJoin(Tables.nation(s, d))
        .select(col("r_name"), col("n_name"))
        .orderBy("r_name", "n_name")
    }),

    // ---- §2.4 aggregations ----
    "agg_groupby_pricing" -> ((s, d) => {
      // TPC-H Q1 shape. HashAggregate partial+final around one shuffle;
      // decimal sums exact, avg derived from exact sum / exact count.
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sumMoney(col("l_quantity")).as("sum_qty"),
          sumMoney(col("l_extendedprice")).as("sum_base"),
          sumMoney(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc"),
          round(sum(dec(col("l_quantity"))).cast(DoubleType) / count(lit(1)), 4).as("avg_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "agg_count_distinct" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_suppkey"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_orderkey")).as("n_orders"))
        .orderBy("l_suppkey")
    }),

    "agg_approx_distinct" -> ((s, d) => {
      // Bounded-memory distinct estimation, hash-green: a KMV bottom-k
      // sketch over the deterministic md5-slice hash (k smallest
      // distinct hash values per group, kept by the native mergeable
      // kmv_bottomk aggregate — each partition ships ≤ k longs per
      // group, the same shuffle law as HLL++'s registers). Estimate =
      // (k−1)·H / h_(k) with H = 16¹⁵ the hash range, σ ≈ 1/√(k−2) ≈ 9%
      // at k=128; groups with < k distinct values report exactly.
      // Unlike approx_count_distinct (the engine-private-sketch twin
      // kept under nativeSketches) every kept value is a deterministic
      // hash order statistic, so DuckDB replays the sketch verbatim
      // with distinct + row_number. OperatorSpec pins the estimate
      // against the exact count at both SFs.
      Tables.events(s, d)
        .select(col("event_type"),
          expr(Det.md5SliceExpr("user_id", 1, 15)).as("h"))
        .groupBy(col("event_type"))
        .agg(expr(s"kmv_bottomk(h, $KmvK)").as("ks"),
          count(lit(1)).as("n"))
        .select(col("event_type"), kmvEstimate(col("ks")).as("approx_users"),
          col("n"))
        .orderBy("event_type")
    }),

    "agg_sketch_union" -> ((s, d) => {
      // The 100 TB distinct-counting ARCHITECTURE, not just the
      // function: per-day KMV sketches are built in one scan over the
      // fact table, persist as k-long arrays, and any later rollup
      // (weekly, all-time) UNIONS the stored sketches without
      // rescanning events — bottom-k over O(days·k) sketch values
      // replaces an O(events) rescan per reporting window (KMV union
      // law: the k smallest of a union of bottom-k sets IS the
      // bottom-k of the union). Same deterministic md5 hash family as
      // agg_approx_distinct, so the whole two-level pipeline is
      // replayed exactly by the DuckDB oracle — the hash-green
      // counterpart of the DataSketches hll_union_agg twin kept under
      // nativeSketches.
      val daily = Tables.events(s, d)
        .select(Det.epochS(col("ts")).as("sec"), col("event_type"),
          expr(Det.md5SliceExpr("user_id", 1, 15)).as("h"))
        .select(expr("sec div 86400").as("day"), col("event_type"), col("h"))
        .groupBy(col("day"), col("event_type"))
        .agg(expr(s"kmv_bottomk(h, $KmvK)").as("ks"))
      daily
        .select(col("event_type"), col("day"), explode(col("ks")).as("h"))
        .groupBy(col("event_type"))
        .agg(expr(s"kmv_bottomk(h, $KmvK)").as("ks"),
          countDistinct(col("day")).as("n_days"))
        .select(col("event_type"), kmvEstimate(col("ks")).as("approx_users"),
          col("n_days"))
        .orderBy("event_type")
    }),

    "agg_rollup" -> ((s, d) => {
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sumMoney(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    }),

    "agg_cube" -> ((s, d) => {
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sumMoney(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    }),

    "agg_grouping_sets" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS INT) AS g_rf,
               CAST(grouping(l_linestatus) AS INT) AS g_ls,
               count(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                                (l_returnflag, l_linestatus), ())
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")
    }),

    "agg_histogram" -> ((s, d) => {
      // Fixed-width histogram via integer bucketing — exact int
      // arithmetic, no engine-specific histogram functions.
      Tables.customer(s, d)
        .select((floor((col("c_acctbal") + 1000.0) / 1000.0)).cast(IntegerType).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    }),

    "agg_percentile" -> ((s, d) => {
      // Exact percentiles (linear interpolation — same definition as
      // DuckDB quantile_cont). At 100 TB swap for approx_percentile
      // (t-digest) — exact percentile needs a per-group sort.
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.25)"), 4).as("p25"),
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_quantity, 0.75)"), 4).as("p75"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),

    "agg_approx_quantile" -> ((s, d) => {
      // The scale tier for agg_percentile, hash-green: exact percentile
      // needs a per-group sort of EVERY row, so the approximate tier
      // computes it over a deterministic md5 row-sample (20%: hash of
      // the (l_orderkey, l_linenumber) row key mod 5 = 0). Sampling is
      // a map-side codegen'd filter — the sort the percentile pays is
      // over 1/5 of the data, and the rank error at n·0.2 samples per
      // group (~√(1/n_s) ≈ 0.6% at sf0.1) is the same order as a
      // t-digest at accuracy 1000. Both engines replay the identical
      // sample (md5 is the shared hash family) and the identical
      // linear-interpolation percentile (Spark percentile ≡ DuckDB
      // quantile_cont — the agg_percentile pairing), so the key is
      // fully hash-checkable; the mergeable-sketch twin
      // (approx_percentile, engine-private t-digest bytes) is kept
      // under nativeSketches with its own error-bound spec.
      Tables.lineitem(s, d)
        .withColumn("u", expr(
          Det.md5SliceExpr("concat(l_orderkey, ':', l_linenumber)", 1, 8)))
        .filter(col("u") % 5 === 0)
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_approx"),
          round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),

    "agg_stats_corr" -> ((s, d) => {
      // Second-moment statistics (variance / stddev / covariance /
      // correlation). Built-in stddev_samp/corr accumulate doubles in
      // partition order — right for production, unhashable across
      // engines — so the five power sums accumulate EXACTLY instead
      // (DECIMAL(38,4) inputs → order-independent decimal sums; one
      // shuffle, partial-aggregated map-side like any sum), and the
      // textbook closed forms then run as ONE identical IEEE double
      // expression in both engines: n·Σxy−ΣxΣy over the sqrt'd
      // variance products. Same cost shape as agg_groupby_pricing.
      // DECIMAL(18,4) not Det.Money: the cross product must stay exact
      // in BOTH engines. Spark (18,4)×(18,4) → (37,8), under the
      // 38-digit cap (no scale-trimming precision loss); the oracle
      // casts to (19,4) instead, which forces DuckDB onto int128
      // physical decimals (its int64 path overflows on the product).
      // 14 integral digits cover any per-row measure here.
      val q = expr("try_cast(l_quantity AS DECIMAL(18,4))")
      val p = expr("try_cast(l_extendedprice AS DECIMAL(18,4))")
      val sums = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).cast(DoubleType).as("n"),
          sum(q).cast(DoubleType).as("sq"),
          sum(p).cast(DoubleType).as("sp"),
          sum(q * q).cast(DoubleType).as("sqq"),
          sum(p * p).cast(DoubleType).as("spp"),
          sum(q * p).cast(DoubleType).as("sqp"))
      val vq = (col("sqq") - col("sq") * col("sq") / col("n")) / (col("n") - 1)
      val vp = (col("spp") - col("sp") * col("sp") / col("n")) / (col("n") - 1)
      val cv = (col("sqp") - col("sq") * col("sp") / col("n")) / (col("n") - 1)
      sums.select(
        col("l_returnflag"), col("n").cast(LongType).as("n"),
        round(sqrt(vq), 4).as("sd_qty"),
        round(vp, 4).as("var_price"),
        round(cv, 4).as("covar_qp"),
        round(cv / (sqrt(vq) * sqrt(vp)), 4).as("corr_qp"))
        .orderBy("l_returnflag")
    }),

    "agg_regression" -> ((s, d) => {
      // Linear-regression aggregate family (regr_slope / regr_intercept
      // / regr_r2 in Postgres/DuckDB terms), per group. Same scale
      // discipline as agg_stats_corr: the five power sums accumulate as
      // exact order-independent decimals in ONE partial-aggregated
      // shuffle, then the closed forms run as one identical IEEE double
      // expression in both engines — the built-in regr_* aggregates
      // fold doubles in partition order and can't cross a hash gate.
      val x = expr("try_cast(l_quantity AS DECIMAL(18,4))")
      val y = expr("try_cast(l_extendedprice AS DECIMAL(18,4))")
      val sums = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).cast(DoubleType).as("n"),
          sum(x).cast(DoubleType).as("sx"),
          sum(y).cast(DoubleType).as("sy"),
          sum(x * x).cast(DoubleType).as("sxx"),
          sum(y * y).cast(DoubleType).as("syy"),
          sum(x * y).cast(DoubleType).as("sxy"))
      val cxy = col("n") * col("sxy") - col("sx") * col("sy")
      val vx = col("n") * col("sxx") - col("sx") * col("sx")
      val vy = col("n") * col("syy") - col("sy") * col("sy")
      val slope = cxy / vx
      sums.select(
        col("l_returnflag"), col("n").cast(LongType).as("n"),
        round(slope, 4).as("slope"),
        round((col("sy") - slope * col("sx")) / col("n"), 4).as("intercept"),
        round(cxy * cxy / (vx * vy), 4).as("r2"))
        .orderBy("l_returnflag")
    }),

    "agg_mode" -> ((s, d) => {
      // Deterministic mode: built-in mode() breaks ties arbitrarily in
      // both engines, so the count+rank formulation pins ties to the
      // smallest value. The heavy groupBy is on (status, priority) —
      // bounded cardinality, partial-aggregated map-side; the window
      // then runs over ≤|priorities| rows per status.
      val w = org.apache.spark.sql.expressions.Window.partitionBy("o_orderstatus")
        .orderBy(col("cnt").desc, col("o_orderpriority"))
      Tables.orders(s, d)
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_orderstatus"),
          col("o_orderpriority").as("mode_priority"), col("cnt"))
        .orderBy("o_orderstatus")
    }),

    "agg_pivot" -> ((s, d) => {
      // Pivot with an explicit value list (never inferred — inference
      // is an extra scan AND nondeterministic column order at scale).
      Tables.lineitem(s, d)
        .groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sumMoney(col("l_quantity")))
        .orderBy("l_linestatus")
    }),

    "agg_heavy_hitters" -> ((s, d) => {
      // Native mergeable Misra-Gries sketch (HeavyHittersAgg, a
      // TypedImperativeAggregate): top frequent items in one pass with
      // O(k) state per partition — no groupBy over the full column
      // cardinality, no sort. p_brand has ~25 distinct values < k=64,
      // the no-eviction regime where the sketch is provably EXACT and
      // merge-order-independent — hence oracle-able; the eviction
      // regime's error bounds are property-tested in OperatorSpec.
      Tables.part(s, d)
        .agg(expr("heavy_hitters(p_brand, 64)").as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.item").as("item"), col("e.cnt").as("cnt"))
        .orderBy(desc("cnt"), asc("item"))
    }),

    "agg_collect_sorted" -> ((s, d) => {
      // collect_list is unordered across tasks → sort_array makes it
      // deterministic. Bounded per-group (orders per customer). The
      // sorted list is serialized with array_join: the driver's pandas
      // hash gate cannot hash array cells, and a delimited string is
      // engine-portable byte-for-byte.
      Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(array_join(sort_array(collect_list(col("o_orderkey"))), ",")
          .as("order_keys"))
        .orderBy("o_custkey")
    }),

    "agg_filtered" -> ((s, d) => {
      // FILTER-clause / conditional aggregates: several conditional
      // measures in ONE pass — count FILTER, sum FILTER, count_if,
      // bool_and/bool_or. All compile to conditional partial aggregates
      // around a single shuffle (the CASE-chain plan), so a 100 TB scan
      // pays one aggregation regardless of how many conditions ride it.
      Tables.registerAll(s, d)
      s.sql("""
        SELECT l_returnflag,
               count(*) AS n,
               count(*) FILTER (WHERE l_discount > 0.05) AS n_disc,
               CAST(round(coalesce(sum(CAST(l_extendedprice AS DECIMAL(38,4)))
                 FILTER (WHERE l_shipdate >= '1996-01-01'), 0), 4) AS DOUBLE) AS recent_rev,
               count_if(l_quantity >= 45) AS n_bulk,
               bool_and(l_quantity > 0) AS all_pos,
               bool_or(l_tax > 0.07) AS any_hightax
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")
    }),

    "agg_bitops" -> ((s, d) => {
      // Bitwise aggregates — fold feature masks across rows (the
      // flag-rollup idiom). Commutative+associative folds: partial
      // aggregation is exact under any merge order, one shuffle.
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(expr("bit_and(l_partkey)").as("mask_and"),
          expr("bit_or(l_partkey)").as("mask_or"),
          expr("bit_xor(l_partkey)").as("mask_xor"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),

    "agg_bool" -> ((s, d) => {
      // Boolean aggregates (bool_and / bool_or) — the assertion rollup
      // (etl_dq_audit's counting checks as predicates). Commutative
      // folds: partial aggregation exact under any merge order.
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(expr("bool_and(o_totalprice > 0)").as("all_positive"),
          expr("bool_and(o_totalprice > 50000)").as("all_over_50k"),
          expr("bool_or(o_totalprice > 400000)").as("any_over_400k"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    }),

    "agg_weighted_avg" -> ((s, d) => {
      // Weighted mean as a ratio of exact decimal sums — the form that
      // partial-aggregates correctly (a naive avg-of-ratios neither
      // distributes nor means anything). Quantity-weighted unit price
      // per return flag; ONE shuffle, both sums partial map-side, the
      // division happens once on the output-sized result.
      // DECIMAL(18,4) inputs: the cross product stays exact in BOTH
      // engines (Spark (18,4)×(18,4)→(37,8) under the 38 cap; the
      // oracle's (19,4) forces DuckDB onto int128 — the agg_stats_corr
      // discipline)
      val p = expr("try_cast(l_extendedprice AS DECIMAL(18,4))")
      val q = expr("try_cast(l_quantity AS DECIMAL(18,4))")
      // one guard for BOTH sums: a row where either cast fails drops
      // from numerator AND denominator together — a one-sided NULL
      // would silently deflate the mean on dirty input
      val ok = p.isNotNull && q.isNotNull
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(sum(when(ok, p * q)).as("wsum"), sum(when(ok, q)).as("wtot"))
        .select(col("l_returnflag"),
          round(col("wsum").cast(DoubleType) / col("wtot").cast(DoubleType), 4)
            .as("w_avg_price"))
        .orderBy("l_returnflag")
    }),

    "agg_minmax_by" -> ((s, d) => {
      // max_by/min_by — argmax without the join-back. The ordering key
      // is a (measure, ±key) struct, making the argmax a TOTAL order:
      // partial-aggregate merges commute, so the answer is identical
      // under any partitioning (the determinism requirement SURVEY
      // §7.4 puts on every aggregate).
      Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          expr("max_by(s_name, struct(s_acctbal, -s_suppkey))").as("best_supp"),
          round(max(col("s_acctbal")), 4).as("best_bal"),
          expr("min_by(s_name, struct(s_acctbal, s_suppkey))").as("worst_supp"),
          round(min(col("s_acctbal")), 4).as("worst_bal"),
          count(lit(1)).as("n_supp"))
        .orderBy("n_name")
    }),

    "unpivot_long" -> ((s, d) => {
      // Wide→long reshape via the native Dataset.unpivot (SQL UNPIVOT),
      // the inverse of agg_pivot. The expand multiplies rows × metrics,
      // so it runs AFTER aggregation (25 nation rows × 3), never on the
      // raw fact table — the only sane order at 100 TB.
      val wide = Tables.customer(s, d)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).cast(DoubleType).as("n_cust"),
          sumMoney(col("c_acctbal")).as("total_bal"),
          round(max(col("c_acctbal")), 4).as("max_bal"))
      wide.unpivot(
        Array(col("c_nationkey")),
        Array(col("n_cust"), col("total_bal"), col("max_bal")),
        "metric", "value")
        .orderBy("c_nationkey", "metric")
    }),

    "agg_listagg" -> ((s, d) => {
      // listagg WITHIN GROUP — the SQL-standard ordered string
      // aggregation (Spark 4's native ListAgg), vs agg_collect_sorted's
      // collect_list+sort_array idiom. Deterministic because the WITHIN
      // GROUP order is total (n_name unique per region); per-group
      // output is bounded (5 nations) — at scale listagg a bounded
      // group or cap the list, never an unbounded-cardinality group.
      Tables.registerAll(s, d)
      s.sql("""
        SELECT r_name,
               listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations,
               count(*) AS n
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name""")
    }),

    // ---- §2.6 sort / limit ----
    "sort_multi_nulls" -> ((s, d) => {
      Tables.customer(s, d)
        .select(col("c_custkey"), expr("nullif(c_mktsegment, 'BUILDING')").as("seg"),
          col("c_acctbal"))
        .orderBy(asc_nulls_last("seg"), desc("c_acctbal"), asc("c_custkey"))
    }),

    "limit_topk" -> ((s, d) => {
      // orderBy().limit(k) → TakeOrderedAndProject: per-partition heap +
      // driver merge of k rows — the only top-k that works at 100 TB.
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_extendedprice"))
        .orderBy(desc("l_extendedprice"), asc("l_orderkey"),
          asc("l_linenumber"), asc("l_partkey"))
        .limit(10)
    }),

    // ---- §2.7 set ops ----
    "set_union_all" -> ((s, d) => {
      val a = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("k"), lit("f_orders").as("src"))
      val b = Tables.customer(s, d).filter(col("c_acctbal") > 8000)
        .select(col("c_custkey").as("k"), lit("rich").as("src"))
      a.unionByName(b).orderBy("src", "k")
    }),

    "set_union_distinct" -> ((s, d) => {
      // UNION (distinct): union-all then a hash-dedup shuffle — Spark
      // plans df.union(df2).distinct() exactly as SQL UNION, one
      // HashAggregate over the combined key space.
      val a = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("k"))
      val b = Tables.customer(s, d).filter(col("c_acctbal") > 8000)
        .select(col("c_custkey").as("k"))
      a.unionByName(b).distinct().orderBy("k")
    }),

    "set_intersect" -> ((s, d) => {
      val a = Tables.orders(s, d).filter(col("o_orderstatus") === "P")
        .select(col("o_custkey").as("k"))
      val b = Tables.customer(s, d).filter(col("c_acctbal") > 5000)
        .select(col("c_custkey").as("k"))
      a.intersect(b).orderBy("k")
    }),

    "set_except" -> ((s, d) => {
      val a = Tables.customer(s, d).select(col("c_custkey").as("k"))
      val b = Tables.orders(s, d).filter(col("o_orderstatus") === "P")
        .select(col("o_custkey").as("k"))
      a.except(b).orderBy("k")
    })
  )

  // ---- KMV distinct-sketch constants (agg_approx_distinct /
  //      agg_sketch_union) ----
  /** Sketch size: 128 hash order statistics per group (1 KiB of state),
    * σ ≈ 1/√126 ≈ 8.9%. Groups with < k distinct values report
    * exactly — at the sf0.01 verify gate the estimator path is live
    * (150 distinct users per event_type > k when the union fills). */
  private val KmvK = 128

  /** (k−1)·16¹⁵ — numerator of the KMV estimate. 127·2⁶⁰ is exactly
    * representable as a double (7-bit integer × exponent shift), and
    * the SAME shortest-round-trip literal is injected into the Spark
    * plan and the DuckDB oracle, so both engines divide the identical
    * IEEE double by the identical hash order statistic. */
  private val KmvNum: Double = (KmvK - 1).toDouble * (1L << 60).toDouble

  /** Estimate from an ascending bottom-k array: exact size when the
    * sketch never filled, else (k−1)·H / h_(k). */
  private def kmvEstimate(ks: org.apache.spark.sql.Column) =
    when(size(ks) < KmvK, size(ks).cast(DoubleType))
      .otherwise(round(lit(KmvNum) / element_at(ks, KmvK).cast(DoubleType), 4))

  /** The engine-native sketch twins of the three hash-green
    * deterministic sketch keys. These are the at-scale production
    * implementations (HLL++ registers, t-digest, DataSketches HLL
    * unions — all mergeable, all partial-aggregating), but their
    * sketch bytes are engine-private so no cross-engine oracle can
    * replay them; OperatorSpec bounds each against its exact
    * counterpart instead. They are deliberately NOT part of the driver
    * inventory (`SparkEntry.queries`), whose contract is that every
    * declared key hash-verifies. */
  val nativeSketches: Map[String, Q] = Map(
    "sketch_hll_native" -> ((s, d) =>
      // HLL++ — approx distinct without the expand shuffle.
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
          count(lit(1)).as("n"))
        .orderBy("event_type")),

    "sketch_tdigest_native" -> ((s, d) =>
      // approx_percentile's t-digest: mergeable, no per-group sort.
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("approx_percentile(l_quantity, 0.5, 1000)"), 4)
            .as("p50_approx"),
          round(expr("approx_percentile(l_extendedprice, 0.95, 1000)"), 4)
            .as("p95_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")),

    "sketch_hll_union_native" -> ((s, d) => {
      // Per-day DataSketches HLL sketches unioned per reporting window.
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
      daily.groupBy(col("event_type"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")
          .as("approx_users"),
          count(lit(1)).as("n_days"))
        .orderBy("event_type")
    })
  )

  /** DuckDB oracle SQL — identical formulation discipline (SURVEY §7.4):
    * same decimal casts, same ordering chains, same null placement. */
  val oracles: Map[String, String] = Map(
    "scan_parquet" ->
      """SELECT count(*) AS n_rows,
         CAST(round(sum(CAST(l_quantity AS DECIMAL(38,4))), 4) AS DOUBLE) AS sum_qty,
         count(DISTINCT l_orderkey) AS n_orders FROM lineitem""",

    "project_arith" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
         l_extendedprice * (1 - l_discount) AS revenue,
         l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
         FROM lineitem
         ORDER BY l_orderkey, l_linenumber, l_quantity, revenue, charge""",

    "filter_pred" ->
      """SELECT * FROM part
         WHERE (p_size BETWEEN 10 AND 30 AND p_type IN ('ECONOMY','PROMO')
                AND p_name LIKE '%red%')
            OR (p_retailprice > 990.0 AND p_brand LIKE 'Brand#1%')
         ORDER BY p_partkey""",

    "filter_null_semantics" ->
      """SELECT o_orderkey, nullif(o_orderstatus,'O') AS st,
         (nullif(o_orderstatus,'O') IS NULL) AS st_null,
         coalesce(nullif(o_orderstatus,'O'), 'NONE') AS st_coal,
         (nullif(o_orderstatus,'O') IS NOT DISTINCT FROM 'F') AS st_is_f
         FROM orders ORDER BY o_orderkey""",

    "join_broadcast" ->
      """SELECT p_brand,
         CAST(round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(38,4))),4) AS DOUBLE) AS revenue,
         count(*) AS n
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand ORDER BY p_brand""",

    "join_sortmerge" ->
      """SELECT o_orderpriority, count(*) AS n,
         CAST(round(sum(CAST(l_quantity AS DECIMAL(38,4))),4) AS DOUBLE) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    // Bucketing changes the physical layout, never the relation —
    // the oracle is the plain join over the unbucketed parquet.
    "join_bucketed" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,4))),4) AS DOUBLE) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "join_dpp" ->
      """WITH dim AS (
           SELECT DISTINCT year(o_orderdate) AS y FROM orders
           WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             AND o_orderdate < TIMESTAMP '1998-01-01'
             AND o_orderpriority = '1-URGENT')
         SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year, count(*) AS n,
             CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,4))), 4) AS DOUBLE) AS revenue
         FROM lineitem JOIN dim ON year(l_shipdate) = dim.y
         GROUP BY 1 ORDER BY ship_year""",

    "join_shuffled_hash" ->
      """SELECT o_orderstatus, count(*) AS n,
         CAST(round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(38,4))),4) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "join_star_5way" ->
      """SELECT n_name,
         CAST(round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(38,4))),4) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation   ON c_nationkey = n_nationkey
         JOIN region   ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
         GROUP BY n_name ORDER BY revenue DESC, n_name""",

    "join_left_outer" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
         CAST(round(coalesce(sum(CAST(o_totalprice AS DECIMAL(38,4))), 0), 4) AS DOUBLE) AS total
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey ORDER BY c_custkey""",

    "join_full_outer" ->
      """SELECT coalesce(c_custkey, o_custkey) AS k, c_acctbal, n_orders
         FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 7000) c
         FULL OUTER JOIN (SELECT o_custkey, count(*) AS n_orders
                          FROM orders GROUP BY o_custkey) o
           ON c_custkey = o_custkey
         ORDER BY k""",

    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
         ORDER BY c_custkey""",

    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
         ORDER BY c_custkey""",

    "join_theta_nestedloop" ->
      """SELECT p_partkey, s_suppkey
         FROM (SELECT p_partkey, p_retailprice FROM part WHERE p_partkey < 100) p
         JOIN (SELECT s_suppkey, s_acctbal FROM supplier WHERE s_suppkey < 50) s
           ON s_acctbal > p_retailprice AND s_acctbal <= p_retailprice * 3.0
         ORDER BY p_partkey, s_suppkey""",

    // Plain overlap predicate — ownership-bucket candidate generation
    // is the Spark side's strategy, invisible in the answer.
    "join_interval_overlap" ->
      """WITH a AS (SELECT o_orderkey AS a_id, o_orderdate AS sa,
                        o_orderdate + INTERVAL 21 DAY AS ea
                    FROM orders WHERE o_custkey % 31 = 0),
         b AS (SELECT o_orderkey AS b_id, o_orderdate AS sb,
                      o_orderdate + INTERVAL 14 DAY AS eb
               FROM orders WHERE o_custkey % 37 = 0)
         SELECT a_id, count(*) AS n_overlaps
         FROM a JOIN b ON sa < eb AND sb < ea
         GROUP BY 1 ORDER BY a_id""",

    // The oracle states the containment semantics directly (DuckDB is
    // free to nested-loop 16 intervals); bucketization is the Spark
    // side's scale strategy, not part of the answer.
    "join_range_bucketed" ->
      """SELECT a.o_orderkey AS win_id, a.o_orderdate AS ws,
             count(*) AS n_shipped
         FROM orders a JOIN lineitem b
           ON b.l_shipdate >= a.o_orderdate
          AND b.l_shipdate < a.o_orderdate + INTERVAL 14 DAY
         WHERE a.o_orderkey % 997 = 0
         GROUP BY 1, 2 ORDER BY win_id""",

    "join_range_interval" ->
      """SELECT a.o_custkey AS custkey, count(*) AS n_pairs
         FROM orders a JOIN orders b
           ON a.o_custkey = b.o_custkey
          AND b.o_orderdate >= a.o_orderdate
          AND b.o_orderdate < a.o_orderdate + INTERVAL 30 DAY
          AND a.o_orderkey <> b.o_orderkey
         GROUP BY a.o_custkey ORDER BY custkey""",

    // identical oracle to join_asof — the native operator must agree
    // with the window idiom row for row
    "join_asof_native" ->
      """SELECT user_id, purchase_id, click_id FROM (
           SELECT p.user_id AS user_id, p.event_id AS purchase_id,
                  c.event_id AS click_id,
                  row_number() OVER (PARTITION BY p.event_id
                    ORDER BY date_trunc('second', c.ts) DESC NULLS LAST,
                             c.event_id DESC NULLS LAST) AS rn
           FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
             ON p.user_id = c.user_id
            AND date_trunc('second', c.ts) <= date_trunc('second', p.ts)
         ) WHERE rn = 1 ORDER BY user_id, purchase_id""",

    "join_skew_salted" ->
      """SELECT o_orderpriority, count(*) AS n,
         CAST(round(sum(CAST(l_quantity AS DECIMAL(38,4))),4) AS DOUBLE) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "join_asof_tolerance" ->
      """SELECT user_id, purchase_id, click_id, staleness_sec FROM (
           SELECT p.user_id AS user_id, p.event_id AS purchase_id,
                  c.event_id AS click_id,
                  p.sec - c.sec AS staleness_sec,
                  row_number() OVER (PARTITION BY p.event_id
                    ORDER BY c.sec DESC NULLS LAST,
                             c.event_id DESC NULLS LAST) AS rn
           FROM (SELECT user_id, event_id,
                   CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
                 FROM events WHERE event_type = 'purchase') p
           LEFT JOIN (SELECT user_id, event_id,
                   CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
                 FROM events WHERE event_type = 'click') c
             ON p.user_id = c.user_id
             AND c.sec <= p.sec AND c.sec >= p.sec - 3600)
         WHERE rn = 1 ORDER BY user_id, purchase_id""",

    "join_asof_nearest" ->
      """SELECT user_id, purchase_id, click_id, dt_sec FROM (
           SELECT p.user_id AS user_id, p.event_id AS purchase_id,
                  c.event_id AS click_id,
                  c.sec - p.sec AS dt_sec,
                  row_number() OVER (PARTITION BY p.event_id
                    ORDER BY abs(c.sec - p.sec) ASC NULLS LAST,
                             c.event_id ASC NULLS LAST) AS rn
           FROM (SELECT user_id, event_id,
                   CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
                 FROM events WHERE event_type = 'purchase') p
           LEFT JOIN (SELECT user_id, event_id,
                   CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
                 FROM events WHERE event_type = 'click') c
             ON p.user_id = c.user_id
             AND abs(c.sec - p.sec) <= 7 * 86400)
         WHERE rn = 1 ORDER BY user_id, purchase_id""",

    "join_asof" ->
      """SELECT user_id, purchase_id, click_id FROM (
           SELECT p.user_id AS user_id, p.event_id AS purchase_id,
                  c.event_id AS click_id,
                  row_number() OVER (PARTITION BY p.event_id
                    ORDER BY date_trunc('second', c.ts) DESC NULLS LAST,
                             c.event_id DESC NULLS LAST) AS rn
           FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
             ON p.user_id = c.user_id
            AND date_trunc('second', c.ts) <= date_trunc('second', p.ts)
         ) WHERE rn = 1 ORDER BY user_id, purchase_id""",

    "agg_groupby_pricing" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(round(sum(CAST(l_quantity AS DECIMAL(38,4))),4) AS DOUBLE) AS sum_qty,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,4))),4) AS DOUBLE) AS sum_base,
         CAST(round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(38,4))),4) AS DOUBLE) AS sum_disc,
         round(CAST(sum(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) / count(*), 4) AS avg_qty,
         count(*) AS n
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    "agg_count_distinct" ->
      """SELECT l_suppkey, count(DISTINCT l_partkey) AS n_parts,
         count(DISTINCT l_orderkey) AS n_orders
         FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""",

    "agg_rollup" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(round(sum(CAST(l_quantity AS DECIMAL(38,4))),4) AS DOUBLE) AS sum_qty,
         count(*) AS n
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",

    "agg_cube" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(round(sum(CAST(l_quantity AS DECIMAL(38,4))),4) AS DOUBLE) AS sum_qty,
         count(*) AS n
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",

    "agg_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(grouping(l_returnflag) AS INTEGER) AS g_rf,
         CAST(grouping(l_linestatus) AS INTEGER) AS g_ls,
         count(*) AS n
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                                 (l_returnflag, l_linestatus), ())
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",

    "join_lateral" ->
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
         FROM customer c,
         LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                  WHERE o_custkey = c.c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
         WHERE c.c_acctbal > 9000
         ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey""",

    "join_bloom_pruned" ->
      """SELECT l_returnflag, count(*) AS n,
             CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount)
                                 AS DECIMAL(38,4))), 4) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderpriority = '1-URGENT'
         GROUP BY l_returnflag ORDER BY l_returnflag""",

    "subquery_not_in" ->
      """SELECT * FROM (
           SELECT 'no_nulls' AS variant, count(*) AS n FROM orders
           WHERE o_custkey NOT IN
             (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
           UNION ALL
           SELECT 'with_null', count(*) FROM orders
           WHERE o_custkey NOT IN
             (SELECT c_custkey FROM customer WHERE c_acctbal > 5000
              UNION ALL SELECT CAST(NULL AS BIGINT))
         ) ORDER BY variant""",

    "join_cross" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
         ORDER BY r_name, n_name""",

    "agg_weighted_avg" ->
      """SELECT l_returnflag,
             round(CAST(sum(CASE WHEN TRY_CAST(l_extendedprice AS DECIMAL(19,4)) IS NOT NULL
                              AND TRY_CAST(l_quantity AS DECIMAL(19,4)) IS NOT NULL
                             THEN TRY_CAST(l_extendedprice AS DECIMAL(19,4))
                                  * TRY_CAST(l_quantity AS DECIMAL(19,4)) END) AS DOUBLE)
                   / CAST(sum(CASE WHEN TRY_CAST(l_extendedprice AS DECIMAL(19,4)) IS NOT NULL
                               AND TRY_CAST(l_quantity AS DECIMAL(19,4)) IS NOT NULL
                              THEN TRY_CAST(l_quantity AS DECIMAL(19,4)) END) AS DOUBLE), 4)
               AS w_avg_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "agg_bool" ->
      """SELECT o_orderstatus,
             bool_and(o_totalprice > 0) AS all_positive,
             bool_and(o_totalprice > 50000) AS all_over_50k,
             bool_or(o_totalprice > 400000) AS any_over_400k,
             count(*) AS n
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "subquery_scalar" ->
      """SELECT o_orderkey, o_custkey,
             CAST(round(CAST(o_totalprice AS DECIMAL(38,4)), 4) AS DOUBLE) AS price
         FROM orders
         WHERE o_totalprice > 1.5 * (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) / count(*)
                            FROM orders)
           AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
         ORDER BY o_orderkey""",

    "agg_histogram" ->
      """SELECT CAST(floor((c_acctbal + 1000.0) / 1000.0) AS INTEGER) AS bucket,
             count(*) AS n
         FROM customer GROUP BY 1 ORDER BY bucket""",

    "agg_percentile" ->
      """SELECT l_returnflag,
             round(quantile_cont(l_quantity, 0.25), 4) AS p25,
             round(quantile_cont(l_quantity, 0.5), 4) AS p50,
             round(quantile_cont(l_quantity, 0.75), 4) AS p75,
             count(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    // Same deterministic md5 row-sample, same linear-interpolation
    // percentile (quantile_cont ≡ Spark percentile).
    "agg_approx_quantile" ->
      s"""SELECT l_returnflag,
             round(quantile_cont(l_quantity, 0.5), 4) AS p50_approx,
             round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
             count(*) AS n
         FROM lineitem
         WHERE ${Det.md5SliceSql(
               "concat(l_orderkey, ':', l_linenumber)", 1, 8)} % 5 = 0
         GROUP BY l_returnflag ORDER BY l_returnflag""",

    // Replays the KMV sketch verbatim: same md5 hash family, same
    // bottom-k order statistics (distinct + row_number), same injected
    // (k−1)·16¹⁵ numerator literal.
    "agg_approx_distinct" ->
      s"""WITH hs AS (SELECT DISTINCT event_type,
                  ${Det.md5SliceSql("user_id", 1, 15)} AS h FROM events),
         ranked AS (SELECT event_type, h,
                  row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
                  FROM hs),
         sk AS (SELECT event_type, count(*) AS nz, max(h) AS hk
                FROM ranked WHERE rk <= $KmvK GROUP BY 1),
         cnt AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1)
         SELECT event_type,
                CASE WHEN nz < $KmvK THEN CAST(nz AS DOUBLE)
                     ELSE round($KmvNum / CAST(hk AS DOUBLE), 4)
                END AS approx_users, n
         FROM sk JOIN cnt USING (event_type) ORDER BY event_type""",

    // Two-level replay: per-day bottom-k sketches, then the KMV union
    // law (bottom-k of the unioned sketch values).
    "agg_sketch_union" ->
      s"""WITH pts AS (SELECT DISTINCT
                  CAST(epoch(date_trunc('second', ts)) AS BIGINT)
                    // 86400 AS day,
                  event_type,
                  ${Det.md5SliceSql("user_id", 1, 15)} AS h FROM events),
         daily AS (SELECT day, event_type, h,
                  row_number() OVER (PARTITION BY day, event_type
                                     ORDER BY h) AS rk
                  FROM pts),
         sk AS (SELECT event_type, day, h FROM daily WHERE rk <= $KmvK),
         uni AS (SELECT DISTINCT event_type, h FROM sk),
         ranked AS (SELECT event_type, h,
                  row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
                  FROM uni),
         m AS (SELECT event_type, count(*) AS nz, max(h) AS hk
               FROM ranked WHERE rk <= $KmvK GROUP BY 1),
         days AS (SELECT event_type, count(DISTINCT day) AS n_days
                  FROM sk GROUP BY 1)
         SELECT event_type,
                CASE WHEN nz < $KmvK THEN CAST(nz AS DOUBLE)
                     ELSE round($KmvNum / CAST(hk AS DOUBLE), 4)
                END AS approx_users, n_days
         FROM m JOIN days USING (event_type) ORDER BY event_type""",

    // Same exact-decimal power sums, same closed-form double expression
    // (see the Spark side): both engines cast identical decimals to
    // double and run the identical IEEE op sequence.
    "agg_stats_corr" ->
      """WITH sums AS (
           SELECT l_returnflag,
                  CAST(count(*) AS DOUBLE) AS n,
                  CAST(sum(CAST(l_quantity AS DECIMAL(19,4))) AS DOUBLE) AS sq,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS sp,
                  CAST(sum(CAST(l_quantity AS DECIMAL(19,4))
                         * CAST(l_quantity AS DECIMAL(19,4))) AS DOUBLE) AS sqq,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(19,4))
                         * CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS spp,
                  CAST(sum(CAST(l_quantity AS DECIMAL(19,4))
                         * CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS sqp
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, CAST(n AS BIGINT) AS n,
                round(sqrt((sqq - sq * sq / n) / (n - 1)), 4) AS sd_qty,
                round((spp - sp * sp / n) / (n - 1), 4) AS var_price,
                round((sqp - sq * sp / n) / (n - 1), 4) AS covar_qp,
                round(((sqp - sq * sp / n) / (n - 1))
                      / (sqrt((sqq - sq * sq / n) / (n - 1))
                         * sqrt((spp - sp * sp / n) / (n - 1))), 4) AS corr_qp
         FROM sums ORDER BY l_returnflag""",

    // Same exact-decimal power sums as agg_stats_corr; the closed forms
    // below are written in the SAME operation order as the Spark side
    // (n·Σxy − ΣxΣy etc.) so both engines run one identical IEEE
    // double expression over identical inputs.
    "agg_regression" ->
      """WITH sums AS (
           SELECT l_returnflag,
                  CAST(count(*) AS DOUBLE) AS n,
                  CAST(sum(CAST(l_quantity AS DECIMAL(19,4))) AS DOUBLE) AS sx,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS sy,
                  CAST(sum(CAST(l_quantity AS DECIMAL(19,4))
                         * CAST(l_quantity AS DECIMAL(19,4))) AS DOUBLE) AS sxx,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(19,4))
                         * CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS syy,
                  CAST(sum(CAST(l_quantity AS DECIMAL(19,4))
                         * CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS sxy
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, CAST(n AS BIGINT) AS n,
                round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS slope,
                round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                      / n, 4) AS intercept,
                round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                      / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS r2
         FROM sums ORDER BY l_returnflag""",

    "agg_mode" ->
      """SELECT o_orderstatus, mode_priority, cnt FROM (
           SELECT o_orderstatus, o_orderpriority AS mode_priority,
                  count(*) AS cnt,
                  row_number() OVER (PARTITION BY o_orderstatus
                    ORDER BY count(*) DESC, o_orderpriority) AS rn
           FROM orders GROUP BY o_orderstatus, o_orderpriority)
         WHERE rn = 1 ORDER BY o_orderstatus""",

    "agg_pivot" ->
      """SELECT l_linestatus,
             CAST(round(sum(CASE WHEN l_returnflag = 'A'
               THEN CAST(l_quantity AS DECIMAL(38,4)) END), 4) AS DOUBLE) AS A,
             CAST(round(sum(CASE WHEN l_returnflag = 'N'
               THEN CAST(l_quantity AS DECIMAL(38,4)) END), 4) AS DOUBLE) AS N,
             CAST(round(sum(CASE WHEN l_returnflag = 'R'
               THEN CAST(l_quantity AS DECIMAL(38,4)) END), 4) AS DOUBLE) AS R
         FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""",

    // exact because distinct(p_brand) < k (no-eviction regime)
    "agg_heavy_hitters" ->
      """SELECT p_brand AS item, count(*) AS cnt
         FROM part GROUP BY p_brand ORDER BY cnt DESC, item""",

    "agg_collect_sorted" ->
      """SELECT o_custkey,
             array_to_string(list(o_orderkey ORDER BY o_orderkey), ',') AS order_keys
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""",

    "agg_filtered" ->
      """SELECT l_returnflag,
             count(*) AS n,
             count(*) FILTER (WHERE l_discount > 0.05) AS n_disc,
             CAST(round(coalesce(sum(CAST(l_extendedprice AS DECIMAL(38,4)))
               FILTER (WHERE l_shipdate >= '1996-01-01'), 0), 4) AS DOUBLE) AS recent_rev,
             count(*) FILTER (WHERE l_quantity >= 45) AS n_bulk,
             bool_and(l_quantity > 0) AS all_pos,
             bool_or(l_tax > 0.07) AS any_hightax
         FROM lineitem
         GROUP BY l_returnflag
         ORDER BY l_returnflag""",

    "agg_bitops" ->
      """SELECT l_returnflag,
             bit_and(l_partkey) AS mask_and,
             bit_or(l_partkey) AS mask_or,
             bit_xor(l_partkey) AS mask_xor,
             count(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "join_existence" ->
      """SELECT c_custkey, c_mktsegment
         FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_orderstatus = 'P')
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_totalprice > 400000)
         ORDER BY c_custkey""",

    // argmax stated as rank-windows — the formulation-independent truth
    // the struct-ordered max_by must agree with
    "agg_minmax_by" ->
      """WITH j AS (
           SELECT n_name, s_name, s_acctbal, s_suppkey
           FROM supplier JOIN nation ON s_nationkey = n_nationkey),
         best AS (
           SELECT n_name, s_name FROM (
             SELECT n_name, s_name, row_number() OVER (PARTITION BY n_name
               ORDER BY s_acctbal DESC, s_suppkey) AS rn FROM j) WHERE rn = 1),
         worst AS (
           SELECT n_name, s_name FROM (
             SELECT n_name, s_name, row_number() OVER (PARTITION BY n_name
               ORDER BY s_acctbal ASC, s_suppkey) AS rn FROM j) WHERE rn = 1),
         agg AS (
           SELECT n_name, round(max(s_acctbal), 4) AS best_bal,
                  round(min(s_acctbal), 4) AS worst_bal, count(*) AS n_supp
           FROM j GROUP BY n_name)
         SELECT a.n_name, b.s_name AS best_supp, a.best_bal,
                w.s_name AS worst_supp, a.worst_bal, a.n_supp
         FROM agg a JOIN best b USING (n_name) JOIN worst w USING (n_name)
         ORDER BY a.n_name""",

    "unpivot_long" ->
      """WITH wide AS (
           SELECT c_nationkey,
                  CAST(count(*) AS DOUBLE) AS n_cust,
                  CAST(round(sum(CAST(c_acctbal AS DECIMAL(38,4))), 4) AS DOUBLE) AS total_bal,
                  round(max(c_acctbal), 4) AS max_bal
           FROM customer GROUP BY c_nationkey)
         SELECT c_nationkey, metric, value FROM (
           SELECT c_nationkey, 'n_cust' AS metric, n_cust AS value FROM wide
           UNION ALL
           SELECT c_nationkey, 'total_bal', total_bal FROM wide
           UNION ALL
           SELECT c_nationkey, 'max_bal', max_bal FROM wide)
         ORDER BY c_nationkey, metric""",

    "agg_listagg" ->
      """SELECT r_name,
             string_agg(n_name, ',' ORDER BY n_name) AS nations,
             count(*) AS n
         FROM nation JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",

    "sort_multi_nulls" ->
      """SELECT c_custkey, nullif(c_mktsegment,'BUILDING') AS seg, c_acctbal
         FROM customer
         ORDER BY seg ASC NULLS LAST, c_acctbal DESC, c_custkey""",

    "limit_topk" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice
         FROM lineitem
         ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber, l_partkey
         LIMIT 10""",

    "set_union_distinct" ->
      """SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
         UNION
         SELECT c_custkey AS k FROM customer WHERE c_acctbal > 8000
         ORDER BY k""",

    "set_union_all" ->
      """SELECT * FROM (
           SELECT o_custkey AS k, 'f_orders' AS src FROM orders WHERE o_orderstatus = 'F'
           UNION ALL
           SELECT c_custkey AS k, 'rich' AS src FROM customer WHERE c_acctbal > 8000)
         ORDER BY src, k""",

    "set_intersect" ->
      """SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'P'
         INTERSECT
         SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000
         ORDER BY k""",

    "set_except" ->
      """SELECT c_custkey AS k FROM customer
         EXCEPT
         SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'P'
         ORDER BY k"""
  )
}
