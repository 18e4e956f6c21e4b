package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Det, Tables}
import Det._

/** Statistical / data-quality operator family (round 4g).
  *
  * Higher-moment statistics, information-theoretic profiling, fuzzy
  * string matching, geo distance, and the warehouse data-quality audit —
  * the profiling layer a 100 TB curation pipeline runs before and after
  * every ingest. Same determinism discipline as the rest of the repo
  * (SURVEY.md §7.4): every aggregate that crosses the oracle hash gate
  * accumulates exactly (integer/decimal power sums), and floating-point
  * appears only in closed forms written as ONE identical IEEE expression
  * in both engines.
  */
object StatOps {
  type Q = (SparkSession, String) => DataFrame

  /** 60-bit surrogate key from the natural key's md5 — the single
    * definition etl_surrogate_keys and PropertySpec's layout-invariance
    * test both exercise (16^15 = 2⁶⁰ fits BIGINT). */
  private[graft] val SurrogateKeySql = Det.md5SliceExpr("c_custkey", 1, 15)

  /** Count-Min sketch geometry: 4 independent hash rows × 256 cells.
    * Width 256 keeps the whole sketch at 1 KiB of longs per executor —
    * the point of CMS is that this footprint is INDEPENDENT of input
    * cardinality. The hash family is the repo's md5-slice idiom seeded
    * by the row index, so the oracle replays every cell exactly. */
  private val CmsDepth = 4
  private val CmsWidth = 256

  /** HyperLogLog geometry: m = 64 registers (p = 6). The 60-bit
    * md5-slice hash splits into a 6-bit register index and a 54-bit
    * suffix whose leading-zero rank feeds the register max — so ranks
    * are 1..55 and the harmonic-sum terms 2^(55−M_j) stay exact
    * BIGINTs (64 · 2⁵⁵ = 2⁶¹ < Long.Max). */
  private val HllM = 64

  /** α·m²·2⁵⁵ — the one double constant in the HLL estimate, computed
    * once here and injected as the SAME shortest-round-trip literal
    * into the Spark plan and the DuckDB oracle, so both engines divide
    * the identical IEEE double by the identical exact BIGINT sum. */
  private val HllAlphaNum: Double =
    0.7213 / (1.0 + 1.079 / HllM) * (HllM.toDouble * HllM) *
      (1L << 55).toDouble

  val queries: Map[String, Q] = Map(
    "agg_countmin" -> ((s, d) => {
      // Count-Min frequency estimation — the mergeable bounded-memory
      // answer to "how often does key k appear in a 100 TB stream".
      // Relational formulation: the sketch IS a (j, cell) -> count
      // table, built with ONE shuffle whose map-side partial
      // aggregation caps every partition's contribution at depth×width
      // rows regardless of input size; sketches from different sources
      // merge by summing cells. Point estimates then probe min over
      // the depth rows — here for user_ids 0..9 (present at every SF).
      // Unlike HLL/t-digest this sketch is hash-green: the md5 family
      // is deterministic and replayed cell-for-cell by DuckDB. CMS
      // guarantees est ≥ true (collisions only add) — OperatorSpec
      // pins both bounds against the exact counts.
      val js = array((0 until CmsDepth).map(lit): _*)
      val cells = Tables.events(s, d).select(col("user_id"))
        .select(col("user_id"), explode(js).as("j"))
        .withColumn("cell",
          expr(s"${Det.md5SliceExpr("concat(j, ':', user_id)", 1, 8)}" +
            s" % $CmsWidth"))
        .groupBy("j", "cell").agg(count(lit(1)).as("c"))
      val probes = Tables.events(s, d)
        .filter(col("user_id") < 10)
        .select(col("user_id").as("k")).distinct()
        .select(col("k"), explode(js).as("j"))
        .withColumn("cell",
          expr(s"${Det.md5SliceExpr("concat(j, ':', k)", 1, 8)}" +
            s" % $CmsWidth"))
      probes.join(cells, Seq("j", "cell"), "left")
        .groupBy("k")
        .agg(min(coalesce(col("c"), lit(0L))).as("cms_est"))
        .orderBy("k")
    }),

    "agg_hll_cells" -> ((s, d) => {
      // HyperLogLog distinct estimation as a RELATIONAL register table —
      // the mergeable bounded-memory answer to "how many distinct users
      // per segment in a 100 TB stream", and the hash-green counterpart
      // to the ✗-oracle agg_approx_distinct (whose HLL++ sketch bytes
      // are engine-private). The sketch IS (group, j) → max rank: one
      // shuffle whose map-side partial agg caps every partition's
      // contribution at m rows per group regardless of input size;
      // sketches merge by register-max — the HLL merge law. Everything
      // the oracle hashes is exact: md5-slice hash, integer rank via
      // length(bin(w)) (no float log2), harmonic sum as BIGINT
      // 2^(55−M_j) terms, and ONE shared double literal for α·m²·2⁵⁵.
      // OperatorSpec bounds the estimate against the exact distinct
      // count (σ = 1.04/√64 ≈ 13%).
      val m = HllM
      val regs = Tables.events(s, d)
        .select(col("event_type"),
          expr(Det.md5SliceExpr("user_id", 1, 15)).as("h"))
        .withColumn("j", col("h") % m)
        .withColumn("w", expr(s"h div $m"))
        .withColumn("r", when(col("w") === 0L, lit(55))
          .otherwise(lit(55) - length(expr("bin(w)"))))
        .groupBy(col("event_type"), col("j"))
        .agg(max(col("r")).as("mj"))
      regs.groupBy(col("event_type"))
        .agg(count(lit(1)).as("nz"),
          sum(expr("shiftleft(CAST(1 AS BIGINT), 55 - mj)")).as("sp"))
        .withColumn("s_sum",
          col("sp") + (lit(m.toLong) - col("nz")) * lit(1L << 55))
        .withColumn("raw", lit(HllAlphaNum) / col("s_sum").cast(DoubleType))
        .withColumn("zeros", lit(m.toLong) - col("nz"))
        .withColumn("hll_est", round(
          when(col("raw") <= lit(2.5 * m) && col("zeros") > 0,
            lit(m.toDouble) * log(lit(m.toDouble) / col("zeros").cast(DoubleType)))
            .otherwise(col("raw")), 4))
        .select(col("event_type"), col("nz"), col("hll_est"))
        .orderBy("event_type")
    }),

    "agg_mad" -> ((s, d) => {
      // Median absolute deviation — the robust dispersion statistic
      // (outlier-immune where stddev is not; the robust-stats
      // complement to win_zscore). Two passes by construction: the
      // group median, then the median of absolute deviations from it.
      // The per-group median table is broadcast back (group-count-sized,
      // never corpus-sized); both engines interpolate medians with the
      // same quantile_cont definition proven by agg_percentile.
      val med = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.5)").as("med"))
      Tables.lineitem(s, d).join(broadcast(med), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(
          round(min(col("med")), 4).as("med"),
          round(expr("percentile(abs(l_quantity - med), 0.5)"), 4)
            .as("mad"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),

    "agg_skew_kurt" -> ((s, d) => {
      // Third/fourth-moment statistics (skewness, excess kurtosis) via
      // EXACT integer power sums: l_quantity is integral by data
      // contract (≤ ~50), so q^k fits a LONG per row (50^4 = 6.25e6)
      // and the sums accumulate as DECIMAL(38,0) — order-independent
      // and overflow-safe past 10^12 rows (100 TB regime; a pure LONG
      // sum would saturate at ~10^12 rows × 6.25e6). Built-in
      // skewness()/kurtosis() fold doubles in partition order and
      // can't cross a hash gate. One partial-aggregated shuffle; the
      // closed forms then run as one identical IEEE double expression
      // in both engines (m2^1.5 spelled m2*sqrt(m2): sqrt is
      // correctly-rounded IEEE in both engines, pow() is not).
      val q = col("l_quantity").cast(LongType)
      val dec0 = DecimalType(38, 0)
      val sums = Tables.lineitem(s, d)
        .select(col("l_returnflag"), q.as("q"))
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).cast(DoubleType).as("n"),
          sum(col("q").cast(dec0)).cast(DoubleType).as("s1"),
          sum((col("q") * col("q")).cast(dec0)).cast(DoubleType).as("s2"),
          sum((col("q") * col("q") * col("q")).cast(dec0)).cast(DoubleType).as("s3"),
          sum((col("q") * col("q") * col("q") * col("q")).cast(dec0))
            .cast(DoubleType).as("s4"))
      val n = col("n"); val s1 = col("s1"); val s2 = col("s2")
      val s3 = col("s3"); val s4 = col("s4")
      val mean = s1 / n
      val m2 = s2 / n - mean * mean
      val m3 = s3 / n - lit(3.0) * mean * (s2 / n) + lit(2.0) * mean * mean * mean
      val m4 = s4 / n - lit(4.0) * mean * (s3 / n) +
        lit(6.0) * mean * mean * (s2 / n) -
        lit(3.0) * mean * mean * mean * mean
      sums.select(
        col("l_returnflag"), n.cast(LongType).as("n"),
        round(mean, 4).as("mean_qty"),
        round(m3 / (m2 * sqrt(m2)), 4).as("skew_qty"),
        round(m4 / (m2 * m2) - lit(3.0), 4).as("kurt_qty"))
        .orderBy("l_returnflag")
    }),

    "agg_entropy" -> ((s, d) => {
      // Shannon entropy (bits) of the source distribution within each
      // language — the mixture-diversity signal a corpus-curation run
      // monitors (a lang whose entropy collapses is being fed by one
      // crawler). Counts are exact longs; the per-term p·log2(p)
      // doubles are identical IEEE in both engines (ln spelled
      // log(p)/log(2) on both sides), and the cross-term SUM goes
      // through the fixed-point path (Det.sumFixed) — a raw double
      // fold would merge in partition order and violate the §7.4
      // discipline (|p·log2 p| ≤ 0.54 fits the 2⁴⁰ scale exactly).
      // Two output-sized aggregations after one fact shuffle.
      val cnt = Tables.documents(s, d)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("c"))
      val tot = cnt.groupBy(col("lang"))
        .agg(sum(col("c")).as("t"), count(lit(1)).as("n_sources"))
      val p = col("c").cast(DoubleType) / col("t").cast(DoubleType)
      cnt.join(tot, "lang")
        .groupBy(col("lang"), col("n_sources"))
        .agg(round(-sumFixed(p * log(p) / log(lit(2.0))), 4).as("entropy_bits"))
        .select(col("lang"), col("n_sources"), col("entropy_bits"))
        .orderBy("lang")
    }),

    "join_geo_radius" -> ((s, d) => {
      // Grid-bucketed geo-radius join — the SPATIAL member of the
      // blocked-join family (join_range_bucketed for intervals,
      // join_fuzzy_levenshtein for strings): customers within 800 km
      // of each supplier, without the O(n·m) cross join. Both point
      // sets land on an 8°×8° grid; the supplier side explodes to its
      // candidate cell neighborhood, whose LONGITUDE span adapts to
      // latitude (cells shrink toward the poles — nlon is derived
      // per row from the worst partner latitude by the same IEEE
      // expression in both engines, and is provably ≤ 3 for the
      // |lat| ≤ 70° domain; polar caps are excluded and documented —
      // production gives the poles a dedicated partition). Candidate
      // generation is then ONE cell-keyed equi-join (each pair meets
      // exactly once because the probe side owns exactly one cell),
      // the exact haversine ≤ R filter runs on candidates only, and
      // at 100 TB the cell key is what the shuffle partitions on —
      // Σ cell² cost with the usual hot-cell (dense-city) salting
      // lever, never all-pairs.
      val R = 800.0; val G = 8.0; val KmPerDeg = 111.045
      def pts(df: DataFrame, key: String, mlat: Int, mlon: Int) =
        df.select(col(key),
            ((col(key) * mlat % 1800).cast(DoubleType) / 10.0 - 90.0).as("lat"),
            ((col(key) * mlon % 3600).cast(DoubleType) / 10.0 - 180.0).as("lon"))
          .filter(abs(col("lat")) <= 70.0)
      val su = pts(Tables.supplier(s, d), "s_suppkey", 397, 1381)
      val cu = pts(Tables.customer(s, d), "c_custkey", 463, 977)
      val maxPartnerLat = least(abs(col("lat")) + lit(R / KmPerDeg), lit(70.0))
      val nlon = (floor(lit(R) / (lit(KmPerDeg) * lit(G)
        * cos(radians(maxPartnerLat)))).cast(IntegerType) + 1).as("nlon")
      val sCells = su
        .withColumn("nlon", nlon)
        .withColumn("i", explode(sequence(lit(-1), lit(1))))
        .withColumn("j", explode(sequence(lit(-3), lit(3))))
        .filter(abs(col("j")) <= col("nlon"))
        .select(col("s_suppkey"), col("lat").as("slat"), col("lon").as("slon"),
          (floor(col("lat") / G).cast(IntegerType) + col("i")).as("clat"),
          pmod(floor(col("lon") / G).cast(IntegerType) + col("j"), lit(45))
            .as("clon"))
      val cCells = cu.select(col("c_custkey"),
        col("lat").as("clat2"), col("lon").as("clon2"),
        floor(col("lat") / G).cast(IntegerType).as("clat"),
        pmod(floor(col("lon") / G).cast(IntegerType), lit(45)).as("clon"))
      val rad = lit(math.Pi) / lit(180.0)
      val dlat = (col("clat2") - col("slat")) * rad
      val dlon = (col("clon2") - col("slon")) * rad
      val a = sin(dlat / 2) * sin(dlat / 2) +
        cos(col("slat") * rad) * cos(col("clat2") * rad) *
          sin(dlon / 2) * sin(dlon / 2)
      val km = lit(2.0) * lit(6371.0) * asin(sqrt(a))
      sCells.join(cCells, Seq("clat", "clon"))
        .withColumn("kmRaw", km)
        .filter(col("kmRaw") <= R)
        .select(col("s_suppkey"), col("c_custkey"),
          round(col("kmRaw"), 2).as("km"))
        .orderBy("s_suppkey", "c_custkey")
    }),

    "join_geo_nearest" -> ((s, d) => {
      // Nearest-neighbor spatial join — "which supplier serves this
      // customer": each customer's closest supplier within the 800 km
      // candidate neighborhood, COMPOSED on join_geo_radius's
      // grid-bucketed candidate pairs (same cells, same haversine, so
      // the two keys can never disagree about who is in range) plus
      // one customer-partitioned ranking window. Ties on the 2-dp
      // distance break by supplier id — a total order both engines
      // replay. Customers with an empty 800 km neighborhood drop out
      // (production widens the ring for them — the standard expanding-
      // search escalation, still cell-keyed).
      val cand = queries("join_geo_radius")(s, d)
      val w = Window.partitionBy("c_custkey")
        .orderBy(col("km"), col("s_suppkey"))
      cand
        .withColumn("n_cands",
          count(lit(1)).over(Window.partitionBy("c_custkey")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") === 1)
        .select(col("c_custkey"), col("s_suppkey").as("nearest_supp"),
          col("km"), col("n_cands"))
        .orderBy("c_custkey")
    }),

    "fn_geo_haversine" -> ((s, d) => {
      // Great-circle (haversine) distance — the geo primitive for the
      // reference's globecoordinate datavalues (SURVEY §1.1). Synthetic
      // per-customer coordinates derive from the key by exact modular
      // arithmetic (same integer ops both engines), then the classic
      // haversine to a fixed anchor runs as one identical IEEE
      // expression. sin/cos differ from glibc by ≤1 ulp in the worst
      // case — ~1e-11 km against a 0.01 km rounding grid, so a grid
      // boundary flip needs a value within 1e-9 of an edge (checked
      // empirically at all three SFs by preflight). Map-side only: no
      // shuffle until the output sort.
      val lat1 = (col("c_custkey") * lit(7) % lit(1800)).cast(DoubleType) / lit(10.0) - lit(90.0)
      val lon1 = (col("c_custkey") * lit(13) % lit(3600)).cast(DoubleType) / lit(10.0) - lit(180.0)
      val rad = lit(math.Pi) / lit(180.0)
      val lat2 = lit(48.8566); val lon2 = lit(2.3522)
      val dlat = (lat2 - lat1) * rad
      val dlon = (lon2 - lon1) * rad
      val a = sin(dlat / 2) * sin(dlat / 2) +
        cos(lat1 * rad) * cos(lat2 * rad) * sin(dlon / 2) * sin(dlon / 2)
      val dist = lit(2.0) * lit(6371.0) * asin(sqrt(a))
      Tables.customer(s, d).select(
        col("c_custkey"),
        round(lat1, 1).as("lat"), round(lon1, 1).as("lon"),
        round(dist, 2).as("km_to_paris"))
        .orderBy("c_custkey")
    }),

    "join_fuzzy_levenshtein" -> ((s, d) => {
      // Blocked fuzzy self-join: near-matching part names by edit
      // distance. The naive form is an O(n²) cross join; blocking on
      // the last name token (the product noun) turns it into an equi
      // join whose cost is Σ block² — the standard entity-resolution
      // shape, and at 100 TB the block key is what the shuffle
      // partitions on. levenshtein() is the exact unit-cost edit
      // distance in both engines; a<b emits each unordered pair once.
      val names = Tables.part(s, d).select(col("p_name")).distinct()
        .withColumn("blk", element_at(split(col("p_name"), " "), -1))
      val a = names.select(col("p_name").as("a"), col("blk"))
      val b = names.select(col("p_name").as("b"), col("blk").as("blk2"))
      a.join(b, col("blk") === col("blk2") && col("a") < col("b"))
        .select(col("a"), col("b"),
          levenshtein(col("a"), col("b")).as("edit_dist"))
        .filter(col("edit_dist") <= 4)
        .orderBy("a", "b")
    }),

    "etl_surrogate_keys" -> ((s, d) => {
      // Deterministic surrogate-key assignment — the scalable
      // alternative to monotonically_increasing_id (changes under task
      // retry/repartition) and row_number over a global sort (one
      // table-wide exchange): a 60-bit key from md5 of the natural key
      // is a pure map-side expression, identical across runs and
      // partitionings. The collision audit rides along as a window
      // count over the new key — at 60 bits the birthday bound stays
      // ~3% even at 10^8 keys; production widens to two 64-bit words
      // with the same plan shape.
      val sk = expr(SurrogateKeySql)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("sk"))
      Tables.customer(s, d).select(col("c_custkey"), sk.as("sk"))
        .withColumn("n_shared", count(lit(1)).over(w).cast(IntegerType))
        .orderBy("c_custkey")
    }),

    "etl_table_checksum" -> ((s, d) => {
      // Order-independent content checksum per partition group — how
      // two 100 TB snapshots compare WITHOUT sorting either: XOR of
      // 60-bit row hashes is commutative/associative, so the partial
      // aggregation merges in any order and any partitioning, and a
      // replica diverging by one row flips the group checksum. Hash
      // input sticks to integers, plain strings, and ISO date strings
      // — double→string formatting is NOT a cross-engine contract.
      val rowHash = expr(Det.md5SliceExpr(
        """concat_ws('|',
             CAST(o_orderkey AS STRING), CAST(o_custkey AS STRING),
             o_orderstatus, o_orderpriority,
             CAST(CAST(o_orderdate AS DATE) AS STRING))""", 1, 15))
      Tables.orders(s, d)
        .select(col("o_orderstatus"), rowHash.as("h"))
        .groupBy(col("o_orderstatus"))
        .agg(expr("bit_xor(h)").as("checksum"), count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    }),

    "etl_dq_audit" -> ((s, d) => {
      // Warehouse data-quality audit as one tall (check, value) frame —
      // the gate a 100 TB ingest runs before publishing a snapshot.
      // All row-level lineitem checks fold into ONE scan of the fact
      // table (conditional aggregates, map-side partial); referential
      // integrity is a broadcast-able anti-join against the orders
      // keys; duplicate-key detection is an output-sized aggregate on
      // the (already small) orders side. The union is of 1-row frames,
      // not a shuffle.
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val rowChecks = li.agg(
        count(lit(1)).as("row_count_lineitem"),
        sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("null_shipdate"),
        sum(when(col("l_extendedprice") <= 0.0, 1L).otherwise(0L)).as("nonpos_price"),
        sum(when(col("l_quantity") =!= col("l_quantity").cast(LongType)
          .cast(DoubleType), 1L).otherwise(0L)).as("nonintegral_qty"),
        sum(when(col("l_discount") < 0.0 || col("l_discount") > 1.0, 1L)
          .otherwise(0L)).as("discount_out_of_range"))
      val orphans = li.join(o, col("l_orderkey") === col("o_orderkey"),
        "left_anti").agg(count(lit(1)).as("orphan_lineitems"))
      val dups = o.groupBy(col("o_orderkey")).agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).agg(count(lit(1)).as("dup_orderkeys"))
      val tall = rowChecks.selectExpr(
        "stack(5, 'row_count_lineitem', row_count_lineitem, " +
          "'null_shipdate', null_shipdate, 'nonpos_price', nonpos_price, " +
          "'nonintegral_qty', nonintegral_qty, " +
          "'discount_out_of_range', discount_out_of_range) AS (check, value)")
      val tall2 = orphans.selectExpr("'orphan_lineitems' AS check",
        "orphan_lineitems AS value")
      val tall3 = dups.selectExpr("'dup_orderkeys' AS check",
        "dup_orderkeys AS value")
      tall.unionAll(tall2).unionAll(tall3).orderBy("check")
    }),

    "agg_chisq" -> ((s, d) => {
      // Pearson χ² test of independence between two categorical
      // dimensions (order status × priority) — the significance gate
      // behind "did this cohort's mix actually shift" in an A/B or
      // drift report. Shape at 100 TB: THREE aggregates over one scan
      // lineage (cells, row totals, column totals — each map-side
      // partial to ≤|domain| rows), then all arithmetic happens on the
      // ≤ r·c cell frame with the totals broadcast. Determinism: obs,
      // rt, ct, N are exact BIGINTs; the per-cell deviation o·N − rt·ct
      // is computed in DECIMAL(38,0) — the products reach N², which
      // overflows BIGINT past N ≈ 3·10⁹ rows (an ANSI runtime error),
      // while DECIMAL(38,0) holds N² exactly to N ≈ 10¹⁹ — then cast
      // to double once; each cell's contribution
      // (dd²)/(rt·ct·N) is ONE closed-form IEEE expression on exact
      // ints, identical in both engines; and the χ² total crosses the
      // engines as an exact DECIMAL(38,6) sum of those per-cell
      // doubles — never a float accumulation order.
      val o = Tables.orders(s, d).select(
        col("o_orderstatus").as("status"),
        col("o_orderpriority").as("priority"))
      val cells = o.groupBy("status", "priority")
        .agg(count(lit(1)).as("obs"))
      val rts = o.groupBy("status").agg(count(lit(1)).as("rt"))
      val cts = o.groupBy("priority").agg(count(lit(1)).as("ct"))
      val nD = o.agg(count(lit(1)).as("nn"))
      val scored = cells
        .join(broadcast(rts), "status")
        .join(broadcast(cts), "priority")
        .crossJoin(broadcast(nD))
        .withColumn("dd",
          (col("obs").cast(DecimalType(38, 0)) * col("nn")
            - col("rt").cast(DecimalType(38, 0)) * col("ct"))
            .cast(DoubleType))
        .withColumn("expected",
          col("rt").cast(DoubleType) * col("ct") / col("nn"))
        .withColumn("contrib", col("dd") * col("dd")
          / (col("rt").cast(DoubleType) * col("ct") * col("nn")))
      val tot = scored.agg(
        round(sum(col("contrib").cast(DecimalType(38, 6))), 6)
          .cast(DoubleType).as("chi2"),
        ((countDistinct(col("status")) - 1)
          * (countDistinct(col("priority")) - 1)).as("df"))
      scored.crossJoin(broadcast(tot))
        .select(col("status"), col("priority"), col("obs"),
          round(col("expected"), 4).as("expected"),
          round(col("contrib"), 6).as("contrib"),
          col("chi2"), col("df"))
        .orderBy("status", "priority")
    }),

    "agg_multireg" -> ((s, d) => {
      // Two-feature OLS (net revenue ~ gross price + discount; the
      // true surface y = x1·(1−x2) is bilinear, so the linear fit
      // recovers β₁ ≈ 1−E[x2] with R² ≈ 0.999 — OperatorSpec pins
      // that floor and the residual structure) by the normal
      // equations — multiple regression as ONE distributed pass: the
      // nine moment sums (map-side partial, exact DECIMAL(38,8)
      // accumulation) collapse the fact table to a single row, and the
      // 3×3 solve is Cramer's rule on that row — closed-form double
      // arithmetic built from THE SAME expression strings the oracle
      // embeds (regSolveSql is shared verbatim), so both engines run
      // identical IEEE ops on identical inputs. This is how OLS runs
      // at 100 TB: moments are an aggregate, the solve is O(p³) on
      // the driver-sized result — never an iterative pass over data.
      Tables.lineitem(s, d)
        .selectExpr(RegBase: _*)
        .selectExpr(RegSums: _*)
        .selectExpr(RegSolve: _*)
    }),

    "agg_power_analysis" -> ((s, d) => {
      // A/B sample-size planning — the third leg of the experiment
      // toolkit (agg_ttest reads a result, agg_cuped shrinks variance,
      // this one answers "how long must we run"): n per arm =
      // 2σ²(z_{α/2}+z_β)²/δ² for α=0.05 two-sided, 80% power, and a
      // 5%-of-mean minimum detectable effect, from the click metric's
      // one-pass moments. The z quantiles are shared literals (the
      // Benford-constant discipline — no erf in either engine); moments
      // are exact DECIMAL sums; the solve is one closed-form string
      // both engines compile. Corpus-size-independent after the one
      // aggregate.
      Tables.events(s, d).filter(col("event_type") === "click")
        .select(col("value").cast(DoubleType).as("x"))
        .selectExpr(PowerSums: _*).selectExpr(PowerSolve: _*)
    }),

    "agg_cuped" -> ((s, d) => {
      // CUPED variance reduction (Deng et al., WSDM'13) — the standard
      // A/B-test power tool: regress each user's experiment-period
      // metric on their PRE-period metric and report how much metric
      // variance the covariate removes (θ = cov/var_pre; reduced
      // variance = var_post − cov²/var_pre; the reduction equals ρ²).
      // Shape at 100 TB: one fact pass to per-user (pre, post) sums —
      // pre/post split at min(day)+15 via a broadcast scalar — then
      // the agg_multireg discipline: six moment sums (map-side
      // partial, exact DECIMAL accumulation of per-row IEEE products)
      // collapse everything to ONE row, and θ/variances are closed-form
      // doubles from expression strings the oracle embeds verbatim.
      val ev = Tables.events(s, d).select(col("user_id"),
        Det.epochDay(col("ts")).as("day"),
        col("value"))
      val d0 = ev.agg(min(col("day")).as("d0"))
      val per = ev.crossJoin(broadcast(d0))
        .groupBy("user_id")
        .agg(
          money(sum(when(col("day") < col("d0") + 15, dec(col("value")))
            .otherwise(lit(0).cast(Det.Money)))).as("pre"),
          money(sum(when(col("day") >= col("d0") + 15, dec(col("value")))
            .otherwise(lit(0).cast(Det.Money)))).as("post"))
      per.selectExpr(CupedSums: _*).selectExpr(CupedSolve: _*)
    }),

    "agg_mannwhitney" -> ((s, d) => {
      // Mann–Whitney U (Wilcoxon rank-sum) — KS's companion: does one
      // cohort STOCHASTICALLY DOMINATE the other. Exact arithmetic
      // throughout: ties take average ranks, carried as DOUBLED
      // integers (a value group occupying ranks s+1..s+c has average
      // 2·rank = 2s+c+1 — always an integer), so the rank sum and
      // U₁ = R₁ − n₁(n₁+1)/2 never touch floats until the one
      // closed-form z at the end. Rank prefixes use the two-level
      // construction over the VALUE-GROUP table (distinct-values-
      // sized, itself bucketed — no unpartitioned window over
      // anything data-sized).
      val base = Tables.events(s, d)
        .filter(col("event_type").isin("click", "view"))
        .select(col("event_type").as("g"), col("value").as("x"),
          floor(col("value")).cast(LongType).as("bk"))
      val groups = base.groupBy("bk", "x").agg(
        count(lit(1)).as("cnt"),
        sum(when(col("g") === "click", 1L).otherwise(0L)).as("cclick"))
      val bkTot = groups.groupBy("bk").agg(sum(col("cnt")).as("bn"))
      val bkOff = bkTot
        .withColumn("off", coalesce(sum(col("bn")).over(
          Window.orderBy("bk")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("bk"), col("off"))
      val wLoc = Window.partitionBy("bk").orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
      val staged = groups.join(broadcast(bkOff), "bk")
        .withColumn("sbefore",
          col("off") + coalesce(sum(col("cnt")).over(wLoc), lit(0L)))
        // doubled average rank of this value group
        .withColumn("avg2",
          lit(2L) * col("sbefore") + col("cnt") + 1L)
      // Tie-corrected normal variance: ranks are tie-averaged, so the
      // no-tie n₁n₂(n+1)/12 overstates |z| on heavily tied data. The
      // standard correction needs Σ(t³−t) over tie groups — and the
      // value-group table already IS the tie-group table, so the term
      // is one more aggregate over it. t³ is accumulated in
      // DECIMAL(38,0) (exact, order-free; t³ overflows BIGINT past
      // t ≈ 2·10⁶ tied rows), cast to double once inside the closed
      // form shared verbatim with the oracle.
      val sums = staged.agg(
        sum(col("cclick") * col("avg2")).as("r1x2"),
        sum(col("cclick")).as("n1"),
        sum(col("cnt") - col("cclick")).as("n2"),
        sum(col("cnt").cast(DecimalType(38, 0)) * col("cnt") * col("cnt")
          - col("cnt")).as("tsum"))
      sums.selectExpr("n1", "n2",
        "(CAST(r1x2 AS DOUBLE) - n1 * (n1 + 1.0)) / 2.0 AS u1",
        "round(((CAST(r1x2 AS DOUBLE) - n1 * (n1 + 1.0)) / 2.0" +
          " - CAST(n1 AS DOUBLE) * n2 / 2.0)" +
          " / sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0" +
          " * ((n1 + n2 + 1.0) - CAST(tsum AS DOUBLE)" +
          " / ((n1 + n2) * (n1 + n2 - 1.0)))), 4) AS z")
    }),

    "agg_ks_test" -> ((s, d) => {
      // Two-sample Kolmogorov–Smirnov — the distribution-shift test
      // (click vs view event values): D = max |F₁(x) − F₂(x)|. The
      // entire statistic is EXACT INTEGER arithmetic: running
      // per-cohort counts i and j over the pooled value order
      // maximize |i·n₂ − j·n₁| — the ECDF gap as a cross-product, no
      // division until the single closed-form D at the end. Ties
      // between cohorts at equal values are handled the standard way:
      // the gap is evaluated AFTER all rows of a tied value (max over
      // the last row per value group), identically in both engines.
      // The oracle replays the same counts with one plain window
      // (single-node DuckDB); the Spark side uses the two-level
      // construction below so no fact-sized frame ever sorts in one
      // partition.
      // Two-level prefix (the pack_sequences construction): a global
      // sorted window would drag the pooled fact rows into ONE
      // partition — instead coarse VALUE BUCKETS get per-bucket
      // windows, and only the bucket-total table (bounded by the
      // value range; production derives buckets from a quantile
      // sketch) crosses an unpartitioned window.
      val base = Tables.events(s, d)
        .filter(col("event_type").isin("click", "view"))
        .select(col("event_type").as("g"), col("value").as("x"),
          floor(col("value")).cast(LongType).as("bk"))
      val ns = base.groupBy("g").agg(count(lit(1)).as("n"))
      val n1d = ns.filter(col("g") === "click").select(col("n").as("n1"))
      val n2d = ns.filter(col("g") === "view").select(col("n").as("n2"))
      val bkTotals = base.groupBy("bk").agg(
        sum(when(col("g") === "click", 1L).otherwise(0L)).as("bi"),
        sum(when(col("g") === "view", 1L).otherwise(0L)).as("bj"))
      val wBk = Window.orderBy("bk")
        .rowsBetween(Window.unboundedPreceding, -1)
      val bkOff = bkTotals.select(col("bk"),
        coalesce(sum(col("bi")).over(wBk), lit(0L)).as("oi"),
        coalesce(sum(col("bj")).over(wBk), lit(0L)).as("oj"))
      val wLoc = Window.partitionBy("bk").orderBy(col("x"), col("g"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val staged = base.join(broadcast(bkOff), "bk")
        .withColumn("i", col("oi")
          + sum(when(col("g") === "click", 1L).otherwise(0L)).over(wLoc))
        .withColumn("j", col("oj")
          + sum(when(col("g") === "view", 1L).otherwise(0L)).over(wLoc))
        // evaluate the gap only at each value group's last row (the
        // ECDF is right-continuous; mid-tie gaps are not attained)
        .withColumn("rn",
          row_number().over(Window.partitionBy("x")
            .orderBy(col("g").desc, col("i").desc, col("j").desc)))
        .filter(col("rn") === 1)
      // The ECDF cross-products i·n₂ and j·n₁ reach n₁·n₂ — past
      // BIGINT at ~6·10⁹ pooled rows (the agg_chisq overflow class) —
      // so the gap is computed in DECIMAL(38,0), exact to 10¹⁹.
      staged.crossJoin(broadcast(n1d)).crossJoin(broadcast(n2d))
        .select(abs(col("i").cast(DecimalType(38, 0)) * col("n2")
          - col("j").cast(DecimalType(38, 0)) * col("n1"))
          .as("gap"), col("n1"), col("n2"))
        .groupBy("n1", "n2")
        .agg(max(col("gap")).as("maxgap"))
        .select(col("n1"), col("n2"),
          round(col("maxgap").cast(DoubleType)
            / (col("n1").cast(DoubleType) * col("n2")), 6).as("ks_d"))
    }),

    "agg_benford" -> ((s, d) => {
      // Benford's-law first-digit audit — the fraud/synthetic-data
      // smell test: natural multi-scale amounts follow
      // P(d) = log10(1 + 1/d); a column that deviates hard was
      // generated, capped, or tampered. One map-only digit extract
      // (leading digit via the INTEGER part's decimal string — no
      // float log10 near a power-of-ten boundary), one 9-row
      // aggregate, χ²-style distance against the Benford expectation
      // baked as shared literals. On THIS fixture the test truthfully
      // REJECTS Benford (o_totalprice is ~uniform on a bounded range,
      // so digit mass piles low) — the diagnostic working as designed;
      // OperatorSpec pins that reading.
      val digits = Tables.orders(s, d)
        .select(substring(floor(col("o_totalprice")).cast(LongType)
          .cast(StringType), 1, 1).cast(IntegerType).as("digit"))
        .filter(col("digit") >= 1)
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val tot = digits.agg(sum(col("n")).as("tot"))
      digits.crossJoin(broadcast(tot))
        .withColumn("observed",
          round(col("n").cast(DoubleType) / col("tot"), 6))
        .withColumn("expected", element_at(expr(BenfordArr),
          col("digit")))
        .withColumn("chi_term",
          round((col("observed") - col("expected"))
            * (col("observed") - col("expected")) / col("expected"), 6))
        .select(col("digit"), col("n"), col("observed"),
          round(col("expected"), 6).as("expected"), col("chi_term"))
        .orderBy("digit")
    }),

    "agg_assoc_rules" -> ((s, d) => {
      // Association rules (market-basket) — support / confidence /
      // lift for item pairs co-purchased in an order: the classic
      // retail miner, and relationally the same blocked shape as the
      // co-occurrence graph build: distinct (order, item), one
      // order-keyed self-join bounded by items-per-order (never
      // all-pairs over the catalog), marginals folded from the pair
      // table. Counts exact; the three ratios are single IEEE
      // expressions; rules rank by (lift, pair) with a min-support
      // floor. Rules emit in the a<b direction once — confidence is
      // reported for a→b (the b→a twin is c12/c2, derivable). The
      // floor is absolute (≥2 co-purchases) because THIS catalog
      // grows with order count, keeping co-purchase counts sparse at
      // every SF; production states support as a fraction of baskets
      // and prunes with the same HAVING.
      // Physical plan (round 10): ONE order-keyed shuffle. collect_set
      // dedups (ok, pk) multiplicity map-side (replacing the distinct's
      // full-width shuffle), and the per-order item array — bounded by
      // basket size, ≤7 here; a production run caps it like
      // bipartite_project — generates the pairs with `transform`, so
      // the ok-keyed self-join (which re-shuffled the distinct pairs
      // twice more) disappears. The basket frame feeds THREE consumers
      // (order count, item marginals, pairs), so it is checkpointed
      // once (the tfidf tf-reuse discipline) instead of having each
      // consumer re-read the exchange. Measured at sf0.1 driver
      // config: shuffle read 32.1 -> 16.8 MB, write 25.9 -> 16.8 MB,
      // warm wall-clock unchanged.
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val baskets = graft.Ckpt.df(li.groupBy("ok")
        .agg(sort_array(collect_set(col("pk"))).as("items")))
      val nOrd = baskets.agg(count(lit(1)).as("nn"))
      // Round 17 examined the doubled c1 subtree (the static plan
      // carries the explode+aggregate chain once per join side) and
      // REVERTED a Ckpt.df(c1) materialization as a measured no-op:
      // the scoped A/B showed byte-identical shuffle fingerprints
      // (18,113.9 KB both ways) and no timing move — AQE's
      // ReuseExchangeAndSubquery already serves both sides from the
      // one exchange at runtime, so the checkpoint only added a
      // barrier job (git show 79d8cf5:OPTIMIZATION_r17.md).
      val c1 = baskets.select(explode(col("items")).as("pk"))
        .groupBy("pk").agg(count(lit(1)).as("c1"))
      // Round 18: stacked generators + fused filter instead of the
      // nested transform/slice lambda — the HOF path is CodegenFallback
      // (interpreted eval + an array allocation per (row, i)); two
      // explodes fuse into one whole-stage-codegen loop nest with zero
      // allocations. `items` is sort_array(collect_set(...)) — sorted
      // ascending and distinct — so {(a, b) : a < b} enumerates exactly
      // the i < j position pairs the old lambda emitted.
      val pairs = baskets
        .select(col("items"), explode(col("items")).as("a"))
        .select(col("a"), explode(col("items")).as("b"))
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 2)
      pairs
        .join(c1.select(col("pk").as("a"), col("c1").as("ca")), "a")
        .join(c1.select(col("pk").as("b"), col("c1").as("cb")), "b")
        .crossJoin(broadcast(nOrd))
        .select(col("a"), col("b"), col("c12"),
          round(col("c12").cast(DoubleType) / col("nn"), 6).as("support"),
          round(col("c12").cast(DoubleType) / col("ca"), 4)
            .as("confidence"),
          round(col("nn").cast(DoubleType) * col("c12")
            / (col("ca").cast(DoubleType) * col("cb")), 4).as("lift"))
        .orderBy(col("lift").desc, col("a"), col("b"))
        .limit(20)
    }),

    "agg_survival_km" -> ((s, d) => {
      // Kaplan–Meier survival over user activity lifespans — "how
      // long does a user stay active", with RIGHT-CENSORING done
      // honestly: users still active on the final observed day are
      // censored, not counted as churned (the mistake naive retention
      // queries make). Shape: one fact pass to per-user lifespans,
      // then everything runs on the DURATION table (≤ observed-days
      // rows — the documented tiny-frame window exception). The
      // survival product Π(1 − dᵢ/nᵢ) becomes exp(Σ ln(·)) with the
      // per-duration ln terms floored into fixed-point and the
      // running sum exact — order-defined and engine-identical; the
      // everyone-dies terminal row (d = n) short-circuits to 0 via a
      // running flag instead of ln(0).
      val fx = graft.Det.FixedPoint
      val ev = Tables.events(s, d).select(col("user_id"),
        Det.epochDay(col("ts")).as("day"))
      val horizon = ev.agg(max(col("day")).as("hz"))
      val lif = ev.groupBy("user_id")
        .agg(min(col("day")).as("fd"), max(col("day")).as("ld"))
        .crossJoin(broadcast(horizon))
        .select((col("ld") - col("fd")).as("t"),
          (col("ld") >= col("hz")).as("cens"))
      val tb = lif.groupBy("t").agg(
        sum(when(col("cens"), 0L).otherwise(1L)).as("d"),
        sum(when(col("cens"), 1L).otherwise(0L)).as("c"))
      val totDf = tb.agg(sum(col("d") + col("c")).as("tot"))
      val wPrev = Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wInc = Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tb.crossJoin(broadcast(totDf))
        .withColumn("n",
          col("tot") - coalesce(sum(col("d") + col("c")).over(wPrev),
            lit(0L)))
        .withColumn("f", when(col("d") > 0 && col("d") < col("n"),
          floor(log(lit(1.0) - col("d").cast(DoubleType) / col("n"))
            * fx)).otherwise(lit(0L)))
        .withColumn("dead",
          max((col("d") === col("n")).cast(IntegerType)).over(wInc))
        .withColumn("runf", sum(col("f")).over(wInc))
        .select(col("t"), col("n").as("n_at_risk"), col("d").as("events"),
          col("c").as("censored"),
          when(col("dead") === 1, lit(0.0))
            .otherwise(round(exp(col("runf").cast(DoubleType) / fx), 4))
            .as("km"))
        .orderBy("t")
    }),

    "etl_quarantine" -> ((s, d) => {
      // Row-level data-contract enforcement — the quarantine table an
      // ingest publishes next to the clean snapshot: every violating
      // row with the SORTED list of reasons it tripped (distribution
      // outlier, payload field out of range, same-user same-second
      // duplicate burst). Map-only checks plus one (user, second)
      // window for the burst rule; the reason array has a fixed
      // construction order so the joined string is deterministic.
      // Production swaps the literal thresholds for a broadcast
      // contract table; plan shape unchanged.
      val ev = Tables.events(s, d).select(col("event_id"),
        col("user_id"), Det.secs(col("ts")).as("tsec"),
        col("event_type"), col("value"), col("props"))
      val wDup = Window.partitionBy("user_id", "tsec")
      ev
        .withColumn("k",
          expr("CAST(get_json_object(props, '$.k') AS BIGINT)"))
        .withColumn("n_same_sec", count(lit(1)).over(wDup))
        .withColumn("reasons", array_remove(array(
          when(col("value") > 200.0, lit("value_extreme")).otherwise(""),
          when(col("k") >= 90L, lit("k_out_of_range")).otherwise(""),
          when(col("n_same_sec") > 1L, lit("dup_user_second"))
            .otherwise("")), ""))
        .filter(size(col("reasons")) > 0)
        .select(col("event_id"), col("event_type"),
          concat_ws(",", col("reasons")).as("reasons"),
          size(col("reasons")).as("n_reasons"))
        .orderBy("event_id")
    }),

    "agg_gini" -> ((s, d) => {
      // Gini coefficient of order-value concentration per priority —
      // the inequality profile behind "is this segment's revenue
      // carried by a few whales". Sort-based closed form
      // G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx) over ascending ranks: ONE
      // partitioned ranking window + one aggregate, with both sums
      // exact DECIMAL (x is money, i·xᵢ ≤ 38−4 digits at any
      // realistic n) — the division is the single IEEE step, shared
      // verbatim with the oracle.
      // Ranks via the two-level prefix (the agg_ks_test construction):
      // a per-priority global sort would put ~N/5 rows in one window
      // partition; amount buckets get local partitioned ranks and only
      // the (prio, bucket) total table crosses an unpartitioned window.
      val o = Tables.orders(s, d).select(
        col("o_orderpriority").as("prio"),
        dec(col("o_totalprice")).as("x"), col("o_orderkey"),
        floor(col("o_totalprice") / 10000.0).cast(LongType).as("bk"))
      val bkOff = o.groupBy("prio", "bk").agg(count(lit(1)).as("bn"))
        .withColumn("off", coalesce(sum(col("bn")).over(
          Window.partitionBy("prio").orderBy("bk")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("prio"), col("bk"), col("off"))
      val wLoc = Window.partitionBy("prio", "bk")
        .orderBy(col("x"), col("o_orderkey"))
      o.join(broadcast(bkOff), Seq("prio", "bk"))
        .withColumn("i",
          col("off") + row_number().over(wLoc).cast(LongType))
        .groupBy("prio")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("i")).as("six"))
        .selectExpr("prio", "n",
          "round(CAST(sx AS DOUBLE) / n, 4) AS mean_value",
          "round((2.0 * CAST(six AS DOUBLE) - (n + 1.0)" +
            " * CAST(sx AS DOUBLE)) / (n * CAST(sx AS DOUBLE)), 6)" +
            " AS gini")
        .orderBy("prio")
    }),

    "agg_ttest" -> ((s, d) => {
      // Welch two-sample t-test (click vs view event values) — the
      // A/B significance primitive. Same moments+closed-form pattern
      // as agg_multireg: per-cohort n/Σx/Σx² fold map-side in exact
      // DECIMAL(38,8), the two 1-row cohort frames cross-join, and
      // the t statistic + Welch–Satterthwaite df are closed-form
      // doubles built from expression strings shared verbatim with
      // the oracle. A 100 TB A/B readout is two aggregates and a
      // scalar — never a second pass.
      val sums = Tables.events(s, d)
        .filter(col("event_type").isin("click", "view"))
        .selectExpr("event_type", "CAST(value AS DOUBLE) AS x")
        .groupBy("event_type")
        .agg(expr(TMoments(0)).as("n"), expr(TMoments(1)).as("sx"),
          expr(TMoments(2)).as("sxx"))
      val a = sums.filter(col("event_type") === "click")
        .select(col("n").as("n1"), col("sx").as("sx1"),
          col("sxx").as("sxx1"))
      val b = sums.filter(col("event_type") === "view")
        .select(col("n").as("n2"), col("sx").as("sx2"),
          col("sxx").as("sxx2"))
      a.crossJoin(broadcast(b)).selectExpr(TSolve: _*)
    }),

    "etl_anomaly_flags" -> ((s, d) => {
      // APPLIED robust outlier detection — agg_mad turned into the
      // row-level product a monitoring pipeline actually ships: every
      // event whose value sits more than 3 MADs from its event-type
      // cohort median, with the deviation ratio for triage. Median/MAD
      // (not mean/stddev) because the threshold itself must not move
      // when the outliers it hunts arrive. Shape: two cohort-keyed
      // aggregate passes produce a COHORT-COUNT-sized (med, mad) table
      // that broadcasts back onto the stream — the fact table shuffles
      // never, and the same plan incrementalizes per partition/day.
      // Determinism: med/mad interpolate identically in both engines
      // (the agg_percentile proof), and the flag compare + ratio are
      // per-row IEEE on identical inputs.
      val ev = Tables.events(s, d)
      val med = ev.groupBy("event_type")
        .agg(expr("percentile(value, 0.5)").as("med"))
      val stats = ev.join(broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(min(col("med")).as("med"),
          expr("percentile(abs(value - med), 0.5)").as("mad"))
      ev.join(broadcast(stats), "event_type")
        .filter(abs(col("value") - col("med")) > lit(3.0) * col("mad"))
        .select(col("event_id"), col("event_type"), col("value"),
          round(col("med"), 4).as("med"), round(col("mad"), 4).as("mad"),
          round((col("value") - col("med")) / col("mad"), 4)
            .as("dev_ratio"))
        .orderBy("event_id")
    })
  )

  /** Benford first-digit probabilities log10(1 + 1/d), d = 1..9, as
    * shortest-round-trip literals shared by both engines (Spark array
    * syntax; the oracle re-lists them via [[benfordArr]]). */
  private def benfordVals: Seq[Double] =
    (1 to 9).map(dd => math.log10(1.0 + 1.0 / dd))
  private[graft] def benfordArr(duck: Boolean): String = {
    val elems = benfordVals.map(v => s"CAST('$v' AS DOUBLE)").mkString(",")
    if (duck) s"[$elems]" else s"array($elems)"
  }
  private val BenfordArr: String = benfordArr(duck = false)

  /** Per-cohort moment aggregates for agg_ttest — shared verbatim
    * with the oracle. */
  private val TMoments: Seq[String] = Seq(
    "CAST(count(*) AS DOUBLE)",
    "CAST(sum(CAST(x AS DECIMAL(38,8))) AS DOUBLE)",
    "CAST(sum(CAST(x * x AS DECIMAL(38,8))) AS DOUBLE)")

  /** Welch t + Satterthwaite df from the joined cohort moments —
    * shared verbatim with the oracle (one association per step). */
  private val TSolve: Seq[String] = {
    val (m1, m2) = ("(sx1 / n1)", "(sx2 / n2)")
    val v1 = s"((sxx1 - sx1 * $m1) / (n1 - 1.0))"
    val v2 = s"((sxx2 - sx2 * $m2) / (n2 - 1.0))"
    val (se1, se2) = (s"($v1 / n1)", s"($v2 / n2)")
    val t = s"(($m1 - $m2) / sqrt($se1 + $se2))"
    val df = s"((($se1 + $se2) * ($se1 + $se2))" +
      s" / ($se1 * $se1 / (n1 - 1.0) + $se2 * $se2 / (n2 - 1.0)))"
    Seq(
      "CAST(n1 AS BIGINT) AS n1", "CAST(n2 AS BIGINT) AS n2",
      s"round($m1, 4) AS mean1", s"round($m2, 4) AS mean2",
      s"round($v1, 4) AS var1", s"round($v2, 4) AS var2",
      s"round($t, 4) AS t_stat", s"round($df, 2) AS df")
  }

  /** Feature projections for agg_multireg — shared verbatim with the
    * oracle so per-row doubles are identical IEEE in both engines. */
  private val RegBase: Seq[String] = Seq(
    "CAST(l_extendedprice AS DOUBLE) AS x1",
    "CAST(l_discount AS DOUBLE) AS x2",
    "CAST(l_extendedprice AS DOUBLE)" +
      " * (1.0 - CAST(l_discount AS DOUBLE)) AS y")

  /** Exact moment-sum projections for agg_multireg — aggregate SQL
    * shared verbatim with the DuckDB oracle (DECIMAL(38,8) sums, one
    * cast to DOUBLE at the end). */
  /** Power-analysis moment sums (one metric column `x`) and the
    * closed-form solve — z_{0.975} and z_{0.80} as shared literals. */
  private val PowerSums: Seq[String] = Seq(
    "CAST(count(*) AS DOUBLE) AS n",
    "CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx",
    "CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx")
  private val PowerSolve: Seq[String] = Seq(
    "CAST(n AS BIGINT) AS n_obs",
    "round(sx / n, 4) AS mu",
    "round(sxx / n - (sx / n) * (sx / n), 4) AS sigma2",
    "round(0.05 * (sx / n), 4) AS mde",
    // nullif: a zero-mean metric makes the MDE denominator exactly 0
    // (x/0 is NaN-vs-config across engines) → n_per_arm NULL instead
    "CAST(ceil(2.0 * (sxx / n - (sx / n) * (sx / n))" +
      " * (1.959964 + 0.841621) * (1.959964 + 0.841621)" +
      " / nullif((0.05 * (sx / n)) * (0.05 * (sx / n)), 0.0))" +
      " AS BIGINT) AS n_per_arm")

  /** CUPED moment sums over the per-user (pre, post) frame — exact
    * DECIMAL accumulation of per-row IEEE products (the RegSums
    * discipline), shared verbatim with the oracle. */
  private val CupedSums: Seq[String] = Seq(
    "CAST(count(*) AS DOUBLE) AS n",
    "CAST(sum(CAST(pre AS DECIMAL(38,6))) AS DOUBLE) AS sx",
    "CAST(sum(CAST(post AS DECIMAL(38,6))) AS DOUBLE) AS sy",
    "CAST(sum(CAST(pre * pre AS DECIMAL(38,6))) AS DOUBLE) AS sxx",
    "CAST(sum(CAST(post * post AS DECIMAL(38,6))) AS DOUBLE) AS syy",
    "CAST(sum(CAST(pre * post AS DECIMAL(38,6))) AS DOUBLE) AS sxy")

  /** CUPED closed forms on the one-row moment frame — θ, raw and
    * adjusted variance, percent reduction (= 100·ρ²). Every
    * subexpression is written out so both engines execute the
    * identical IEEE op sequence. */
  private val CupedSolve: Seq[String] = Seq(
    // nullif on every variance divisor: a degenerate cohort whose
    // pre (or post) values are all identical zeroes the term exactly,
    // and x/0 is NaN in Spark but config-dependent in DuckDB — both
    // engines emit NULL for the affected columns instead.
    "CAST(n AS BIGINT) AS n_users",
    "round((sxy / n - (sx / n) * (sy / n))" +
      " / nullif(sxx / n - (sx / n) * (sx / n), 0.0), 6) AS theta",
    "round(syy / n - (sy / n) * (sy / n), 6) AS var_post",
    "round((syy / n - (sy / n) * (sy / n))" +
      " - ((sxy / n - (sx / n) * (sy / n))" +
      " * (sxy / n - (sx / n) * (sy / n)))" +
      " / nullif(sxx / n - (sx / n) * (sx / n), 0.0), 6)" +
      " AS var_adjusted",
    "round(100.0 * (((sxy / n - (sx / n) * (sy / n))" +
      " * (sxy / n - (sx / n) * (sy / n)))" +
      " / nullif(sxx / n - (sx / n) * (sx / n), 0.0))" +
      " / nullif(syy / n - (sy / n) * (sy / n), 0.0), 4)" +
      " AS var_reduction_pct")

  private val RegSums: Seq[String] = Seq(
    "CAST(count(*) AS DOUBLE) AS n",
    "CAST(sum(CAST(x1 AS DECIMAL(38,8))) AS DOUBLE) AS sx1",
    "CAST(sum(CAST(x2 AS DECIMAL(38,8))) AS DOUBLE) AS sx2",
    "CAST(sum(CAST(x1 * x1 AS DECIMAL(38,8))) AS DOUBLE) AS sx11",
    "CAST(sum(CAST(x2 * x2 AS DECIMAL(38,8))) AS DOUBLE) AS sx22",
    "CAST(sum(CAST(x1 * x2 AS DECIMAL(38,8))) AS DOUBLE) AS sx12",
    "CAST(sum(CAST(y AS DECIMAL(38,8))) AS DOUBLE) AS sy",
    "CAST(sum(CAST(x1 * y AS DECIMAL(38,8))) AS DOUBLE) AS sx1y",
    "CAST(sum(CAST(x2 * y AS DECIMAL(38,8))) AS DOUBLE) AS sx2y",
    "CAST(sum(CAST(y * y AS DECIMAL(38,8))) AS DOUBLE) AS syy")

  /** 3×3 determinant by cofactor expansion — one explicit association
    * so both engines execute the identical IEEE op sequence. */
  private def det3(a: String, b: String, c: String, d: String, e: String,
                   f: String, g: String, h: String, i: String): String =
    s"(($a)*(($e)*($i)-($f)*($h)) - ($b)*(($d)*($i)-($f)*($g))" +
      s" + ($c)*(($d)*($h)-($e)*($g)))"

  /** Cramer solve + R² projections over the moment row — shared
    * verbatim with the oracle. */
  private val RegSolve: Seq[String] = {
    val detM = det3("n", "sx1", "sx2", "sx1", "sx11", "sx12",
      "sx2", "sx12", "sx22")
    val det0 = det3("sy", "sx1", "sx2", "sx1y", "sx11", "sx12",
      "sx2y", "sx12", "sx22")
    val det1 = det3("n", "sy", "sx2", "sx1", "sx1y", "sx12",
      "sx2", "sx2y", "sx22")
    val det2 = det3("n", "sx1", "sy", "sx1", "sx11", "sx1y",
      "sx2", "sx12", "sx2y")
    val (b0, b1, b2) = (s"($det0)/($detM)", s"($det1)/($detM)",
      s"($det2)/($detM)")
    Seq(
      "CAST(n AS BIGINT) AS n",
      s"round($b0, 6) AS beta0",
      s"round($b1, 6) AS beta1",
      s"round($b2, 6) AS beta2",
      s"round(1.0 - (syy - ($b0)*sy - ($b1)*sx1y - ($b2)*sx2y)" +
        " / (syy - sy*sy/n), 6) AS r2")
  }

  /** Grid-bucketed radius-join replay — shared by join_geo_radius and
    * (as the candidate CTE) join_geo_nearest. */
  private val GeoRadiusSql: String =
    """WITH s0 AS (SELECT s_suppkey,
             CAST(s_suppkey*397 % 1800 AS DOUBLE)/10.0 - 90.0 AS lat,
             CAST(s_suppkey*1381 % 3600 AS DOUBLE)/10.0 - 180.0 AS lon
           FROM supplier),
         su AS (SELECT * FROM s0 WHERE abs(lat) <= 70.0),
         c0 AS (SELECT c_custkey,
             CAST(c_custkey*463 % 1800 AS DOUBLE)/10.0 - 90.0 AS lat,
             CAST(c_custkey*977 % 3600 AS DOUBLE)/10.0 - 180.0 AS lon
           FROM customer),
         cu AS (SELECT * FROM c0 WHERE abs(lat) <= 70.0),
         sn AS (SELECT *, CAST(floor(800.0 / (111.045 * 8.0
                  * cos(radians(least(abs(lat) + 800.0/111.045, 70.0)))))
                  AS INTEGER) + 1 AS nlon
                FROM su),
         sc AS (SELECT s_suppkey, lat AS slat, lon AS slon,
                  CAST(floor(lat/8.0) AS INTEGER) + i.i AS clat,
                  ((CAST(floor(lon/8.0) AS INTEGER) + j.j) % 45 + 45) % 45
                    AS clon
                FROM sn,
                     (SELECT unnest([-1,0,1]) AS i) i,
                     (SELECT unnest([-3,-2,-1,0,1,2,3]) AS j) j
                WHERE abs(j.j) <= sn.nlon),
         cc AS (SELECT c_custkey, lat AS clat2, lon AS clon2,
                  CAST(floor(lat/8.0) AS INTEGER) AS clat,
                  ((CAST(floor(lon/8.0) AS INTEGER)) % 45 + 45) % 45 AS clon
                FROM cu),
         dist AS (SELECT s.s_suppkey, c.c_custkey,
                    2.0*6371.0*asin(sqrt(
                      sin((c.clat2-s.slat)*(pi()/180.0)/2)
                        * sin((c.clat2-s.slat)*(pi()/180.0)/2)
                      + cos(s.slat*(pi()/180.0))*cos(c.clat2*(pi()/180.0))
                        * sin((c.clon2-s.slon)*(pi()/180.0)/2)
                        * sin((c.clon2-s.slon)*(pi()/180.0)/2))) AS kmr
                  FROM sc s JOIN cc c USING (clat, clon))
         SELECT s_suppkey, c_custkey, round(kmr, 2) AS km
         FROM dist WHERE kmr <= 800.0
         ORDER BY s_suppkey, c_custkey"""

  val oracles: Map[String, String] = Map(
    // Replays the sketch cell-for-cell: same md5 hash family (seeded by
    // the depth row index), same width, same min-over-rows estimate.
    "agg_countmin" ->
      s"""WITH js AS (SELECT unnest(range($CmsDepth)) AS j),
         cells AS (
           SELECT j,
                  ${Det.md5SliceSql("concat(j, ':', user_id)", 1, 8)}
                    % $CmsWidth AS cell,
                  count(*) AS c
           FROM events CROSS JOIN js GROUP BY 1, 2),
         probes AS (
           SELECT k, j,
                  ${Det.md5SliceSql("concat(j, ':', k)", 1, 8)}
                    % $CmsWidth AS cell
           FROM (SELECT DISTINCT user_id AS k FROM events
                 WHERE user_id < 10) CROSS JOIN js)
         SELECT k, min(coalesce(c, 0)) AS cms_est
         FROM probes LEFT JOIN cells USING (j, cell)
         GROUP BY k ORDER BY k""",

    // Replays the HLL register table exactly: same md5-slice hash,
    // same integer rank (length(bin(w))), exact BIGINT harmonic-sum
    // terms, and the identical injected α·m²·2⁵⁵ literal; ln() appears
    // only inside the 4-dp-rounded small-range branch.
    "agg_hll_cells" ->
      s"""WITH pts AS (SELECT event_type,
             ${Det.md5SliceSql("user_id", 1, 15)} AS h FROM events),
         regs AS (SELECT event_type, h % $HllM AS j,
                    max(CASE WHEN h // $HllM = 0 THEN 55
                             ELSE 55 - length(bin(h // $HllM)) END) AS mj
                  FROM pts GROUP BY 1, 2),
         agg AS (SELECT event_type, count(*) AS nz,
                   sum(CAST(1 AS BIGINT) << (55 - mj)) AS sp
                 FROM regs GROUP BY 1)
         SELECT event_type, nz,
                round(CASE WHEN raw <= ${2.5 * HllM} AND zeros > 0
                           THEN ${HllM.toDouble} *
                                ln(${HllM.toDouble} / CAST(zeros AS DOUBLE))
                           ELSE raw END, 4) AS hll_est
         FROM (SELECT event_type, nz,
                 $HllAlphaNum /
                   CAST(sp + ($HllM - nz) * (CAST(1 AS BIGINT) << 55)
                        AS DOUBLE) AS raw,
                 $HllM - nz AS zeros
               FROM agg)
         ORDER BY event_type""",

    "agg_mad" ->
      """WITH med AS (
           SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med
           FROM lineitem GROUP BY 1)
         SELECT l.l_returnflag,
                round(min(m.med), 4) AS med,
                round(quantile_cont(abs(l.l_quantity - m.med), 0.5), 4)
                  AS mad,
                count(*) AS n
         FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
         GROUP BY 1 ORDER BY 1""",

    "agg_skew_kurt" ->
      """WITH sums AS (
           SELECT l_returnflag,
                  CAST(count(*) AS DOUBLE) AS n,
                  CAST(sum(CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) AS s1,
                  CAST(sum(CAST(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) AS s2,
                  CAST(sum(CAST(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) AS s3,
                  CAST(sum(CAST(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) AS s4
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, CAST(n AS BIGINT) AS n,
             round(s1/n, 4) AS mean_qty,
             round((s3/n - 3.0*(s1/n)*(s2/n) + 2.0*(s1/n)*(s1/n)*(s1/n))
                   / ((s2/n - (s1/n)*(s1/n)) * sqrt(s2/n - (s1/n)*(s1/n))), 4) AS skew_qty,
             round((s4/n - 4.0*(s1/n)*(s3/n) + 6.0*(s1/n)*(s1/n)*(s2/n)
                    - 3.0*(s1/n)*(s1/n)*(s1/n)*(s1/n))
                   / ((s2/n - (s1/n)*(s1/n)) * (s2/n - (s1/n)*(s1/n))) - 3.0, 4) AS kurt_qty
         FROM sums ORDER BY l_returnflag""",

    "agg_entropy" ->
      """WITH cnt AS (
           SELECT lang, source, count(*) AS c FROM documents GROUP BY 1, 2),
         tot AS (
           SELECT lang, sum(c) AS t, count(*) AS n_sources FROM cnt GROUP BY 1)
         SELECT cnt.lang, n_sources,
             round(-(CAST(sum(CAST(floor(
                 (CAST(c AS DOUBLE)/CAST(t AS DOUBLE))
                 * ln(CAST(c AS DOUBLE)/CAST(t AS DOUBLE)) / ln(2.0)
                 * 1099511627776.0) AS BIGINT)) AS DOUBLE)
               / 1099511627776.0), 4) AS entropy_bits
         FROM cnt JOIN tot ON cnt.lang = tot.lang
         GROUP BY cnt.lang, n_sources ORDER BY cnt.lang""",

    // Same candidate generation (grid cells, latitude-adaptive lon
    // span, canonical mod-45 wrap) and the same one-expression IEEE
    // haversine as the Spark side — association mirrored exactly
    // ((pi()/180.0) parenthesized) so both engines run identical ops.
    "join_geo_radius" -> GeoRadiusSql,

    // Candidates are exactly the radius join; one ranking window on the
    // (km, s_suppkey) total order picks the nearest per customer.
    "join_geo_nearest" ->
      s"""WITH cand AS ($GeoRadiusSql)
         SELECT c_custkey, s_suppkey AS nearest_supp, km, n_cands
         FROM (SELECT c_custkey, s_suppkey, km,
                      count(*) OVER (PARTITION BY c_custkey) AS n_cands,
                      row_number() OVER (PARTITION BY c_custkey
                        ORDER BY km, s_suppkey) AS rnk
               FROM cand)
         WHERE rnk = 1 ORDER BY c_custkey""",

    "fn_geo_haversine" ->
      """WITH c AS (
           SELECT c_custkey,
                  CAST(c_custkey * 7 % 1800 AS DOUBLE) / 10.0 - 90.0 AS lat1,
                  CAST(c_custkey * 13 % 3600 AS DOUBLE) / 10.0 - 180.0 AS lon1
           FROM customer)
         SELECT c_custkey, round(lat1, 1) AS lat, round(lon1, 1) AS lon,
             round(2.0 * 6371.0 * asin(sqrt(
               sin((48.8566 - lat1) * (pi() / 180.0) / 2) * sin((48.8566 - lat1) * (pi() / 180.0) / 2)
               + cos(lat1 * (pi() / 180.0)) * cos(48.8566 * (pi() / 180.0))
                 * sin((2.3522 - lon1) * (pi() / 180.0) / 2) * sin((2.3522 - lon1) * (pi() / 180.0) / 2))), 2)
               AS km_to_paris
         FROM c ORDER BY c_custkey""",

    "join_fuzzy_levenshtein" ->
      """WITH names AS (
           SELECT DISTINCT p_name,
                  str_split(p_name, ' ')[-1] AS blk
           FROM part)
         SELECT a.p_name AS a, b.p_name AS b,
             CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist
         FROM names a JOIN names b
           ON a.blk = b.blk AND a.p_name < b.p_name
         WHERE levenshtein(a.p_name, b.p_name) <= 4
         ORDER BY a, b""",

    // 15-hex-char md5 prefix → BIGINT (Det.md5SliceSql, widened to 60
    // bits), the DuckDB twin of Spark's conv().
    "etl_surrogate_keys" ->
      s"""WITH keyed AS (
           SELECT c_custkey,
               ${Det.md5SliceSql("c_custkey", 1, 15)} AS sk
           FROM customer)
         SELECT c_custkey, sk,
             CAST(count(*) OVER (PARTITION BY sk) AS INTEGER) AS n_shared
         FROM keyed ORDER BY c_custkey""",

    "etl_table_checksum" ->
      s"""WITH h AS (
           SELECT o_orderstatus,
               ${Det.md5SliceSql(
                 """concat_ws('|',
                      CAST(o_orderkey AS VARCHAR),
                      CAST(o_custkey AS VARCHAR),
                      o_orderstatus, o_orderpriority,
                      CAST(CAST(o_orderdate AS DATE) AS VARCHAR))""", 1, 15)} AS h
           FROM orders)
         SELECT o_orderstatus, bit_xor(h) AS checksum, count(*) AS n
         FROM h GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "etl_dq_audit" ->
      """WITH rowchecks AS (
           SELECT count(*) AS row_count_lineitem,
                  sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS null_shipdate,
                  sum(CASE WHEN l_extendedprice <= 0.0 THEN 1 ELSE 0 END) AS nonpos_price,
                  sum(CASE WHEN l_quantity != CAST(CAST(l_quantity AS BIGINT) AS DOUBLE) THEN 1 ELSE 0 END) AS nonintegral_qty,
                  sum(CASE WHEN l_discount < 0.0 OR l_discount > 1.0 THEN 1 ELSE 0 END) AS discount_out_of_range
           FROM lineitem)
         SELECT "check", CAST("value" AS BIGINT) AS "value" FROM (
           SELECT 'row_count_lineitem' AS "check", row_count_lineitem AS "value" FROM rowchecks
           UNION ALL SELECT 'null_shipdate', null_shipdate FROM rowchecks
           UNION ALL SELECT 'nonpos_price', nonpos_price FROM rowchecks
           UNION ALL SELECT 'nonintegral_qty', nonintegral_qty FROM rowchecks
           UNION ALL SELECT 'discount_out_of_range', discount_out_of_range FROM rowchecks
           UNION ALL SELECT 'orphan_lineitems',
             (SELECT count(*) FROM lineitem l LEFT JOIN orders o
               ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL)
           UNION ALL SELECT 'dup_orderkeys',
             (SELECT count(*) FROM (SELECT o_orderkey FROM orders
               GROUP BY o_orderkey HAVING count(*) > 1))
         ) ORDER BY "check"""",

    // χ² replay: exact BIGINT observed/marginal counts, the identical
    // closed-form per-cell IEEE expression, exact DECIMAL(38,6) total.
    "agg_chisq" ->
      """WITH o AS (SELECT o_orderstatus AS status,
                          o_orderpriority AS priority FROM orders),
         cells AS (SELECT status, priority, count(*) AS obs
                   FROM o GROUP BY 1, 2),
         rts AS (SELECT status, count(*) AS rt FROM o GROUP BY 1),
         cts AS (SELECT priority, count(*) AS ct FROM o GROUP BY 1),
         nD AS (SELECT count(*) AS nn FROM o),
         scored AS (SELECT c.status, c.priority, c.obs, r.rt, t.ct, n.nn,
                      CAST(CAST(c.obs AS DECIMAL(38,0)) * n.nn
                        - CAST(r.rt AS DECIMAL(38,0)) * t.ct
                        AS DOUBLE) AS dd,
                      CAST(r.rt AS DOUBLE) * t.ct / n.nn AS expected
                    FROM cells c
                    JOIN rts r ON c.status = r.status
                    JOIN cts t ON c.priority = t.priority
                    CROSS JOIN nD n),
         contribs AS (SELECT status, priority, obs, expected,
                        dd * dd / (CAST(rt AS DOUBLE) * ct * nn) AS contrib
                      FROM scored),
         tot AS (SELECT CAST(round(sum(CAST(contrib AS DECIMAL(38, 6))), 6)
                   AS DOUBLE) AS chi2,
                   (count(DISTINCT status) - 1)
                     * (count(DISTINCT priority) - 1) AS df
                 FROM contribs)
         SELECT c.status, c.priority, c.obs,
                round(c.expected, 4) AS expected,
                round(c.contrib, 6) AS contrib, t.chi2, t.df
         FROM contribs c CROSS JOIN tot t
         ORDER BY c.status, c.priority""",

    // Same one-pass moments and shared closed-form solve with the
    // z-quantile literals.
    "agg_power_analysis" ->
      s"""WITH base AS (SELECT CAST(value AS DOUBLE) AS x FROM events
                        WHERE event_type = 'click'),
         sums AS (SELECT ${PowerSums.mkString(",\n           ")}
                  FROM base)
         SELECT ${PowerSolve.mkString(",\n           ")}
         FROM sums""",

    // Same per-user pre/post split at min(day)+15, same CupedSums /
    // CupedSolve expression strings — engine agreement by construction.
    "agg_cuped" ->
      s"""WITH ev AS (
           SELECT user_id,
                  CAST(epoch(date_trunc('second', ts)) AS BIGINT)
                    // 86400 AS day,
                  value
           FROM events),
         d0 AS (SELECT min(day) AS d0 FROM ev),
         per AS (SELECT user_id,
                   CAST(round(sum(CASE WHEN day < d0.d0 + 15
                       THEN CAST(value AS DECIMAL(38,4))
                       ELSE CAST(0 AS DECIMAL(38,4)) END), 4)
                     AS DOUBLE) AS pre,
                   CAST(round(sum(CASE WHEN day >= d0.d0 + 15
                       THEN CAST(value AS DECIMAL(38,4))
                       ELSE CAST(0 AS DECIMAL(38,4)) END), 4)
                     AS DOUBLE) AS post
                 FROM ev CROSS JOIN d0 GROUP BY 1),
         sums AS (SELECT ${CupedSums.mkString(",\n           ")}
                  FROM per)
         SELECT ${CupedSolve.mkString(",\n           ")}
         FROM sums""",

    // The moment sums and the Cramer solve are THE SAME expression
    // strings the Spark plan compiles (RegSums / RegSolve) — engine
    // agreement by construction.
    "agg_multireg" ->
      s"""WITH base AS (SELECT ${RegBase.mkString(",\n           ")}
                FROM lineitem),
         sums AS (SELECT ${RegSums.mkString(",\n           ")}
                  FROM base)
         SELECT ${RegSolve.mkString(",\n           ")}
         FROM sums""",

    // Same doubled-integer average ranks over the value groups, same
    // closed-form U and z (DuckDB keeps one plain window — the
    // two-level split is the Spark-side scale concern only).
    "agg_mannwhitney" ->
      """WITH base AS (SELECT event_type AS g, value AS x FROM events
                       WHERE event_type IN ('click', 'view')),
         groups AS (SELECT x, count(*) AS cnt,
                      CAST(sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END)
                        AS BIGINT) AS cclick
                    FROM base GROUP BY 1),
         staged AS (SELECT x, cnt, cclick,
                      coalesce(sum(cnt) OVER (ORDER BY x
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS sbefore
                    FROM groups),
         sums AS (SELECT
                    CAST(sum(cclick * (2 * sbefore + cnt + 1))
                      AS BIGINT) AS r1x2,
                    CAST(sum(cclick) AS BIGINT) AS n1,
                    CAST(sum(cnt - cclick) AS BIGINT) AS n2,
                    sum(CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt)
                      AS tsum
                  FROM staged)
         SELECT n1, n2,
                (CAST(r1x2 AS DOUBLE) - n1 * (n1 + 1.0)) / 2.0 AS u1,
                round(((CAST(r1x2 AS DOUBLE) - n1 * (n1 + 1.0)) / 2.0
                    - CAST(n1 AS DOUBLE) * n2 / 2.0)
                  / sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0
                    * ((n1 + n2 + 1.0) - CAST(tsum AS DOUBLE)
                      / ((n1 + n2) * (n1 + n2 - 1.0)))), 4) AS z
         FROM sums""",

    // Same pooled sort, same exact integer cross-product gaps, same
    // last-row-per-value tie handling, one final IEEE division.
    "agg_ks_test" ->
      """WITH base AS (SELECT event_type AS g, value AS x FROM events
                       WHERE event_type IN ('click', 'view')),
         n1 AS (SELECT count(*) AS n1 FROM base WHERE g = 'click'),
         n2 AS (SELECT count(*) AS n2 FROM base WHERE g = 'view'),
         staged AS (SELECT x, g,
             sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) OVER w AS i,
             sum(CASE WHEN g = 'view' THEN 1 ELSE 0 END) OVER w AS j
           FROM base
           WINDOW w AS (ORDER BY x, g ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW)),
         lastrow AS (SELECT i, j FROM (
             SELECT i, j, row_number() OVER (PARTITION BY x
               ORDER BY g DESC, i DESC, j DESC) AS rn
             FROM staged) WHERE rn = 1)
         SELECT n1.n1, n2.n2,
                round(CAST(max(abs(CAST(i AS DECIMAL(38,0)) * n2.n2
                    - CAST(j AS DECIMAL(38,0)) * n1.n1)) AS DOUBLE)
                  / (CAST(n1.n1 AS DOUBLE) * n2.n2), 6) AS ks_d
         FROM lastrow CROSS JOIN n1 CROSS JOIN n2
         GROUP BY n1.n1, n2.n2""",

    // Same integer-string digit extraction, same shared Benford
    // literals, same single-IEEE chi term per digit.
    "agg_benford" ->
      s"""WITH digits AS (
           SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
               AS VARCHAR), 1, 1) AS INTEGER) AS digit
           FROM orders),
         cnt AS (SELECT digit, count(*) AS n FROM digits
                 WHERE digit >= 1 GROUP BY 1),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM cnt)
         SELECT c.digit, c.n,
                round(CAST(c.n AS DOUBLE) / t.tot, 6) AS observed,
                round(${benfordArr(duck = true)}[c.digit], 6) AS expected,
                round((round(CAST(c.n AS DOUBLE) / t.tot, 6)
                    - ${benfordArr(duck = true)}[c.digit])
                  * (round(CAST(c.n AS DOUBLE) / t.tot, 6)
                    - ${benfordArr(duck = true)}[c.digit])
                  / ${benfordArr(duck = true)}[c.digit], 6) AS chi_term
         FROM cnt c CROSS JOIN tot t
         ORDER BY c.digit""",

    // Same distinct baskets, same bounded self-join, same single-IEEE
    // ratio expressions and (lift, pair) ranking.
    "agg_assoc_rules" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem),
         nord AS (SELECT count(DISTINCT ok) AS nn FROM li),
         c1 AS (SELECT pk, count(*) AS c1 FROM li GROUP BY 1),
         pairs AS (SELECT x.pk AS a, y.pk AS b, count(*) AS c12
                   FROM li x JOIN li y
                     ON x.ok = y.ok AND x.pk < y.pk
                   GROUP BY 1, 2 HAVING count(*) >= 2)
         SELECT p.a, p.b, p.c12,
                round(CAST(p.c12 AS DOUBLE) / n.nn, 6) AS support,
                round(CAST(p.c12 AS DOUBLE) / ca.c1, 4) AS confidence,
                round(CAST(n.nn AS DOUBLE) * p.c12
                  / (CAST(ca.c1 AS DOUBLE) * cb.c1), 4) AS lift
         FROM pairs p
         JOIN c1 ca ON ca.pk = p.a
         JOIN c1 cb ON cb.pk = p.b
         CROSS JOIN nord n
         ORDER BY lift DESC, p.a, p.b LIMIT 20""",

    // Same lifespan/censoring derivation, same fixed-point ln terms
    // and running sums, same terminal-row short-circuit.
    "agg_survival_km" ->
      """WITH ev AS (SELECT user_id,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400
               AS day
           FROM events),
         hz AS (SELECT max(day) AS hz FROM ev),
         lif AS (SELECT ld - fd AS t, ld >= (SELECT hz FROM hz) AS cens
                 FROM (SELECT user_id, min(day) AS fd, max(day) AS ld
                       FROM ev GROUP BY 1)),
         tb AS (SELECT t,
                  CAST(sum(CASE WHEN cens THEN 0 ELSE 1 END) AS BIGINT)
                    AS d,
                  CAST(sum(CASE WHEN cens THEN 1 ELSE 0 END) AS BIGINT)
                    AS c
                FROM lif GROUP BY 1),
         tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS tot FROM tb),
         staged AS (SELECT t, d, c,
                      CAST((SELECT tot FROM tot)
                        - coalesce(sum(d + c) OVER (ORDER BY t
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS BIGINT) AS n
                    FROM tb),
         scored AS (SELECT t, d, c, n,
                      CASE WHEN d > 0 AND d < n
                           THEN CAST(floor(ln(1.0 - CAST(d AS DOUBLE) / n)
                             * 1099511627776.0) AS BIGINT)
                           ELSE 0 END AS f,
                      CASE WHEN d = n THEN 1 ELSE 0 END AS deadrow
                    FROM staged)
         SELECT t, n AS n_at_risk, d AS events, c AS censored,
                CASE WHEN max(deadrow) OVER wi = 1 THEN 0.0
                     ELSE round(exp(CAST(sum(f) OVER wi AS DOUBLE)
                       / 1099511627776.0), 4) END AS km
         FROM scored
         WINDOW wi AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
           AND CURRENT ROW)
         ORDER BY t""",

    // Same checks in the same construction order; the reason list
    // builds as a filtered literal array in both engines.
    "etl_quarantine" ->
      """WITH ev AS (
           SELECT event_id, user_id, date_trunc('second', ts) AS tsec,
                  event_type, value,
                  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                  count(*) OVER (PARTITION BY user_id,
                    date_trunc('second', ts)) AS n_same_sec
           FROM events),
         flagged AS (
           SELECT event_id, event_type,
                  list_filter([
                    CASE WHEN value > 200.0 THEN 'value_extreme' ELSE '' END,
                    CASE WHEN k >= 90 THEN 'k_out_of_range' ELSE '' END,
                    CASE WHEN n_same_sec > 1 THEN 'dup_user_second'
                         ELSE '' END],
                    x -> x <> '') AS reasons
           FROM ev)
         SELECT event_id, event_type,
                array_to_string(reasons, ',') AS reasons,
                CAST(len(reasons) AS INTEGER) AS n_reasons
         FROM flagged WHERE len(reasons) > 0
         ORDER BY event_id""",

    // Same ascending (x, orderkey) ranks, same exact decimal sums,
    // same single-IEEE-division closed form.
    "agg_gini" ->
      """WITH ranked AS (
           SELECT o_orderpriority AS prio,
                  CAST(o_totalprice AS DECIMAL(38,4)) AS x,
                  row_number() OVER (PARTITION BY o_orderpriority
                    ORDER BY CAST(o_totalprice AS DECIMAL(38,4)),
                             o_orderkey) AS i
           FROM orders),
         sums AS (SELECT prio, count(*) AS n, sum(x) AS sx,
                         sum(x * i) AS six
                  FROM ranked GROUP BY 1)
         SELECT prio, n,
                round(CAST(sx AS DOUBLE) / n, 4) AS mean_value,
                round((2.0 * CAST(six AS DOUBLE) - (n + 1.0)
                  * CAST(sx AS DOUBLE)) / (n * CAST(sx AS DOUBLE)), 6)
                  AS gini
         FROM sums ORDER BY prio""",

    // Cohort moments and the Welch solve are the same expression
    // strings the Spark plan compiles (TMoments / TSolve).
    "agg_ttest" ->
      s"""WITH sums AS (
           SELECT event_type,
                  ${TMoments(0)} AS n, ${TMoments(1)} AS sx,
                  ${TMoments(2)} AS sxx
           FROM (SELECT event_type, CAST(value AS DOUBLE) AS x
                 FROM events WHERE event_type IN ('click', 'view'))
           GROUP BY 1),
         a AS (SELECT n AS n1, sx AS sx1, sxx AS sxx1 FROM sums
               WHERE event_type = 'click'),
         b AS (SELECT n AS n2, sx AS sx2, sxx AS sxx2 FROM sums
               WHERE event_type = 'view')
         SELECT ${TSolve.mkString(",\n           ")}
         FROM a CROSS JOIN b""",

    // Same two-pass median/MAD replay as agg_mad, then the identical
    // per-row IEEE flag compare and deviation ratio.
    "etl_anomaly_flags" ->
      """WITH med AS (SELECT event_type,
                quantile_cont(value, 0.5) AS med
              FROM events GROUP BY 1),
         stats AS (SELECT e.event_type, min(m.med) AS med,
                quantile_cont(abs(e.value - m.med), 0.5) AS mad
              FROM events e JOIN med m ON e.event_type = m.event_type
              GROUP BY 1)
         SELECT e.event_id, e.event_type, e.value,
                round(s.med, 4) AS med, round(s.mad, 4) AS mad,
                round((e.value - s.med) / s.mad, 4) AS dev_ratio
         FROM events e JOIN stats s ON e.event_type = s.event_type
         WHERE abs(e.value - s.med) > 3.0 * s.mad
         ORDER BY e.event_id"""
  )
}
