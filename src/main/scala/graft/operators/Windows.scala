package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Det, Tables}
import Det._

/** Window functions (SURVEY.md §2.5).
  *
  * Discipline (SURVEY §7.4): every window order includes a unique
  * tiebreaker; frames are ROWS (never RANGE over non-unique keys);
  * event-time is truncated to whole seconds before any ordering that the
  * DuckDB oracle must reproduce. All windows are partitioned (bounded
  * per-partition state) except the deliberately-small aggregated input
  * of win_running_sum.
  */
object Windows {
  type Q = (SparkSession, String) => DataFrame

  /** (1−α)^i weights for win_ewma, α=0.3: ONE Scala computation feeds
    * both the Spark literals and (via Double.toString shortest
    * round-trip) the oracle's decimal literals — same doubles, same
    * fold order, both engines. */
  private[operators] val EwmaWeights: IndexedSeq[Double] =
    (0 to 9).map(i => math.pow(0.7, i))

  /** Holt(α=β=0.5) lag weights: A^k·c (input contributions) and
    * A^k·(1,0)ᵀ (init contribution) for k < 128, where A is the state
    * transition [[.5,.5],[−.25,.75]]. Computed once here and baked
    * into BOTH plans as identical shortest-round-trip literals (the
    * LSH plane-matrix discipline). */
  private val HoltLags = 128
  private def holtChain(v0: (Double, Double)): IndexedSeq[(Double, Double)] =
    Iterator.iterate(v0) { case (l, b) =>
      (0.5 * l + 0.5 * b, -0.25 * l + 0.75 * b)
    }.take(HoltLags).toIndexedSeq
  private lazy val HoltC = holtChain((0.5, 0.25))
  private lazy val HoltI = holtChain((1.0, 0.0))
  private def holtArr(xs: Seq[Double], duck: Boolean): String = {
    val elems = xs.map(x => s"CAST('$x' AS DOUBLE)").mkString(",")
    if (duck) s"[$elems]" else s"array($elems)"
  }
  private lazy val HoltWL = holtArr(HoltC.map(_._1), duck = false)
  private lazy val HoltWB = holtArr(HoltC.map(_._2), duck = false)
  private lazy val HoltInitL = holtArr(HoltI.map(_._1), duck = false)
  private lazy val HoltInitB = holtArr(HoltI.map(_._2), duck = false)

  /** The 5 ACF lags as a broadcast-able 5-row frame. */
  private def spark_lagframe(s: SparkSession): DataFrame =
    s.range(1, 6).select(col("id").as("lag"))

  /** Fixed-point paired-moment sums for win_autocorr — shared verbatim
    * with the oracle. Two overflow defenses, because the accumulator is
    * a LONG and the SUM (not just each term) must stay under 2⁶³:
    *  1. the series is MIN-SHIFTED first (y ← y − min(y) per series;
    *     min of identical 4-dp doubles is exact and order-free in both
    *     engines, and Pearson r is shift-invariant) — so the squared
    *     terms grow with the series' RANGE, which scales ~√SF, not
    *     with its absolute level, which scales ~SF;
    *  2. scale 2¹⁶ (not the usual 2⁴⁰): the bound is
    *     days·range²·2¹⁶ ≤ 2⁶³, i.e. range ≤ ~6·10⁵ for a year-long
    *     daily series — comfortably above any plausible daily-sum
    *     spread, with ~1.5e-5 per-term precision, invisible at the
    *     4-dp output. */
  private val AcfSums: Seq[String] = Seq(
    "CAST(count(*) AS DOUBLE)",
    "CAST(sum(CAST(floor(y1 * 65536.0) AS BIGINT)) AS DOUBLE)" +
      " / 65536.0",
    "CAST(sum(CAST(floor(y2 * 65536.0) AS BIGINT)) AS DOUBLE)" +
      " / 65536.0",
    "CAST(sum(CAST(floor(y1 * y1 * 65536.0) AS BIGINT)) AS DOUBLE)" +
      " / 65536.0",
    "CAST(sum(CAST(floor(y2 * y2 * 65536.0) AS BIGINT)) AS DOUBLE)" +
      " / 65536.0",
    "CAST(sum(CAST(floor(y1 * y2 * 65536.0) AS BIGINT)) AS DOUBLE)" +
      " / 65536.0")

  /** Paired-Pearson closed form over the moment columns — shared
    * verbatim with the oracle. */
  private val AcfR: String =
    "round((n * s12 - s1 * s2)" +
      " / sqrt((n * s11 - s1 * s1) * (n * s22 - s2 * s2)), 4) AS r"

  /** Events with 8h-gap session numbers attached (gaps-and-islands):
    * shared core of win_sessionize and etl_user_features. lag and the
    * running sum share ONE (user_id → sec_l, event_id) window spec, so
    * Spark plans a single sort+shuffle and evaluates both passes in the
    * same window stage. */
  private def sessionized(s: SparkSession, d: String): DataFrame = {
    val gap = 28800L
    val wOrd = Window.partitionBy("user_id").orderBy(col("sec_l"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), epochS(col("ts")).as("sec_l"),
        col("event_type"), dec(col("value")).as("v"))
      .withColumn("prev_sec", lag(col("sec_l"), 1).over(wOrd))
      .withColumn("brk",
        when(col("prev_sec").isNull || col("sec_l") - col("prev_sec") > gap, 1L)
          .otherwise(0L))
      .withColumn("sess_no", sum(col("brk")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  val queries: Map[String, Q] = Map(
    "win_topk_per_group" -> ((s, d) => {
      // Top-3 parts by revenue per brand. Revenue is an exact decimal →
      // identical ordering cross-engine; p_partkey breaks ties.
      val rev = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_partkey"))
        .agg(sumMoney(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("revenue").desc, col("p_partkey"))
      rev.withColumn("rnk", dense_rank().over(w).cast(IntegerType))
        .filter(col("rnk") <= 3)
        .orderBy("p_brand", "rnk", "p_partkey")
    }),

    "win_topk_native" -> ((s, d) => {
      // Identical result to win_topk_per_group through the NATIVE
      // bounded top-k aggregate (graft.functions.TopKByAgg): a k-heap
      // per group partial-aggregates map-side, so only ≤ k rows per
      // group per partition cross the shuffle — vs the rank-window's
      // full shuffle+sort of every row. The shared oracle proves the
      // two plans agree; ord = (revenue, -p_partkey) is a total order,
      // making the heap merge exact and deterministic.
      val rev = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_partkey"))
        .agg(sumMoney(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      rev.groupBy(col("p_brand"))
        .agg(expr("topk_by(struct(revenue, -p_partkey), struct(p_partkey, revenue), 3)")
          .as("tk"))
        .select(col("p_brand"), posexplode(col("tk")).as(Seq("i", "e")))
        .select(col("p_brand"),
          col("e.payload.p_partkey").as("p_partkey"),
          col("e.payload.revenue").as("revenue"),
          (col("i") + 1).cast(IntegerType).as("rnk"))
        .orderBy("p_brand", "rnk", "p_partkey")
    }),

    "win_dedup_latest" -> ((s, d) => {
      // Latest event per user — the canonical keep-one dedup idiom.
      val ev = Tables.events(s, d).withColumn("sec", secs(col("ts")))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("sec").desc, col("event_id").desc)
      ev.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"))
        .orderBy("user_id")
    }),

    "win_dedup_latest_native" -> ((s, d) => {
      // Identical result to win_dedup_latest through a codegen'd
      // max_by — the scale path for the stream-table keep-latest idiom
      // (round-11, verdict task 5; the win_topk_native pattern). The
      // rank window shuffles EVERY event to its user's partition and
      // sorts per group; max_by folds to one row per user per
      // partition map-side, so only |users|·partitions rows cross the
      // shuffle — the difference between "all events move" and
      // "a user-table moves" at stream scale. ord = (sec, event_id) is
      // a total order (event_id unique), so the selection is exact;
      // both ord columns are non-null, so the struct-ord NULLS-FIRST
      // subtlety (TopKBy header) does not apply here.
      val ev = Tables.events(s, d).withColumn("sec", secs(col("ts")))
      ev.groupBy(col("user_id"))
        .agg(max_by(struct(col("event_id"), col("event_type")),
          struct(col("sec"), col("event_id"))).as("k"))
        .select(col("user_id"), col("k.event_id").as("event_id"),
          col("k.event_type").as("event_type"))
        .orderBy("user_id")
    }),

    "win_lag_lead" -> ((s, d) => {
      // Inter-event gap (seconds) per user via lag over event order.
      val ev = Tables.events(s, d).withColumn("sec_l", epochS(col("ts")))
      val w = Window.partitionBy(col("user_id")).orderBy(col("sec_l"), col("event_id"))
      ev.select(col("user_id"), col("event_id"), col("sec_l"),
        lag(col("sec_l"), 1).over(w).as("prev_sec"),
        lead(col("event_id"), 1).over(w).as("next_event"))
        .withColumn("gap_s", col("sec_l") - col("prev_sec"))
        .select(col("user_id"), col("event_id"), col("gap_s"), col("next_event"))
        .orderBy("user_id", "event_id")
    }),

    "win_moving_avg" -> ((s, d) => {
      // 3-row trailing average. Exact path: windowed decimal sum /
      // windowed count (a windowed double avg would drift last-ulp).
      val ev = Tables.events(s, d).withColumn("sec_l", epochS(col("ts")))
      val w = Window.partitionBy(col("user_id")).orderBy(col("sec_l"), col("event_id"))
        .rowsBetween(-2, 0)
      ev.select(col("user_id"), col("event_id"),
        round(sum(dec(col("value"))).over(w).cast(DoubleType)
          / count(lit(1)).over(w), 4).as("mavg"))
        .orderBy("user_id", "event_id")
    }),

    "win_first_last" -> ((s, d) => {
      // first_value / last_value / nth_value over a full unbounded frame
      // (last_value over the default frame is a classic footgun — the
      // explicit frame makes it the true per-group last).
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.customer(s, d).select(
        col("c_mktsegment"),
        first(col("c_custkey")).over(w).as("richest"),
        last(col("c_custkey")).over(w).as("poorest"),
        nth_value(col("c_custkey"), 2).over(w).as("runner_up"))
        .distinct()
        .orderBy("c_mktsegment")
    }),

    "win_rank_stats" -> ((s, d) => {
      // Distribution-rank family: ntile / percent_rank / cume_dist /
      // rank over a fully-tiebroken order (exact rationals — identical
      // cross-engine; rounding is belt-and-braces).
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.customer(s, d).select(
        col("c_mktsegment"), col("c_custkey"),
        ntile(4).over(w).cast(IntegerType).as("quartile"),
        rank().over(w).cast(IntegerType).as("rnk"),
        round(percent_rank().over(w), 4).as("pct_rank"),
        round(cume_dist().over(w), 4).as("cdist"))
        .orderBy("c_mktsegment", "c_custkey")
    }),

    "win_running_sum" -> ((s, d) => {
      // Cumulative revenue by ship date. Input is pre-aggregated to one
      // row per day (~2.5k rows) so the global (unpartitioned) window is
      // safe; the running sum stays decimal-exact until the final cast.
      val daily = Tables.lineitem(s, d)
        .groupBy(to_date(col("l_shipdate")).as("d"))
        .agg(sum(dec(col("l_extendedprice"))).as("rev_d"))
      val w = Window.orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.select(col("d"),
        money(col("rev_d")).as("daily_rev"),
        money(sum(col("rev_d")).over(w)).as("running_rev"))
        .orderBy("d")
    }),

    "win_sessionize" -> ((s, d) => {
      // Batch sessionization (gaps-and-islands): a session breaks when
      // the inter-event gap exceeds 8h; session number = running count
      // of breaks — the batch twin of stream_session's session_window,
      // and the idiom for sessionizing a historical 100 TB event log.
      // One window sort+shuffle (see sessionized); the rollup re-uses
      // the user_id hash partitioning.
      sessionized(s, d)
        .groupBy(col("user_id"), col("sess_no"))
        .agg(count(lit(1)).as("n_events"),
          min(col("sec_l")).as("start_sec"),
          max(col("sec_l")).as("end_sec"))
        .withColumn("dur_s", col("end_sec") - col("start_sec"))
        .orderBy("user_id", "sess_no")
    }),

    "win_time_range" -> ((s, d) => {
      // Event-time RANGE frame: trailing 1-hour sum/count per user — a
      // TIME-based frame, not a row-count one (under bursty traffic a
      // ROWS frame is simply the wrong window; this is the class the
      // other win_ keys don't cover). RANGE needs a single numeric
      // order key: epoch seconds. Rows sharing a second share a frame
      // (range semantics) — deterministic; the decimal sum keeps the
      // frame aggregate exact.
      val ev = Tables.events(s, d).select(col("user_id"), col("event_id"),
        epochS(col("ts")).as("sec_l"), dec(col("value")).as("v"))
      val w = Window.partitionBy("user_id").orderBy(col("sec_l"))
        .rangeBetween(-3600L, 0L)
      ev.select(col("user_id"), col("event_id"), col("sec_l"),
        money(sum(col("v")).over(w)).as("trail_1h"),
        count(lit(1)).over(w).as("n_1h"))
        .orderBy("user_id", "event_id")
    }),

    "win_ignore_nulls" -> ((s, d) => {
      // IGNORE NULLS navigation: carry the last observed purchase value
      // forward across non-purchase events (the gap-fill / last-known-
      // value idiom for sparse measurements in a dense event stream).
      // lag(... ignoreNulls) and last(... ignoreNulls) ride the same
      // (user_id → sec_l, event_id) window spec — one sort+shuffle.
      val ev = Tables.events(s, d).select(col("user_id"), col("event_id"),
        epochS(col("ts")).as("sec_l"),
        when(col("event_type") === "purchase", dec(col("value"))).as("pv"))
      val wOrd = Window.partitionBy("user_id").orderBy(col("sec_l"), col("event_id"))
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.select(col("user_id"), col("event_id"),
        money(col("pv")).as("pv"),
        money(lag(col("pv"), 1, null, ignoreNulls = true).over(wOrd)).as("prev_purchase"),
        money(last(col("pv"), ignoreNulls = true).over(wRun)).as("last_known"))
        .orderBy("user_id", "event_id")
    }),

    "win_funnel" -> ((s, d) => {
      // Ordered conversion funnel (view → click → purchase): a user
      // reaches stage k only via an event of that type STRICTLY AFTER
      // their stage-(k−1) time — the product-analytics funnel, not
      // three independent counts. Each stage is min-timestamp
      // conditional aggregation joined to the previous stage's
      // survivors; all three aggregates and both joins key on user_id,
      // so after the first exchange every stage reuses the same hash
      // partitioning, and each stage's input shrinks to its survivors
      // (monotone — the 100 TB funnel costs one fact shuffle plus two
      // survivor-sized joins). Seconds truncation per the oracle
      // discipline; strict > on whole seconds in both engines.
      val ev = Tables.events(s, d).select(col("user_id"),
        col("event_type"), epochS(col("ts")).as("sec"))
      val t1 = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("sec")).as("t1"))
      val t2 = ev.filter(col("event_type") === "click")
        .join(t1, "user_id").filter(col("sec") > col("t1"))
        .groupBy("user_id").agg(min(col("sec")).as("t2"))
      val t3 = ev.filter(col("event_type") === "purchase")
        .join(t2, "user_id").filter(col("sec") > col("t2"))
        .groupBy("user_id").agg(min(col("sec")).as("t3"))
      def stage(df: DataFrame, k: Int, name: String) =
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(k).cast(IntegerType).as("stage"),
            lit(name).as("event_type"), col("n_users"))
      stage(t1, 1, "view")
        .unionAll(stage(t2, 2, "click"))
        .unionAll(stage(t3, 3, "purchase"))
        .orderBy("stage")
    }),

    "win_event_pattern" -> ((s, d) => {
      // MATCH_RECOGNIZE-lite: regex over each user's time-ordered
      // event-type sequence — the product-analytics pattern detector
      // (here `vc*p`: a view, any clicks, then a purchase — the
      // browse-to-buy burst), counted non-overlapping per user. One
      // user_id shuffle builds the sequence (collect + array_sort on
      // the (sec, event_id, ch) struct — deterministic total order, the
      // agg_collect_sorted discipline), then the regex runs per user
      // row. At 100 TB per-user event counts are bounded (thousands),
      // so sequence strings stay small; true MATCH_RECOGNIZE over
      // unbounded streams is the stream_stateful_custom seam instead.
      val ev = Tables.events(s, d).select(col("user_id"), col("event_id"),
        epochS(col("ts")).as("sec"),
        expr("""CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                ELSE 'e' END""").as("ch"))
      ev.groupBy("user_id")
        .agg(concat_ws("", expr(
            "transform(array_sort(collect_list(struct(sec, event_id, ch)))," +
              " x -> x.ch)")).as("seq"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("n_events"),
          size(expr("regexp_extract_all(seq, 'vc*p', 0)"))
            .cast(LongType).as("n_matches"))
        .withColumn("matched", col("n_matches") > 0)
        .orderBy("user_id")
    }),

    "etl_scd2" -> ((s, d) => {
      // Slowly-changing-dimension type 2 build: effective-date a change
      // stream into versioned history rows — per key, version number,
      // valid_from, valid_to (= next change's date, NULL while
      // current), is_current. The warehouse-merge shape without a
      // table format: one (custkey → orderdate, orderkey) window
      // provides rn AND lead in the same sort; at 100 TB it is one
      // exchange over the change stream, no self-join. Tracked
      // attribute rides along (order's total price as the "balance").
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate"), money(dec(col("o_totalprice"))).as("attr"))
        .withColumn("version", row_number().over(w).cast(IntegerType))
        .withColumn("valid_from", col("o_orderdate"))
        .withColumn("valid_to", lead(col("o_orderdate"), 1).over(w))
        .withColumn("is_current", col("valid_to").isNull)
        .select(col("o_custkey"), col("version"), col("attr"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy("o_custkey", "version")
    }),

    "etl_cdc_apply" -> ((s, d) => {
      // Apply a CDC change log to produce the current snapshot:
      // latest-wins per key by (event time, event_id), where the latest
      // op decides existence (delete → row absent) and carries the
      // current value. signup=insert, click/view=update, error=delete.
      // ONE total-ordered max_by aggregate per user — the MERGE shape
      // at 100 TB is a single hash shuffle of the log, no join against
      // the snapshot, no window sort. The struct argmax merges
      // commutatively across partitions (total order: sec, event_id).
      val ops = Tables.events(s, d)
        .filter(col("event_type").isin("signup", "click", "view", "error"))
        .select(col("user_id"), col("event_id"),
          epochS(col("ts")).as("sec"),
          when(col("event_type") === "error", lit("delete"))
            .otherwise(lit("upsert")).as("op"),
          dec(col("value")).as("v"))
      ops.groupBy(col("user_id"))
        .agg(
          expr("max_by(op, struct(sec, event_id))").as("last_op"),
          expr("max_by(v, struct(sec, event_id))").as("lv"),
          max(col("sec")).as("last_sec"),
          count(lit(1)).as("n_changes"))
        .filter(col("last_op") =!= "delete")
        .select(col("user_id"), money(col("lv")).as("value"),
          col("last_sec"), col("n_changes"))
        .orderBy("user_id")
    }),

    "win_gap_fill" -> ((s, d) => {
      // Calendar densify + zero-fill: per customer, one row for EVERY
      // month between their first and last order, missing months at
      // 0 — the gap-fill a time-series feature build needs (a model
      // reading "no row" can't tell silence from missing data). The
      // month spine generates from each key's own [min, max] span
      // (sequence + explode — never a driver-side calendar), so spine
      // size is Σ per-key spans, and the left join back to actuals is
      // key-partitioned. Month arithmetic stays on month-truncated
      // DATEs: add_months on day-1 dates is identical in both engines.
      val o = Tables.orders(s, d).select(col("o_custkey"),
        trunc(col("o_orderdate"), "month").as("m"),
        dec(col("o_totalprice")).as("p"))
      val actual = o.groupBy(col("o_custkey"), col("m"))
        .agg(sum(col("p")).as("m_total_d"))
      val spine = o.groupBy(col("o_custkey"))
        .agg(min(col("m")).as("s"), max(col("m")).as("e"))
        .select(col("o_custkey"), col("s"),
          explode(sequence(lit(0),
            expr("CAST(months_between(e, s) AS INT)"))).as("i"))
        .select(col("o_custkey"), expr("add_months(s, i)").as("m"))
      spine.join(actual, Seq("o_custkey", "m"), "left")
        .select(col("o_custkey"), col("m"),
          money(coalesce(col("m_total_d"), lit(0).cast(Money))).as("m_total"))
        .orderBy("o_custkey", "m")
    }),

    "win_pct_change" -> ((s, d) => {
      // Month-over-month % change per customer — the growth metric
      // every analytics surface reports. Aggregate to (key, month)
      // first, then one lag + one division over a single window
      // exchange. pct_change is NULL for the first month, a zero base,
      // AND when the previous ACTIVE month isn't the calendar-adjacent
      // one — a Jan→Mar jump must not masquerade as a monthly rate
      // (densify with win_gap_fill first if every month must report).
      val m = Tables.orders(s, d)
        .groupBy(col("o_custkey"),
          trunc(col("o_orderdate"), "month").as("m"))
        .agg(sum(dec(col("o_totalprice"))).as("tot"))
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("m"))
      val prev = lag(col("tot"), 1).over(w)
      val prevM = lag(col("m"), 1).over(w)
      m.select(col("o_custkey"), col("m"),
          money(col("tot")).as("m_total"),
          when(prev.isNotNull && prev =!= dec(lit(0)) &&
              months_between(col("m"), prevM) === 1.0,
            round((col("tot").cast(DoubleType) - prev.cast(DoubleType))
              / prev.cast(DoubleType) * 100.0, 4)).as("pct_change"))
        .orderBy("o_custkey", "m")
    }),

    "win_ewma" -> ((s, d) => {
      // Exponentially-weighted moving average, trailing-10 truncation —
      // the smoothing every metrics dashboard runs. The recursive EWMA
      // doesn't frame-decompose, but with α=0.3 the weights decay below
      // 3% by lag 9, so the truncated form is exact enough AND
      // window-expressible: ten lag terms share ONE (key → time, id)
      // window spec → a single Window operator over one exchange+sort,
      // all codegen'd. Weights are Scala-computed literals; the oracle
      // embeds the identical shortest-round-trip decimal strings, so
      // both engines fold the same doubles in the same order.
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val x = col("o_totalprice")
      val terms = (0 to 9).map { i =>
        val wi = lit(EwmaWeights(i))
        (when(lag(x, i).over(w).isNotNull, wi).otherwise(lit(0.0)),
          coalesce(lag(x, i).over(w), lit(0.0)) * wi)
      }
      val num = terms.map(_._2).reduce(_ + _)
      val den = terms.map(_._1).reduce(_ + _)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"))
        .select(col("o_custkey"), col("o_orderkey"),
          round(num / den, 4).as("ewma10"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    "win_holt" -> ((s, d) => {
      // Holt double-exponential smoothing (level + trend, α=β=0.5) in
      // the LINEAR-RECURRENCE → WEIGHTED-SUM form. The textbook
      // recursion is l←αy+(1−α)(l+b), b←β(l−l_prev)+(1−β)b — a fold,
      // and a fold is the wrong 100 TB shape (and DuckDB's list_reduce
      // struct-lambda field-evaluation order proved version-unstable,
      // so a fold can't cross the oracle gate either). But the
      // recursion is LINEAR: state_n = Aⁿ·(y₀,0)ᵀ + Σ A^{n−t}·c·y_t
      // with A=[[.5,.5],[−.25,.75]], c=(.5,.25)ᵀ — so the final state
      // is a lag-indexed weighted sum of the inputs. The matrix-power
      // weights are Scala-computed plan literals (the LSH plane-matrix
      // discipline), each term floors into fixed-point, and the
      // per-series sum is one order-free aggregate: map-side partial,
      // no sort, no sequential anything. |eig(A)| = √½ → weights decay
      // below 1e-19 by lag 128, where the shared table truncates —
      // both engines drop the identical tail (exact anyway for every
      // fixture series; a production pipeline extends the array).
      val daily = Tables.events(s, d)
        .select(col("event_type"),
          Det.epochDay(col("ts")).as("day"),
          col("value"))
        .groupBy("event_type", "day")
        .agg(graft.Det.sumMoney(col("value")).as("y"))
      val wSer = Window.partitionBy("event_type").orderBy("day")
      val fx = graft.Det.FixedPoint
      val posd = daily
        .withColumn("pos", row_number().over(wSer) - 1)
        .withColumn("maxp", count(lit(1)).over(
          Window.partitionBy("event_type")) - 1)
      // try_element_at, not element_at: under ANSI (Spark 4 default) an
      // index past the 128-entry weight table would throw
      // INVALID_ARRAY_INDEX for a series longer than HoltLags days.
      // try_element_at yields NULL there, the NULL term drops out of
      // sum() — exactly DuckDB's arr[idx] out-of-range semantics, so
      // both engines truly drop the identical (sub-1e-19) tail.
      val terms = posd.select(col("event_type"), col("maxp"),
        when(col("pos") === 0,
          try_element_at(expr(HoltInitL),
            col("maxp").cast(IntegerType) + 1))
          .otherwise(try_element_at(expr(HoltWL),
            (col("maxp") - col("pos")).cast(IntegerType) + 1))
          .as("wl"),
        when(col("pos") === 0,
          try_element_at(expr(HoltInitB),
            col("maxp").cast(IntegerType) + 1))
          .otherwise(try_element_at(expr(HoltWB),
            (col("maxp") - col("pos")).cast(IntegerType) + 1))
          .as("wb"),
        col("y"))
      terms.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          (sum(floor(col("wl") * col("y") * fx)).cast(DoubleType) / fx)
            .as("lvl"),
          (sum(floor(col("wb") * col("y") * fx)).cast(DoubleType) / fx)
            .as("trd"))
        .select(col("event_type"), col("n_days"),
          round(col("lvl"), 4).as("level"),
          round(col("trd"), 4).as("trend"),
          round(col("lvl") + lit(3.0) * col("trd"), 4).as("forecast_3"))
        .orderBy("event_type")
    }),

    "win_cusum" -> ((s, d) => {
      // CUSUM drift detection over the daily revenue series — the
      // changepoint monitor behind "did this metric's level shift".
      // The textbook recursion S⁺ ← max(0, S⁺ + (x−k)) doesn't frame-
      // decompose, but it has a closed prefix identity:
      //   S⁺_t = P_t − min_{j≤t} P_j,   S⁻_t = max_{j≤t} P_j − P_t
      // with P the running sum of deviations from the reference k —
      // so the whole detector is window algebra over the pre-
      // aggregated daily table (three passes sharing ONE window spec:
      // a single sort, no fold, no state). Everything stays
      // DECIMAL-exact from the daily sums through the alarm compare;
      // k is the series mean (one IEEE division, 4-dp rounded, then
      // back to exact decimal), alarm threshold h = k (one mean day
      // of accumulated drift).
      val daily = Tables.events(s, d)
        .select(col("event_type"),
          Det.epochDay(col("ts")).as("day"),
          col("value"))
        .groupBy("event_type", "day")
        .agg(sum(dec(col("value"))).as("y"))
      val kRef = daily.groupBy("event_type")
        .agg(round(sum(col("y")).cast(DoubleType) / count(lit(1)), 4)
          .cast(graft.Det.Money).as("k"))
      val wOrd = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.join(broadcast(kRef), "event_type")
        .withColumn("p", sum(col("y") - col("k")).over(wOrd))
        // the prefix min/max must include the EMPTY prefix (P₀ = 0):
        // S⁺₁ = max(0, d₁) needs the 0 floor when every P is positive
        .withColumn("minp",
          least(min(col("p")).over(wOrd), lit(0).cast(graft.Det.Money)))
        .withColumn("maxp",
          greatest(max(col("p")).over(wOrd), lit(0).cast(graft.Det.Money)))
        .select(col("event_type"), col("day"),
          money(col("y")).as("daily"),
          money(col("p") - col("minp")).as("cusum_up"),
          money(col("maxp") - col("p")).as("cusum_dn"),
          (col("p") - col("minp") > col("k")).as("alarm_up"),
          (col("maxp") - col("p") > col("k")).as("alarm_dn"))
        .orderBy("event_type", "day")
    }),

    "win_autocorr" -> ((s, d) => {
      // Autocorrelation function (lags 1–5) of the daily series — the
      // seasonality/memory detector behind "is this metric mean-
      // reverting or trending" (a weekly cycle shows as a lag-7
      // peak). Per lag: pair the series with its k-shifted self via
      // one (series, day−k) equi-join on the DAILY table, then
      // Pearson r from the moments+closed-form pattern — fixed-point
      // sums over each lag's paired subset (the standard ACF-as-
      // paired-Pearson estimator), one closed-form expression shared
      // verbatim with the oracle. The ×5 lag expansion is over the
      // daily table, never the fact table.
      val daily0 = Tables.events(s, d)
        .select(col("event_type"),
          Det.epochDay(col("ts")).as("day"),
          col("value"))
        .groupBy("event_type", "day")
        .agg(money(sum(dec(col("value")))).as("y"))
      // Min-shift each series before the fixed-point moments (see
      // AcfSums): r is shift-invariant, and the shift keeps the LONG
      // accumulator bounded by the series RANGE instead of its level.
      // The headroom is asserted, not assumed: the sum bound is
      // nd·range²·2¹⁶ ≤ 2⁶³, and a series whose range outgrows it
      // (longer span or heavier-tailed values at larger SFs) must
      // fail HERE with a named error, not as an opaque mid-job ANSI
      // overflow. max/count ride the same per-series window as the
      // min, so the guard costs no extra shuffle; 2⁶² keeps 2×
      // safety margin.
      val wSer = Window.partitionBy("event_type")
      val daily = daily0
        .withColumn("__rng",
          max(col("y")).over(wSer) - min(col("y")).over(wSer))
        .withColumn("__nd", count(lit(1)).over(wSer).cast(DoubleType))
        .filter(assert_true(
          col("__nd") * col("__rng") * col("__rng") * lit(65536.0)
            <= lit(math.pow(2, 62)),
          concat(lit("win_autocorr: post-shift series range overflows"
            + " the 2^16 fixed-point LONG accumulator (series="),
            col("event_type"), lit(", range="), col("__rng"),
            lit(", days="), col("__nd"),
            lit("); lower the fixed-point scale"))).isNull)
        .withColumn("y", col("y") - min(col("y")).over(wSer))
        .drop("__rng", "__nd")
      val lags = daily.crossJoin(
        broadcast(spark_lagframe(s))).withColumnRenamed("y", "y1")
      val paired = lags.join(
        daily.select(col("event_type").as("et2"), col("day").as("d2"),
          col("y").as("y2")),
        col("event_type") === col("et2")
          && col("day") - col("lag") === col("d2"))
      paired.selectExpr("event_type", "lag", "y1", "y2")
        .groupBy("event_type", "lag")
        .agg(expr(AcfSums(0)).as("n"), expr(AcfSums(1)).as("s1"),
          expr(AcfSums(2)).as("s2"), expr(AcfSums(3)).as("s11"),
          expr(AcfSums(4)).as("s22"), expr(AcfSums(5)).as("s12"))
        .selectExpr("event_type", "lag", "CAST(n AS BIGINT) AS n_pairs",
          AcfR)
        .orderBy("event_type", "lag")
    }),

    "win_theil_sen" -> ((s, d) => {
      // Theil–Sen robust trend — the slope estimator outliers can't
      // drag (median of all pairwise slopes; breakdown point 29%),
      // the robust twin of agg_regression exactly as agg_mad is
      // stddev's. Runs on the DAILY series table: the pairwise
      // expansion is days²/2 per series — bounded by the OBSERVATION
      // WINDOW, never the corpus (a year is ~66k pairs) — via one
      // series-keyed self-join; the median slope broadcasts back for
      // the intercept pass (median of y − m·day, the classic TS
      // intercept). Slopes are per-row IEEE on exact decimal-derived
      // doubles; medians interpolate identically (agg_percentile).
      val daily = Tables.events(s, d)
        .select(col("event_type"),
          Det.epochDay(col("ts")).as("day"),
          col("value"))
        .groupBy("event_type", "day")
        .agg(money(sum(dec(col("value")))).as("y"))
      val a = daily.select(col("event_type"), col("day").as("d1"),
        col("y").as("y1"))
      val b = daily.select(col("event_type").as("et2"),
        col("day").as("d2"), col("y").as("y2"))
      val slopes = a.join(b, col("event_type") === col("et2")
          && col("d1") < col("d2"))
        .select(col("event_type"),
          ((col("y2") - col("y1"))
            / (col("d2") - col("d1")).cast(DoubleType)).as("m"))
      val ts = slopes.groupBy("event_type")
        .agg(expr("percentile(m, 0.5)").as("m"),
          count(lit(1)).as("n_pairs"))
      daily.join(broadcast(ts), "event_type")
        .groupBy("event_type")
        .agg(min(col("m")).as("mm"), first(col("n_pairs")).as("n_pairs"),
          expr("percentile(y - m * day, 0.5)").as("b0"),
          count(lit(1)).as("n_days"))
        .select(col("event_type"), col("n_days"), col("n_pairs"),
          round(col("mm"), 6).as("slope"), round(col("b0"), 4)
            .as("intercept"))
        .orderBy("event_type")
    }),

    "win_attribution" -> ((s, d) => {
      // Marketing-style first/last-touch attribution — for every
      // purchase, which touch channel (click/view) gets the credit
      // within a 24 h lookback. The scale shape is the range-join
      // discipline (join_range_bucketed): candidates come from a
      // (user, DAY-bucket) equi-join — each purchase probes exactly
      // its own and the previous day's touches, so fan-out is bounded
      // by a user's daily touch volume, never their history — then
      // the exact [psec−86400, psec) range filter. First/last pick by
      // min_by/max_by over the (tsec, event_id) total order (exact,
      // tie-safe); purchases with NO touch in window report as the
      // 'unattributed' channel via a left join — the honest row naive
      // reports drop. Revenue is the exact decimal sum.
      val ev = Tables.events(s, d).select(col("user_id"),
        Det.epochS(col("ts")).as("sec"), col("event_type"),
        col("value"), col("event_id"))
      val touch = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id").as("tu"), col("sec").as("tsec"),
          col("event_type").as("ttype"), col("event_id").as("tev"),
          expr("sec div 86400").as("tday"))
      val pur = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("sec").as("psec"),
          col("value"), col("event_id").as("pev"))
        .withColumn("pday", expr("psec div 86400"))
      val cand = pur.join(touch,
        col("pu") === col("tu")
          && (col("tday") === col("pday")
            || col("tday") === col("pday") - 1)
          && col("tsec") < col("psec")
          && col("tsec") >= col("psec") - 86400L)
      val att = cand.groupBy(col("pev"))
        .agg(expr("max_by(ttype, struct(tsec, tev))").as("last_touch"),
          expr("min_by(ttype, struct(tsec, tev))").as("first_touch"))
      pur.join(att, Seq("pev"), "left")
        .select(coalesce(col("last_touch"), lit("unattributed"))
          .as("last_touch"),
          coalesce(col("first_touch"), lit("unattributed"))
            .as("first_touch"), col("value"))
        .groupBy("last_touch")
        .agg(count(lit(1)).as("n_last"),
          sumMoney(col("value")).as("rev_last"),
          sum(when(col("first_touch") === col("last_touch"), 1L)
            .otherwise(0L)).as("n_same_first"))
        .orderBy("last_touch")
    }),

    "win_mann_kendall" -> ((s, d) => {
      // Mann–Kendall trend test — the nonparametric "is this series
      // trending at all" gate a metrics pipeline runs BEFORE trusting
      // win_theil_sen's slope: S = Σ_{i<j} sign(y_j − y_i) over the
      // daily table, tie-corrected normal variance, continuity-
      // corrected z. Same scale shape as theil_sen: the pairwise
      // expansion is days²/2 per series — bounded by the observation
      // window, never the corpus — via one series-keyed self-join.
      // Determinism: y is a 4-dp exact-derived double, so sign() can
      // never disagree between engines; S and the tie term are exact
      // integers (ties in DECIMAL(38,0) — t(t−1)(2t+5) overflows
      // BIGINT past t ≈ 1.6·10⁶ tied days); z is ONE closed-form IEEE
      // expression shared verbatim.
      val daily = Tables.events(s, d)
        .select(col("event_type"),
          Det.epochDay(col("ts")).as("day"),
          col("value"))
        .groupBy("event_type", "day")
        .agg(money(sum(dec(col("value")))).as("y"))
      val a = daily.select(col("event_type"), col("day").as("d1"),
        col("y").as("y1"))
      val b = daily.select(col("event_type").as("et2"),
        col("day").as("d2"), col("y").as("y2"))
      val ss = a.join(b, col("event_type") === col("et2")
          && col("d1") < col("d2"))
        .groupBy("event_type")
        .agg(sum(signum(col("y2") - col("y1")).cast(LongType))
          .as("s_stat"))
      val nn = daily.groupBy("event_type").agg(count(lit(1)).as("nd"))
      val ties = daily.groupBy("event_type", "y")
        .agg(count(lit(1)).as("t"))
        .groupBy("event_type")
        .agg(sum(col("t").cast(DecimalType(38, 0)) * (col("t") - 1)
          * (lit(2) * col("t") + 5)).as("tsum"))
      // nullif guards the degenerate all-tied series (variance term
      // exactly 0): 0/sqrt(0) is NaN in Spark but engine-configurable
      // in DuckDB, so both emit z NULL → trend 'none' instead.
      ss.join(nn, Seq("event_type")).join(ties, Seq("event_type"))
        .selectExpr("event_type", "nd AS n_days", "s_stat",
          "round((s_stat - CAST(sign(s_stat) AS BIGINT))" +
            " / sqrt(nullif((CAST(nd AS DOUBLE) * (nd - 1) * (2 * nd + 5)" +
            " - CAST(tsum AS DOUBLE)) / 18.0, 0.0)), 4) AS z")
        .withColumn("trend",
          when(col("z") > 1.96, lit("increasing"))
            .when(col("z") < -1.96, lit("decreasing"))
            .otherwise(lit("none")))
        .orderBy("event_type")
    }),

    "win_ohlc" -> ((s, d) => {
      // OHLC resampling — the downsample every telemetry/market store
      // runs: per (series, hour) the first/highest/lowest/last value
      // plus count and exact volume. Open/close need an ORDER within
      // the bucket: one shared (series, hour → time, event_id) window
      // ranks both ends (first = rn 1, last = reverse rn 1) — ties on
      // the second break by event_id, a total order both engines
      // replay. High/low/volume fold in the same aggregate; volume is
      // the exact decimal sum. One shuffle, window and aggregate
      // sharing the (series, hour) partitioning.
      val ev = Tables.events(s, d).select(col("event_type"),
        date_trunc("hour", col("ts")).as("hr"),
        graft.Det.epochS(col("ts")).as("sec"), col("event_id"),
        col("value"))
      val wAsc = Window.partitionBy("event_type", "hr")
        .orderBy(col("sec"), col("event_id"))
      val wDesc = Window.partitionBy("event_type", "hr")
        .orderBy(col("sec").desc, col("event_id").desc)
      ev.withColumn("rna", row_number().over(wAsc))
        .withColumn("rnd", row_number().over(wDesc))
        .groupBy("event_type", "hr")
        .agg(
          max(when(col("rna") === 1, col("value"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max(when(col("rnd") === 1, col("value"))).as("close"),
          count(lit(1)).as("n"),
          sumMoney(col("value")).as("volume"))
        .orderBy("event_type", "hr")
    }),

    "win_seasonal_decompose" -> ((s, d) => {
      // Additive seasonal decomposition (STL-lite): daily metric =
      // trend (centered 7-day moving average) + day-of-week seasonal
      // (mean detrended value per weekday phase) + residual — the
      // "is Monday always low or is something broken" separation a
      // metrics pipeline runs before alerting on raw deltas. Three
      // window/aggregate passes over the DAILY table (never the fact
      // table): trend shares the series sort, the seasonal means are
      // a 7-row-per-series aggregate broadcast back, and the residual
      // is arithmetic. Determinism: daily sums exact decimal; trend is
      // window-sum/count (one IEEE division); detrended values sum
      // fixed-point into the seasonal means; residual is the same
      // IEEE chain in both engines. Edge days use their partial
      // centered window — standard, and identical cross-engine.
      val fx = graft.Det.FixedPoint
      val daily = Tables.events(s, d)
        .select(col("event_type"),
          Det.epochDay(col("ts")).as("day"),
          col("value"))
        .groupBy("event_type", "day")
        .agg(money(sum(dec(col("value")))).as("y"))
      val wTr = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-3, 3)
      val detr = daily
        .withColumn("trend", round(
          sum(col("y").cast(graft.Det.Money)).over(wTr).cast(DoubleType)
            / count(lit(1)).over(wTr), 4))
        .withColumn("dow", pmod(col("day"), lit(7L)))
        .withColumn("detr", col("y") - col("trend"))
      val seas = detr.groupBy("event_type", "dow")
        .agg(round((sum(floor(col("detr") * fx)).cast(DoubleType) / fx)
          / count(lit(1)), 4).as("seasonal"))
      detr.join(broadcast(seas), Seq("event_type", "dow"))
        .select(col("event_type"), col("day"), col("y"), col("trend"),
          col("seasonal"),
          round(col("y") - col("trend") - col("seasonal"), 4)
            .as("residual"))
        .orderBy("event_type", "day")
    }),

    "win_streaks" -> ((s, d) => {
      // Longest consecutive-active-day streak per user — the
      // gaps-and-islands variant every engagement metric needs: dedup
      // to (user, day) once (the only fact-sized shuffle), then
      // day − row_number() is constant within a consecutive run, so
      // one window pass + an output-sized double aggregate finds the
      // max run length. No self-join against shifted copies (the
      // O(n²) formulation).
      val days = Tables.events(s, d)
        .select(col("user_id"), epochS(col("ts")).as("sec"))
        .select(col("user_id"), expr("sec div 86400").as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      days
        .withColumn("grp", col("day") - row_number().over(w))
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("user_id"))
        .agg(max(col("len")).as("max_streak_days"),
          count(lit(1)).as("n_streaks"))
        .orderBy("user_id")
    }),

    "win_running_distinct" -> ((s, d) => {
      // Running COUNT DISTINCT per key — no inverse exists, so it
      // can't frame-decompose like a running sum; the scale idiom is
      // the FIRST-OCCURRENCE flag: row_number over (key, value) marks
      // each value's first appearance, then the running sum of flags
      // IS the cumulative distinct count. Both passes are plain
      // windows (bounded per-partition state, spillable); the naive
      // alternative — collect_set over a growing frame — holds the
      // whole value set per row and dies at scale.
      val wFirst = Window
        .partitionBy(col("o_custkey"), col("o_orderpriority"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wRun = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
        .withColumn("first_seen",
          when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
        .withColumn("n_distinct_prio", sum(col("first_seen")).over(wRun))
        .select(col("o_custkey"), col("o_orderkey"), col("n_distinct_prio"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    "win_zscore" -> ((s, d) => {
      // Rolling z-score anomaly flag — the streaming-adjacent outlier
      // detector a metrics pipeline runs per key: each order scored
      // against the trailing-20 window of ITS customer. All three frame
      // aggregates (count, Σx, Σx²) share one (key → time, id) window
      // spec, so Spark evaluates them in a single Window operator over
      // one exchange+sort; the sums stay exact DECIMAL inside the frame
      // (same agg_stats_corr discipline — a double frame-sum would be
      // order-dependent) and the closed form is one identical IEEE
      // expression in both engines. Warm-up rows (n<8) and flat frames
      // emit NULL, not a division error.
      val x = expr("try_cast(o_totalprice AS DECIMAL(18,4))")
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(-19, Window.currentRow)
      val base = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          x.as("x"))
        .withColumn("n", count(lit(1)).over(w).cast(DoubleType))
        .withColumn("s1", sum(col("x")).over(w).cast(DoubleType))
        .withColumn("s2", sum(col("x") * col("x")).over(w).cast(DoubleType))
      val mean = col("s1") / col("n")
      // ANSI guard: n−1 → NULL (not 0) for the first frame row, so the
      // division yields NULL instead of DIVIDE_BY_ZERO; the n≥8 gate
      // alone wouldn't help because `when` CONDITIONS evaluate eagerly
      val nm1 = when(col("n") > lit(1.0), col("n") - lit(1.0))
      val variance = (col("s2") - col("s1") * col("s1") / col("n")) / nm1
      val z = (col("x").cast(DoubleType) - mean) / sqrt(variance)
      // flag from the UNROUNDED z (bit-identical in both engines — the
      // whole expression is the same IEEE ops on exact inputs); flagging
      // off the rounded value would disagree with the oracle for |z| in
      // (2, 2.00005]
      base.withColumn("zraw", when(col("n") >= 8 && variance > 0, z))
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("zraw"), 4).as("zscore"),
          when(col("zraw").isNotNull && abs(col("zraw")) > 2, 1)
            .otherwise(0).cast(IntegerType).as("is_outlier"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    "win_interp_linear" -> ((s, d) => {
      // Calendar densify + LINEAR interpolation — win_gap_fill's
      // sibling for continuous measures, where a missing month should
      // read as the straight line between its surrounding actuals (a
      // zero-fill would inject artificial cliffs into a trend
      // feature). Same per-key spine (sequence + explode, never a
      // driver calendar); the surrounding actuals arrive via two
      // IGNORE NULLS window passes over ONE (key → month) sort, so the
      // whole key is a single fact-sized exchange. Values stay exact
      // DECIMAL until the lerp, which is one identical IEEE expression
      // in both engines (month offsets are exact small integers for
      // month-truncated dates).
      val o = Tables.orders(s, d).select(col("o_custkey"),
        trunc(col("o_orderdate"), "month").as("m"),
        dec(col("o_totalprice")).as("p"))
      val actual = o.groupBy(col("o_custkey"), col("m"))
        .agg(sum(col("p")).as("v"))
      val spine = o.groupBy(col("o_custkey"))
        .agg(min(col("m")).as("st"), max(col("m")).as("e"))
        .select(col("o_custkey"), col("st"),
          explode(sequence(lit(0),
            expr("CAST(months_between(e, st) AS INT)"))).as("i"))
        .select(col("o_custkey"), expr("add_months(st, i)").as("m"))
      val wPrev = Window.partitionBy(col("o_custkey")).orderBy(col("m"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy(col("o_custkey")).orderBy(col("m"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val marked = spine.join(actual, Seq("o_custkey", "m"), "left")
        .select(col("o_custkey"), col("m"), col("v"),
          last(col("v"), ignoreNulls = true).over(wPrev).as("pv"),
          last(when(col("v").isNotNull, col("m")), ignoreNulls = true)
            .over(wPrev).as("pm"),
          first(col("v"), ignoreNulls = true).over(wNext).as("nv"),
          first(when(col("v").isNotNull, col("m")), ignoreNulls = true)
            .over(wNext).as("nm"))
      val frac = months_between(col("m"), col("pm")) /
        months_between(col("nm"), col("pm"))
      val interp = when(col("v").isNotNull, col("v").cast(DoubleType))
        .otherwise(col("pv").cast(DoubleType) +
          (col("nv").cast(DoubleType) - col("pv").cast(DoubleType)) * frac)
      marked.select(col("o_custkey"), col("m"),
        when(col("v").isNotNull, 1).otherwise(0)
          .cast(IntegerType).as("is_actual"),
        // NOT round(): the midpoint of two 4-dp values sits EXACTLY on
        // the 5e-5 half-boundary, where Spark (BigDecimal HALF_UP on
        // the binary expansion) and DuckDB (scaled C round) disagree.
        // floor(x·10⁴ + ½)/10⁴ is pure IEEE arithmetic — identical
        // bits in both engines on every input, boundaries included.
        (floor(interp * lit(1e4) + lit(0.5)).cast(DoubleType) / lit(1e4))
          .as("m_total"))
        .orderBy("o_custkey", "m")
    }),

    "agg_retention" -> ((s, d) => {
      // Cohort retention: users grouped by first-activity week; for
      // each week offset k, how many of the cohort were active k weeks
      // later. Two aggregates and a join, ALL keyed on user_id until
      // the final small (cohort, offset) rollup — the 100 TB shape is
      // one fact shuffle + one broadcast-sized output. Weeks are
      // epoch-second div 7·86400 (fixed epoch anchor, no locale).
      val ev = Tables.events(s, d)
        .select(col("user_id"), epochS(col("ts")).as("sec"))
        .select(col("user_id"), expr("sec div 604800").as("wk"))
      val cohort = ev.groupBy("user_id").agg(min(col("wk")).as("c_wk"))
      ev.join(cohort, "user_id")
        .groupBy(col("c_wk"), (col("wk") - col("c_wk")).as("wk_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("c_wk", "wk_offset")
    }),

    "win_rolling_median" -> ((s, d) => {
      // Rolling MEDIAN over a trailing row frame — the robust-statistics
      // window (an outlier order doesn't drag a trailing mean for 5
      // rows). percentile() is frame-evaluated per row; cost is
      // O(frame log frame) per row on a key-partitioned window, the
      // same single sort+shuffle as any win_ key. Inputs go through
      // DOUBLE (exact for 2-dp money) so both engines interpolate the
      // identical values at even frame sizes; position math is the
      // same p·(n−1) linear rule in Spark and DuckDB.
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(-4, Window.currentRow)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice").cast(DoubleType).as("p"))
        .select(col("o_custkey"), col("o_orderkey"),
          round(expr("percentile(p, 0.5)").over(w), 4).as("med5"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    "agg_rolling_dau" -> ((s, d) => {
      // DAU + rolling 7-day WAU per day. Sliding-window COUNT DISTINCT
      // does not decompose into window frames (distinct isn't
      // subtractable), so the scale idiom is contribution explosion:
      // dedup to (user, day) pairs once, then each pair contributes to
      // the 7 window-days it falls in and a plain count(distinct)
      // per day finishes it. The fact table is shuffled once (the
      // dedup); the exploded set is 7×|user-days|, grouped on a
      // day key whose cardinality is the calendar — tiny. Reported
      // only for days that have events (join with observed days).
      val ud = Tables.events(s, d)
        .select(col("user_id"), epochS(col("ts")).as("sec"))
        .select(col("user_id"), expr("sec div 86400").as("day"))
        .distinct()
      val days = ud.select(col("day").as("d")).distinct()
      val dau = ud.groupBy(col("day").as("d"))
        .agg(countDistinct(col("user_id")).as("dau"))
      val wau = ud
        .select(col("user_id"),
          explode(sequence(col("day"), col("day") + 6)).as("d"))
        .join(days, "d")
        .groupBy(col("d"))
        .agg(countDistinct(col("user_id")).as("wau"))
      dau.join(wau, "d").orderBy("d")
    }),

    "etl_user_features" -> ((s, d) => {
      // Composed feature-store build: raw event log → sessionization →
      // per-session rollup → per-user feature row (event counts by
      // type, session count, mean session duration, exact value total,
      // last event type), as ONE plan. Everything after the scan rides
      // a single user_id sort+shuffle: the window stage and both
      // aggregations share the partitioning, so a 100 TB event log
      // pays one exchange for the whole feature build. last_type
      // threads through total-ordered max_by args (event-level
      // (sec_l, event_id), then session number) — deterministic under
      // any merge order.
      val perSess = sessionized(s, d)
        .groupBy(col("user_id"), col("sess_no"))
        .agg(count(lit(1)).as("n_ev"),
          min(col("sec_l")).as("st"), max(col("sec_l")).as("en"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("s_click"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("s_purchase"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("s_error"),
          sum(col("v")).as("val_s"),
          expr("max_by(event_type, struct(sec_l, event_id))").as("sess_last"))
      perSess.groupBy(col("user_id"))
        .agg(sum(col("n_ev")).as("n_events"),
          count(lit(1)).as("n_sessions"),
          sum(col("s_click")).as("n_click"),
          sum(col("s_purchase")).as("n_purchase"),
          sum(col("s_error")).as("n_error"),
          money(sum(col("val_s"))).as("total_value"),
          round(sum(col("en") - col("st")).cast(DoubleType) / count(lit(1)), 4)
            .as("avg_sess_dur"),
          expr("max_by(sess_last, sess_no)").as("last_type"))
        .orderBy("user_id")
    })
  )

  val oracles: Map[String, String] = Map(
    "etl_scd2" ->
      """SELECT o_custkey, CAST(version AS INTEGER) AS version, attr,
             valid_from, valid_to, is_current FROM (
           SELECT o_custkey,
                  row_number() OVER w AS version,
                  CAST(round(CAST(o_totalprice AS DECIMAL(38,4)), 4)
                    AS DOUBLE) AS attr,
                  o_orderdate AS valid_from,
                  lead(o_orderdate) OVER w AS valid_to,
                  (lead(o_orderdate) OVER w IS NULL) AS is_current
           FROM orders
           WINDOW w AS (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey))
         ORDER BY o_custkey, version""",

    // row_number over (sec DESC, event_id DESC) replays max_by's
    // (sec, event_id) struct argmax exactly.
    "etl_cdc_apply" ->
      """WITH ops AS (
           SELECT user_id, event_id,
                  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
                  CASE WHEN event_type = 'error' THEN 'delete'
                       ELSE 'upsert' END AS op,
                  CAST(value AS DECIMAL(38,4)) AS v
           FROM events
           WHERE event_type IN ('signup', 'click', 'view', 'error')),
         ranked AS (
           SELECT user_id, op, v,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY sec DESC, event_id DESC) AS rn,
                  count(*) OVER (PARTITION BY user_id) AS n_changes,
                  max(sec) OVER (PARTITION BY user_id) AS last_sec
           FROM ops)
         SELECT user_id, CAST(round(v, 4) AS DOUBLE) AS value,
                last_sec, n_changes
         FROM ranked WHERE rn = 1 AND op <> 'delete'
         ORDER BY user_id""",

    "win_gap_fill" ->
      """WITH o AS (
           SELECT o_custkey,
                  CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                  CAST(o_totalprice AS DECIMAL(38,4)) AS p
           FROM orders),
         actual AS (SELECT o_custkey, m, sum(p) AS m_total_d
                    FROM o GROUP BY 1, 2),
         bounds AS (SELECT o_custkey, min(m) AS s, max(m) AS e
                    FROM o GROUP BY 1),
         spine AS (SELECT o_custkey,
                          CAST(unnest(generate_series(
                            CAST(s AS TIMESTAMP), CAST(e AS TIMESTAMP),
                            INTERVAL 1 MONTH)) AS DATE) AS m
                   FROM bounds)
         SELECT sp.o_custkey, sp.m,
                CAST(round(coalesce(a.m_total_d, 0), 4) AS DOUBLE) AS m_total
         FROM spine sp LEFT JOIN actual a USING (o_custkey, m)
         ORDER BY o_custkey, m""",

    "win_pct_change" ->
      """WITH m AS (
           SELECT o_custkey,
                  CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                  sum(CAST(o_totalprice AS DECIMAL(38,4))) AS tot
           FROM orders GROUP BY 1, 2)
         SELECT o_custkey, m,
             CAST(round(tot, 4) AS DOUBLE) AS m_total,
             CASE WHEN lag(tot) OVER w IS NOT NULL
                   AND lag(tot) OVER w <> 0
                   AND datediff('month', lag(m) OVER w, m) = 1
                  THEN round((CAST(tot AS DOUBLE)
                              - CAST(lag(tot) OVER w AS DOUBLE))
                             / CAST(lag(tot) OVER w AS DOUBLE) * 100.0, 4)
             END AS pct_change
         FROM m
         WINDOW w AS (PARTITION BY o_custkey ORDER BY m)
         ORDER BY o_custkey, m""",

    // CAST each weight literal to DOUBLE: DuckDB would otherwise parse
    // them as DECIMAL(18,17) and fold the numerator EXACTLY while Spark
    // folds binary doubles — a ~1e-6/row latent hash flip at the 4-dp
    // rounding boundary. With the cast both engines genuinely run the
    // same IEEE fold.
    "win_ewma" -> {
      val num = EwmaWeights.zipWithIndex.map { case (wi, i) =>
        s"coalesce(lag(o_totalprice, $i) OVER w, 0.0) * CAST($wi AS DOUBLE)"
      }.mkString(" + ")
      val den = EwmaWeights.zipWithIndex.map { case (wi, i) =>
        s"(CASE WHEN lag(o_totalprice, $i) OVER w IS NOT NULL THEN CAST($wi AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)"
      }.mkString(" + ")
      s"""SELECT o_custkey, o_orderkey,
             round(($num) / ($den), 4) AS ewma10
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey"""
    },

    // Same exact daily aggregate, same lag-weight literals, same
    // fixed-point weighted sums — the weighted-sum form replays as a
    // plain aggregate, no fold anywhere (DuckDB's list_reduce
    // struct-lambda field order proved version-unstable, which is
    // exactly why the operator avoids folds).
    "win_holt" ->
      s"""WITH daily AS (
           SELECT event_type,
                  CAST(epoch(date_trunc('second', ts)) AS BIGINT)
                    // 86400 AS day,
                  CAST(round(sum(CAST(value AS DECIMAL(38,4))), 4)
                    AS DOUBLE) AS y
           FROM events GROUP BY 1, 2),
         warr AS (SELECT ${holtArr(HoltC.map(_._1), duck = true)} AS wl,
                         ${holtArr(HoltC.map(_._2), duck = true)} AS wb,
                         ${holtArr(HoltI.map(_._1), duck = true)} AS il,
                         ${holtArr(HoltI.map(_._2), duck = true)} AS ib),
         posd AS (SELECT event_type, y,
                    row_number() OVER (PARTITION BY event_type
                      ORDER BY day) - 1 AS pos,
                    count(*) OVER (PARTITION BY event_type) - 1 AS maxp
                  FROM daily),
         terms AS (SELECT p.event_type, p.y,
                     CASE WHEN p.pos = 0
                          THEN w.il[CAST(p.maxp AS INTEGER) + 1]
                          ELSE w.wl[CAST(p.maxp - p.pos AS INTEGER) + 1]
                     END AS wl,
                     CASE WHEN p.pos = 0
                          THEN w.ib[CAST(p.maxp AS INTEGER) + 1]
                          ELSE w.wb[CAST(p.maxp - p.pos AS INTEGER) + 1]
                     END AS wb
                   FROM posd p CROSS JOIN warr w),
         agg AS (SELECT event_type, count(*) AS n_days,
                   CAST(sum(CAST(floor(wl * y * 1099511627776.0)
                     AS BIGINT)) AS DOUBLE) / 1099511627776.0 AS lvl,
                   CAST(sum(CAST(floor(wb * y * 1099511627776.0)
                     AS BIGINT)) AS DOUBLE) / 1099511627776.0 AS trd
                 FROM terms GROUP BY 1)
         SELECT event_type, n_days,
                round(lvl, 4) AS level,
                round(trd, 4) AS trend,
                round(lvl + 3.0 * trd, 4) AS forecast_3
         FROM agg ORDER BY event_type""",

    // Same decimal-exact prefix identity: P − running-min(P) and
    // running-max(P) − P over the shared ordered window, identical
    // IEEE k derivation, exact decimal alarm compare.
    "win_cusum" ->
      """WITH daily AS (
           SELECT event_type,
                  CAST(epoch(date_trunc('second', ts)) AS BIGINT)
                    // 86400 AS day,
                  sum(CAST(value AS DECIMAL(38,4))) AS y
           FROM events GROUP BY 1, 2),
         kref AS (SELECT event_type,
                    CAST(round(CAST(sum(y) AS DOUBLE) / count(*), 4)
                      AS DECIMAL(38,4)) AS k
                  FROM daily GROUP BY 1),
         psum AS (SELECT d.event_type, d.day, d.y, r.k,
                   sum(d.y - r.k) OVER (PARTITION BY d.event_type
                     ORDER BY d.day ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS p
                 FROM daily d JOIN kref r ON d.event_type = r.event_type),
         pre AS (SELECT event_type, day, y, k, p,
                   least(min(p) OVER w, CAST(0 AS DECIMAL(38,4))) AS minp,
                   greatest(max(p) OVER w, CAST(0 AS DECIMAL(38,4))) AS maxp
                 FROM psum
                 WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT event_type, day,
                CAST(round(y, 4) AS DOUBLE) AS daily,
                CAST(round(p - minp, 4) AS DOUBLE) AS cusum_up,
                CAST(round(maxp - p, 4) AS DOUBLE) AS cusum_dn,
                p - minp > k AS alarm_up,
                maxp - p > k AS alarm_dn
         FROM pre ORDER BY event_type, day""",

    // Same daily series, same per-series min-shift, same lag equi-join,
    // same fixed-point paired moments and shared Pearson closed form.
    "win_autocorr" ->
      s"""WITH daily0 AS (
           SELECT event_type,
                  CAST(epoch(date_trunc('second', ts)) AS BIGINT)
                    // 86400 AS day,
                  CAST(round(sum(CAST(value AS DECIMAL(38,4))), 4)
                    AS DOUBLE) AS y
           FROM events GROUP BY 1, 2),
         daily AS (
           SELECT event_type, day,
                  y - min(y) OVER (PARTITION BY event_type) AS y
           FROM daily0),
         lagged AS (SELECT a.event_type, l.lag, a.y AS y1, b.y AS y2
                    FROM daily a
                    CROSS JOIN (SELECT CAST(unnest([1,2,3,4,5]) AS BIGINT)
                                  AS lag) l
                    JOIN daily b ON b.event_type = a.event_type
                      AND b.day = a.day - l.lag),
         sums AS (SELECT event_type, lag,
                    ${AcfSums(0)} AS n, ${AcfSums(1)} AS s1,
                    ${AcfSums(2)} AS s2, ${AcfSums(3)} AS s11,
                    ${AcfSums(4)} AS s22, ${AcfSums(5)} AS s12
                  FROM lagged GROUP BY 1, 2)
         SELECT event_type, lag, CAST(n AS BIGINT) AS n_pairs, $AcfR
         FROM sums ORDER BY event_type, lag""",

    // Same daily series, same bounded pairwise self-join, same
    // quantile_cont medians for slope and intercept.
    "win_theil_sen" ->
      """WITH daily AS (
           SELECT event_type,
                  CAST(epoch(date_trunc('second', ts)) AS BIGINT)
                    // 86400 AS day,
                  CAST(round(sum(CAST(value AS DECIMAL(38,4))), 4)
                    AS DOUBLE) AS y
           FROM events GROUP BY 1, 2),
         slopes AS (SELECT a.event_type,
                      (b.y - a.y) / CAST(b.day - a.day AS DOUBLE) AS m
                    FROM daily a JOIN daily b
                      ON a.event_type = b.event_type AND a.day < b.day),
         ts AS (SELECT event_type, quantile_cont(m, 0.5) AS m,
                       count(*) AS n_pairs
                FROM slopes GROUP BY 1)
         SELECT d.event_type,
                count(*) AS n_days,
                CAST(min(t.n_pairs) AS BIGINT) AS n_pairs,
                round(min(t.m), 6) AS slope,
                round(quantile_cont(d.y - t.m * d.day, 0.5), 4)
                  AS intercept
         FROM daily d JOIN ts t ON d.event_type = t.event_type
         GROUP BY d.event_type ORDER BY d.event_type""",

    // Same day-bucketed candidate join, same (tsec, event_id)
    // min_by/max_by picks, same unattributed left-join row.
    "win_attribution" ->
      """WITH ev AS (
           SELECT user_id,
                  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
                  event_type, value, event_id
           FROM events),
         touch AS (SELECT user_id AS tu, sec AS tsec,
                          event_type AS ttype, event_id AS tev,
                          sec // 86400 AS tday
                   FROM ev WHERE event_type IN ('click', 'view')),
         pur AS (SELECT user_id AS pu, sec AS psec, value,
                        event_id AS pev, sec // 86400 AS pday
                 FROM ev WHERE event_type = 'purchase'),
         cand AS (SELECT p.pev, t.ttype, t.tsec, t.tev
                  FROM pur p JOIN touch t ON p.pu = t.tu
                    AND (t.tday = p.pday OR t.tday = p.pday - 1)
                    AND t.tsec < p.psec AND t.tsec >= p.psec - 86400),
         att AS (SELECT pev,
                   first(ttype ORDER BY tsec DESC, tev DESC)
                     AS last_touch,
                   first(ttype ORDER BY tsec, tev) AS first_touch
                 FROM cand GROUP BY 1),
         rows0 AS (SELECT coalesce(a.last_touch, 'unattributed')
                     AS last_touch,
                   coalesce(a.first_touch, 'unattributed')
                     AS first_touch,
                   p.value
                   FROM pur p LEFT JOIN att a ON p.pev = a.pev)
         SELECT last_touch, CAST(count(*) AS BIGINT) AS n_last,
                CAST(round(sum(CAST(value AS DECIMAL(38,4))), 4)
                  AS DOUBLE) AS rev_last,
                CAST(sum(CASE WHEN first_touch = last_touch
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_same_first
         FROM rows0 GROUP BY 1 ORDER BY last_touch""",

    // Same daily series, same bounded pairwise self-join; exact
    // integer S and DECIMAL tie term, one shared closed-form z.
    "win_mann_kendall" ->
      """WITH daily AS (
           SELECT event_type,
                  CAST(epoch(date_trunc('second', ts)) AS BIGINT)
                    // 86400 AS day,
                  CAST(round(sum(CAST(value AS DECIMAL(38,4))), 4)
                    AS DOUBLE) AS y
           FROM events GROUP BY 1, 2),
         ss AS (SELECT a.event_type,
                  CAST(sum(CAST(sign(b.y - a.y) AS BIGINT)) AS BIGINT)
                    AS s_stat
                FROM daily a JOIN daily b
                  ON a.event_type = b.event_type AND a.day < b.day
                GROUP BY 1),
         nn AS (SELECT event_type, count(*) AS nd FROM daily GROUP BY 1),
         ties AS (SELECT event_type,
                    sum(CAST(t AS DECIMAL(38,0)) * (t - 1) * (2 * t + 5))
                      AS tsum
                  FROM (SELECT event_type, y, count(*) AS t
                        FROM daily GROUP BY 1, 2) GROUP BY 1),
         z AS (SELECT s.event_type, n.nd AS n_days, s.s_stat,
                 round((s.s_stat - CAST(sign(s.s_stat) AS BIGINT))
                   / sqrt(nullif((CAST(n.nd AS DOUBLE) * (n.nd - 1)
                     * (2 * n.nd + 5) - CAST(t.tsum AS DOUBLE)) / 18.0,
                     0.0)), 4) AS z
               FROM ss s JOIN nn n ON s.event_type = n.event_type
               JOIN ties t ON s.event_type = t.event_type)
         SELECT event_type, n_days, s_stat, z,
                CASE WHEN z > 1.96 THEN 'increasing'
                     WHEN z < -1.96 THEN 'decreasing'
                     ELSE 'none' END AS trend
         FROM z ORDER BY event_type""",

    // Same shared bucket window for the ordered ends, same exact
    // decimal volume.
    "win_ohlc" ->
      """WITH ev AS (
           SELECT event_type, date_trunc('hour', ts) AS hr,
                  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
                  event_id, value,
                  row_number() OVER (PARTITION BY event_type,
                    date_trunc('hour', ts)
                    ORDER BY date_trunc('second', ts), event_id) AS rna,
                  row_number() OVER (PARTITION BY event_type,
                    date_trunc('hour', ts)
                    ORDER BY date_trunc('second', ts) DESC,
                             event_id DESC) AS rnd
           FROM events)
         SELECT event_type, hr,
                max(CASE WHEN rna = 1 THEN value END) AS open,
                max(value) AS high, min(value) AS low,
                max(CASE WHEN rnd = 1 THEN value END) AS close,
                count(*) AS n,
                CAST(round(sum(CAST(value AS DECIMAL(38,4))), 4)
                  AS DOUBLE) AS volume
         FROM ev GROUP BY 1, 2 ORDER BY event_type, hr""",

    // Same decimal daily series, same centered window trend with the
    // one IEEE division, same fixed-point seasonal means and residual
    // chain.
    "win_seasonal_decompose" ->
      """WITH daily AS (
           SELECT event_type,
                  CAST(epoch(date_trunc('second', ts)) AS BIGINT)
                    // 86400 AS day,
                  CAST(round(sum(CAST(value AS DECIMAL(38,4))), 4)
                    AS DOUBLE) AS y
           FROM events GROUP BY 1, 2),
         detr AS (SELECT event_type, day, y,
                    round(CAST(sum(CAST(y AS DECIMAL(38,4))) OVER w
                        AS DOUBLE) / count(*) OVER w, 4) AS trend,
                    ((day % 7) + 7) % 7 AS dow,
                    y - round(CAST(sum(CAST(y AS DECIMAL(38,4))) OVER w
                        AS DOUBLE) / count(*) OVER w, 4) AS detr
                  FROM daily
                  WINDOW w AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         seas AS (SELECT event_type, dow,
                    round((CAST(sum(CAST(floor(detr * 1099511627776.0)
                        AS BIGINT)) AS DOUBLE) / 1099511627776.0)
                      / count(*), 4) AS seasonal
                  FROM detr GROUP BY 1, 2)
         SELECT d.event_type, d.day, d.y, d.trend, s.seasonal,
                round(d.y - d.trend - s.seasonal, 4) AS residual
         FROM detr d JOIN seas s
           ON d.event_type = s.event_type AND d.dow = s.dow
         ORDER BY d.event_type, d.day""",

    "win_streaks" ->
      """WITH days AS (
           SELECT DISTINCT user_id,
                  CAST(epoch(date_trunc('second', ts)) AS BIGINT)
                    // 86400 AS day
           FROM events),
         runs AS (
           SELECT user_id,
                  day - row_number() OVER (PARTITION BY user_id
                                           ORDER BY day) AS grp
           FROM days),
         lens AS (SELECT user_id, grp, count(*) AS len
                  FROM runs GROUP BY 1, 2)
         SELECT user_id, max(len) AS max_streak_days,
                count(*) AS n_streaks
         FROM lens GROUP BY user_id ORDER BY user_id""",

    "win_running_distinct" ->
      """SELECT o_custkey, o_orderkey,
             CAST(sum(first_seen) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n_distinct_prio
         FROM (SELECT o_custkey, o_orderkey, o_orderdate,
                 CASE WHEN row_number() OVER (
                     PARTITION BY o_custkey, o_orderpriority
                     ORDER BY o_orderdate, o_orderkey) = 1
                   THEN 1 ELSE 0 END AS first_seen
               FROM orders)
         ORDER BY o_custkey, o_orderkey""",

    "win_zscore" ->
      """WITH base AS (
           SELECT o_custkey, o_orderkey,
                  CAST(o_totalprice AS DECIMAL(19,4)) AS x,
                  CAST(count(*) OVER w AS DOUBLE) AS n,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(19,4))) OVER w AS DOUBLE) AS s1,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(19,4))
                         * CAST(o_totalprice AS DECIMAL(19,4))) OVER w AS DOUBLE) AS s2
           FROM orders
           WINDOW w AS (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
         SELECT o_custkey, o_orderkey,
             CASE WHEN n >= 8 AND (s2 - s1*s1/n)/(n-1.0) > 0
                  THEN round((CAST(x AS DOUBLE) - s1/n)
                             / sqrt((s2 - s1*s1/n)/(n-1.0)), 4) END AS zscore,
             CAST(CASE WHEN n >= 8 AND (s2 - s1*s1/n)/(n-1.0) > 0
                  AND abs((CAST(x AS DOUBLE) - s1/n)
                          / sqrt((s2 - s1*s1/n)/(n-1.0))) > 2
                  THEN 1 ELSE 0 END AS INTEGER) AS is_outlier
         FROM base ORDER BY o_custkey, o_orderkey""",

    "win_interp_linear" ->
      """WITH o AS (
           SELECT o_custkey,
                  CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                  CAST(o_totalprice AS DECIMAL(38,4)) AS p
           FROM orders),
         actual AS (SELECT o_custkey, m, sum(p) AS v
                    FROM o GROUP BY 1, 2),
         bounds AS (SELECT o_custkey, min(m) AS s, max(m) AS e
                    FROM o GROUP BY 1),
         spine AS (SELECT o_custkey,
                          CAST(unnest(generate_series(
                            CAST(s AS TIMESTAMP), CAST(e AS TIMESTAMP),
                            INTERVAL 1 MONTH)) AS DATE) AS m
                   FROM bounds),
         j AS (SELECT sp.o_custkey, sp.m, a.v
               FROM spine sp LEFT JOIN actual a USING (o_custkey, m)),
         w AS (SELECT o_custkey, m, v,
             last_value(v IGNORE NULLS) OVER wp AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN m END IGNORE NULLS)
               OVER wp AS pm,
             first_value(v IGNORE NULLS) OVER wn AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN m END IGNORE NULLS)
               OVER wn AS nm
           FROM j
           WINDOW wp AS (PARTITION BY o_custkey ORDER BY m
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (PARTITION BY o_custkey ORDER BY m
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         SELECT o_custkey, m,
             CAST(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
               AS is_actual,
             floor((CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
               ELSE CAST(pv AS DOUBLE)
                 + (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE))
                   * (CAST(datediff('month', pm, m) AS DOUBLE)
                      / CAST(datediff('month', pm, nm) AS DOUBLE)) END)
               * 10000.0 + 0.5) / 10000.0
               AS m_total
         FROM w ORDER BY o_custkey, m""",

    "win_rolling_median" ->
      """SELECT o_custkey, o_orderkey,
             round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5)
               OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS med5
         FROM orders ORDER BY o_custkey, o_orderkey""",

    "agg_rolling_dau" ->
      """WITH ud AS (
           SELECT DISTINCT user_id,
                  CAST(epoch(date_trunc('second', ts)) AS BIGINT)
                    // 86400 AS day
           FROM events),
         days AS (SELECT DISTINCT day AS d FROM ud),
         dau AS (SELECT day AS d, count(DISTINCT user_id) AS dau
                 FROM ud GROUP BY 1),
         wau AS (SELECT c.d, count(DISTINCT c.user_id) AS wau
                 FROM (SELECT user_id, day + i AS d
                       FROM ud, range(0, 7) AS t(i)) c
                 JOIN days USING (d) GROUP BY 1)
         SELECT d, dau, wau FROM dau JOIN wau USING (d) ORDER BY d""",

    "agg_retention" ->
      """WITH ev AS (
           SELECT user_id,
                  CAST(epoch(date_trunc('second', ts)) AS BIGINT)
                    // 604800 AS wk
           FROM events),
         cohort AS (SELECT user_id, min(wk) AS c_wk FROM ev GROUP BY 1)
         SELECT c.c_wk, e.wk - c.c_wk AS wk_offset,
                count(DISTINCT e.user_id) AS n_users
         FROM ev e JOIN cohort c USING (user_id)
         GROUP BY 1, 2 ORDER BY c_wk, wk_offset""",

    "win_funnel" ->
      """WITH ev AS (
           SELECT user_id, event_type,
                  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
           FROM events),
         t1 AS (SELECT user_id, min(sec) AS t1 FROM ev
                WHERE event_type = 'view' GROUP BY 1),
         t2 AS (SELECT e.user_id, min(e.sec) AS t2
                FROM ev e JOIN t1 USING (user_id)
                WHERE e.event_type = 'click' AND e.sec > t1.t1 GROUP BY 1),
         t3 AS (SELECT e.user_id, min(e.sec) AS t3
                FROM ev e JOIN t2 USING (user_id)
                WHERE e.event_type = 'purchase' AND e.sec > t2.t2 GROUP BY 1)
         SELECT CAST(1 AS INTEGER) AS stage, 'view' AS event_type,
                count(*) AS n_users FROM t1
         UNION ALL SELECT 2, 'click', count(*) FROM t2
         UNION ALL SELECT 3, 'purchase', count(*) FROM t3
         ORDER BY stage""",

    // string_agg with an explicit (sec, event_id) ORDER BY replays the
    // array_sort total order; both regex engines count non-overlapping
    // leftmost matches of the same pattern.
    "win_event_pattern" ->
      """WITH ev AS (
           SELECT user_id, event_id,
                  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
                  CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                       WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                       ELSE 'e' END AS ch
           FROM events),
         sq AS (SELECT user_id,
                       string_agg(ch, '' ORDER BY sec, event_id) AS seq,
                       count(*) AS n_events
                FROM ev GROUP BY user_id)
         SELECT user_id, n_events,
                CAST(len(regexp_extract_all(seq, 'vc*p')) AS BIGINT)
                  AS n_matches,
                len(regexp_extract_all(seq, 'vc*p')) > 0 AS matched
         FROM sq ORDER BY user_id""",

    // same SQL as win_topk_per_group — the native aggregate must agree
    // with the rank-window formulation row for row
    "win_topk_native" ->
      """SELECT p_brand, p_partkey, revenue, CAST(rnk AS INTEGER) AS rnk FROM (
           SELECT p_brand, p_partkey, revenue,
                  dense_rank() OVER (PARTITION BY p_brand
                    ORDER BY revenue DESC, p_partkey) AS rnk
           FROM (SELECT p_brand, p_partkey,
                   CAST(round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(38,4))),4) AS DOUBLE) AS revenue
                 FROM lineitem JOIN part ON l_partkey = p_partkey
                 GROUP BY p_brand, p_partkey)
         ) WHERE rnk <= 3 ORDER BY p_brand, rnk, p_partkey""",

    "win_topk_per_group" ->
      """SELECT p_brand, p_partkey, revenue, CAST(rnk AS INTEGER) AS rnk FROM (
           SELECT p_brand, p_partkey, revenue,
                  dense_rank() OVER (PARTITION BY p_brand
                    ORDER BY revenue DESC, p_partkey) AS rnk
           FROM (SELECT p_brand, p_partkey,
                   CAST(round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(38,4))),4) AS DOUBLE) AS revenue
                 FROM lineitem JOIN part ON l_partkey = p_partkey
                 GROUP BY p_brand, p_partkey)
         ) WHERE rnk <= 3 ORDER BY p_brand, rnk, p_partkey""",

    "win_dedup_latest" ->
      """SELECT user_id, event_id, event_type FROM (
           SELECT user_id, event_id, event_type,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY date_trunc('second', ts) DESC, event_id DESC) AS rn
           FROM events
         ) WHERE rn = 1 ORDER BY user_id""",

    // the native twin shares win_dedup_latest's window oracle verbatim —
    // the gate proving the bounded aggregate replays the rank window
    "win_dedup_latest_native" ->
      """SELECT user_id, event_id, event_type FROM (
           SELECT user_id, event_id, event_type,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY date_trunc('second', ts) DESC, event_id DESC) AS rn
           FROM events
         ) WHERE rn = 1 ORDER BY user_id""",

    "win_lag_lead" ->
      """SELECT user_id, event_id,
             sec_l - lag(sec_l, 1) OVER w AS gap_s,
             lead(event_id, 1) OVER w AS next_event
         FROM (SELECT user_id, event_id,
                 CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec_l
               FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY sec_l, event_id)
         ORDER BY user_id, event_id""",

    "win_moving_avg" ->
      """SELECT user_id, event_id,
             round(CAST(sum(CAST(value AS DECIMAL(38,4))) OVER w AS DOUBLE)
                   / count(*) OVER w, 4) AS mavg
         FROM events
         WINDOW w AS (PARTITION BY user_id
                      ORDER BY CAST(epoch(date_trunc('second', ts)) AS BIGINT), event_id
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, event_id""",

    "win_first_last" ->
      """SELECT DISTINCT c_mktsegment,
             first_value(c_custkey) OVER w AS richest,
             last_value(c_custkey) OVER w AS poorest,
             nth_value(c_custkey, 2) OVER w AS runner_up
         FROM customer
         WINDOW w AS (PARTITION BY c_mktsegment
                      ORDER BY c_acctbal DESC, c_custkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY c_mktsegment""",

    "win_rank_stats" ->
      """SELECT c_mktsegment, c_custkey,
             CAST(ntile(4) OVER w AS INTEGER) AS quartile,
             CAST(rank() OVER w AS INTEGER) AS rnk,
             round(percent_rank() OVER w, 4) AS pct_rank,
             round(cume_dist() OVER w, 4) AS cdist
         FROM customer
         WINDOW w AS (PARTITION BY c_mktsegment
                      ORDER BY c_acctbal DESC, c_custkey)
         ORDER BY c_mktsegment, c_custkey""",

    "win_running_sum" ->
      """SELECT d,
             CAST(round(rev_d, 4) AS DOUBLE) AS daily_rev,
             CAST(round(sum(rev_d) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS DOUBLE) AS running_rev
         FROM (SELECT CAST(l_shipdate AS DATE) AS d,
                 sum(CAST(l_extendedprice AS DECIMAL(38,4))) AS rev_d
               FROM lineitem GROUP BY 1)
         ORDER BY d""",

    "win_sessionize" ->
      """WITH ev AS (
           SELECT user_id, event_id,
                  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec_l
           FROM events),
         g AS (
           SELECT user_id, event_id, sec_l,
                  CASE WHEN lag(sec_l) OVER w IS NULL
                         OR sec_l - lag(sec_l) OVER w > 28800 THEN 1
                       ELSE 0 END AS brk
           FROM ev
           WINDOW w AS (PARTITION BY user_id ORDER BY sec_l, event_id)),
         sess AS (
           SELECT user_id, sec_l,
                  CAST(sum(brk) OVER (PARTITION BY user_id
                    ORDER BY sec_l, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS sess_no
           FROM g)
         SELECT user_id, sess_no, count(*) AS n_events,
                min(sec_l) AS start_sec, max(sec_l) AS end_sec,
                max(sec_l) - min(sec_l) AS dur_s
         FROM sess GROUP BY user_id, sess_no
         ORDER BY user_id, sess_no""",

    "win_time_range" ->
      """SELECT user_id, event_id, sec_l,
             CAST(round(sum(CAST(value AS DECIMAL(38,4))) OVER w, 4) AS DOUBLE)
               AS trail_1h,
             count(*) OVER w AS n_1h
         FROM (SELECT user_id, event_id, value,
                 CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec_l
               FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY sec_l
                      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, event_id""",

    "win_ignore_nulls" ->
      """SELECT user_id, event_id,
             CAST(round(pv, 4) AS DOUBLE) AS pv,
             CAST(round(lag(pv, 1 IGNORE NULLS) OVER w, 4) AS DOUBLE) AS prev_purchase,
             CAST(round(last_value(pv IGNORE NULLS) OVER (PARTITION BY user_id
               ORDER BY sec_l, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS DOUBLE)
               AS last_known
         FROM (SELECT user_id, event_id,
                 CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec_l,
                 CASE WHEN event_type = 'purchase'
                      THEN CAST(value AS DECIMAL(38,4)) END AS pv
               FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY sec_l, event_id)
         ORDER BY user_id, event_id""",

    // per-user last_type restated independently (win_dedup_latest shape)
    // — must agree with the composed max_by-through-sessions path
    "etl_user_features" ->
      """WITH ev AS (
           SELECT user_id, event_id,
                  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec_l,
                  event_type, CAST(value AS DECIMAL(38,4)) AS v
           FROM events),
         g AS (
           SELECT user_id, event_id, sec_l, event_type, v,
                  CASE WHEN lag(sec_l) OVER w IS NULL
                         OR sec_l - lag(sec_l) OVER w > 28800 THEN 1
                       ELSE 0 END AS brk
           FROM ev
           WINDOW w AS (PARTITION BY user_id ORDER BY sec_l, event_id)),
         sess AS (
           SELECT user_id, sec_l, event_type, v,
                  CAST(sum(brk) OVER (PARTITION BY user_id
                    ORDER BY sec_l, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS sess_no
           FROM g),
         per AS (
           SELECT user_id, sess_no, count(*) AS n_ev,
                  min(sec_l) AS st, max(sec_l) AS en,
                  sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS s_click,
                  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS s_purchase,
                  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS s_error,
                  sum(v) AS val_s
           FROM sess GROUP BY user_id, sess_no),
         lastev AS (
           SELECT user_id, event_type AS last_type FROM (
             SELECT user_id, event_type,
                    row_number() OVER (PARTITION BY user_id
                      ORDER BY sec_l DESC, event_id DESC) AS rn
             FROM ev) WHERE rn = 1)
         SELECT p.user_id,
                CAST(sum(p.n_ev) AS BIGINT) AS n_events,
                count(*) AS n_sessions,
                CAST(sum(p.s_click) AS BIGINT) AS n_click,
                CAST(sum(p.s_purchase) AS BIGINT) AS n_purchase,
                CAST(sum(p.s_error) AS BIGINT) AS n_error,
                CAST(round(sum(p.val_s), 4) AS DOUBLE) AS total_value,
                round(CAST(sum(p.en - p.st) AS DOUBLE) / count(*), 4) AS avg_sess_dur,
                l.last_type
         FROM per p JOIN lastev l USING (user_id)
         GROUP BY p.user_id, l.last_type
         ORDER BY p.user_id"""
  )
}
