package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-tool main (round 10): MEASURED evidence for the skew story.
  *
  * SCALE.md argues the salting recipe and AQE skew-join from plan
  * shape; the driver fixtures are key-uniform so nothing on the
  * declared surface actually stresses them. This main builds a
  * deterministically zipf-skewed twin of a fixture's lineitem — two
  * hot orderkeys absorb ~40% of all rows, md5-routed (derive, never
  * draw: same twin every run) — and times the same fact⋈orders
  * aggregate under three physical strategies:
  *
  *   plain  — shuffle join, AQE skew split OFF: the hot keys' two
  *            partitions become stragglers (the 100 TB failure mode);
  *   aqe    — shuffle join, AQE skewJoin ON with thresholds scaled to
  *            the fixture (runtime partition split — the automatic
  *            remedy);
  *   salted — the join_skew_salted hand recipe (salt ONLY the hot
  *            keys; dim replicated ×8 for those keys alone — the
  *            plan-time remedy that also covers aggregations AQE
  *            can't split).
  *
  * All three compute the identical result (asserted — including the
  * AQE run since round 11). Three passes each; per-pass seconds and
  * the warm median (min of passes 2..n) print as one JSON line for
  * SCALE.md.
  *
  * Round-11 extension (verdict 4): the AQE-blind skewed-AGGREGATION
  * half. Two shapes on the same hot keys, each as plain / AQE-on /
  * two-stage-salted, all checksum-asserted equal:
  *   agg_dc_*   count(DISTINCT v) per key, v near-unique per row —
  *              tests whether Spark's planAggregateWithOneDistinct
  *              (partial by (key, v)) already spreads the hot key;
  *   agg_cset_* size(collect_set(v)) per key (ObjectHashAggregate
  *              set union, the assoc_rules basket shape) — partial
  *              sets ship whole to one reducer; the salted split is
  *              exact for set size because v-hash salts make the
  *              per-salt sets disjoint.
  *
  * Usage: runMain graft.SkewProbe <srcSfDir> <workDir>
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val Array(src, work) = args.take(2)
    val spark = Harness.session()

    // ---- skewed twin: md5-route 40% of lineitem rows onto the two
    // smallest orderkeys (they exist in orders, so the join is fair).
    val skewPath = s"$work/lineitem_skew_" +
      Stage.inputStamp(spark, s"$src/lineitem.parquet")
    val hotKeys = Tables.orders(spark, src)
      .orderBy("o_orderkey").limit(2).collect().map(_.getLong(0))
    Stage.materializeOnce(spark, skewPath) {
      val li = Tables.lineitem(spark, src)
      val route = expr(Det.md5SliceExpr(
        "concat(l_orderkey, ':', l_linenumber, ':skew')", 1, 12)) % 100
      li.withColumn("l_orderkey",
          when(route < 20, lit(hotKeys(0)))
            .when(route < 40, lit(hotKeys(1)))
            .otherwise(col("l_orderkey")))
        .write.mode("overwrite").parquet(skewPath)
    }
    val hotCnt = spark.read.parquet(skewPath)
      .filter(col("l_orderkey").isin(hotKeys.map(Long.box): _*)).count()
    val allCnt = spark.read.parquet(skewPath).count()
    System.err.println(
      s"skew twin: $allCnt rows, ${hotCnt * 100 / allCnt}% on 2 hot keys")

    def agg(fact: DataFrame, dim: DataFrame): DataFrame =
      fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          Det.sumMoney(col("l_quantity")).as("sum_qty"))

    def salted(s2: SparkSession): DataFrame = {
      val salts = 8
      val fact = s2.read.parquet(skewPath)
      val dim = Tables.orders(s2, src)
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
        .agg(count(lit(1)).as("n"),
          Det.sumMoney(col("l_quantity")).as("sum_qty"))
    }

    // Child sessions: shared context, private conf — broadcast joins
    // off everywhere (a broadcast dim erases the skew question; at
    // 100 TB the dim exceeds the threshold naturally).
    def session(skewJoin: Boolean): SparkSession = {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s2.conf.set("spark.sql.adaptive.skewJoin.enabled", skewJoin.toString)
      if (skewJoin) {
        // scale AQE's size gates to fixture bytes (defaults assume
        // 256 MB partitions; sf1 shuffle partitions are ~5 MB)
        s2.conf.set(
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
          "4MB")
        s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2MB")
      }
      s2
    }

    def time(name: String, mk: () => DataFrame): (String, Seq[Double]) = {
      val secs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        // collect(), NOT count(): count() over a global aggregate lets
        // column pruning DELETE the aggregate expressions (a 1-row agg
        // needs no columns to be counted), so the probe would time an
        // empty plan. All probe results are ≤ priority-count rows.
        mk().collect()
        (System.nanoTime() - t0) / 1e9
      }
      (name, secs)
    }

    val plainS = session(skewJoin = false)
    val aqeS = session(skewJoin = true)
    val saltS = session(skewJoin = false)
    val runs = Seq(
      time("plain", () => agg(plainS.read.parquet(skewPath),
        Tables.orders(plainS, src))),
      time("aqe", () => agg(aqeS.read.parquet(skewPath),
        Tables.orders(aqeS, src))),
      time("salted", () => salted(saltS)))

    // identical results across ALL THREE strategies (round-11 advice:
    // the AQE run's result was previously timed but never checked — a
    // skew-split correctness bug would have published its timing)
    val ref = agg(plainS.read.parquet(skewPath), Tables.orders(plainS, src))
      .orderBy("o_orderpriority").collect().map(_.toString)
    val aqeRes = agg(aqeS.read.parquet(skewPath), Tables.orders(aqeS, src))
      .orderBy("o_orderpriority").collect().map(_.toString)
    val saltRes = salted(saltS)
      .orderBy("o_orderpriority").collect().map(_.toString)
    require(ref.sameElements(aqeRes), "AQE skew-join result diverged from plain")
    require(ref.sameElements(saltRes), "salted result diverged from plain")

    // ---- skewed AGGREGATION (round-11, verdict 4): the AQE-blind
    // half of the skew story. Per-key count(DISTINCT v) with v
    // near-unique per row: the map-side partial on (key, v) collapses
    // nothing, and the second stage ships every distinct pair of the
    // hot key to ONE reducer — AQE's skew machinery only splits JOIN
    // partitions, so it cannot help here. The remedy is the two-stage
    // salted rewrite: group by (key, hash(v) % k) first — the v-space
    // partition makes per-salt distinct sets disjoint, so the per-key
    // sum of partial distinct counts is EXACT — then sum per key.
    // All variants reduce to one checksum row (sum/max/count of the
    // per-key distinct counts) so result compare is exact and O(1).
    def vExpr = concat_ws(":", col("l_partkey"), col("l_suppkey"),
      col("l_linenumber"))
    def aggPlain(s2: SparkSession): DataFrame =
      s2.read.parquet(skewPath)
        .groupBy(col("l_orderkey"))
        .agg(countDistinct(vExpr).as("dc"))
        .agg(sum(col("dc")).as("sum_dc"), max(col("dc")).as("max_dc"),
          count(lit(1)).as("n_keys"))
    def aggSalted(s2: SparkSession): DataFrame =
      s2.read.parquet(skewPath)
        .groupBy(col("l_orderkey"),
          pmod(xxhash64(vExpr), lit(8L)).as("vsalt"))
        .agg(countDistinct(vExpr).as("pdc"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("pdc")).as("dc"))
        .agg(sum(col("dc")).as("sum_dc"), max(col("dc")).as("max_dc"),
          count(lit(1)).as("n_keys"))
    // Second shape: collect_set per key (ObjectHashAggregate set
    // union — the assoc_rules basket shape). Here the hot key's
    // per-partition partial SETS ship whole to one reducer (the
    // buffers can't collapse below the value cardinality), the
    // genuinely skew-fragile aggregate; the disjoint-by-v-hash salt
    // split is exact for set SIZE (sum of disjoint set sizes).
    def csetPlain(s2: SparkSession): DataFrame =
      s2.read.parquet(skewPath)
        .groupBy(col("l_orderkey"))
        .agg(size(collect_set(vExpr)).as("dc"))
        .agg(sum(col("dc")).as("sum_dc"), max(col("dc")).as("max_dc"),
          count(lit(1)).as("n_keys"))
    def csetSalted(s2: SparkSession): DataFrame =
      s2.read.parquet(skewPath)
        .groupBy(col("l_orderkey"),
          pmod(xxhash64(vExpr), lit(8L)).as("vsalt"))
        .agg(size(collect_set(vExpr)).as("pdc"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("pdc")).as("dc"))
        .agg(sum(col("dc")).as("sum_dc"), max(col("dc")).as("max_dc"),
          count(lit(1)).as("n_keys"))
    val aggRuns = Seq(
      time("agg_dc_plain", () => aggPlain(plainS)),
      time("agg_dc_aqe", () => aggPlain(aqeS)),
      time("agg_dc_salted", () => aggSalted(saltS)),
      time("agg_cset_plain", () => csetPlain(plainS)),
      time("agg_cset_aqe", () => csetPlain(aqeS)),
      time("agg_cset_salted", () => csetSalted(saltS)))
    val aggRef = aggPlain(plainS).collect().map(_.toString)
    require(aggRef.sameElements(aggPlain(aqeS).collect().map(_.toString)),
      "AQE agg checksum diverged from plain")
    require(aggRef.sameElements(aggSalted(saltS).collect().map(_.toString)),
      "salted two-stage agg checksum diverged from plain")
    require(aggRef.sameElements(csetPlain(plainS).collect().map(_.toString)),
      "collect_set checksum diverged from count-distinct checksum")
    require(aggRef.sameElements(csetSalted(saltS).collect().map(_.toString)),
      "salted collect_set checksum diverged")

    val parts = (runs ++ aggRuns).map { case (n, ss) =>
      val warm = ss.drop(1).min
      s""""$n":{"passes":[${ss.map(x => f"$x%.3f").mkString(",")}],""" +
        s""""warm":${f"$warm%.3f"}}"""
    }
    println(s"""{"probe":"skew","sf":"$src","hot_pct":${
      hotCnt * 100 / allCnt},${parts.mkString(",")}}""")
    spark.stop()
  }
}
