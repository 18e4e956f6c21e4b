package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-tool main: scale an existing fixture directory K× (default 10)
  * into a new directory, so the scaling exponent of each operator can be
  * MEASURED instead of argued (VERDICT r7 item 1). Not part of the
  * driver contract — the driver's fixtures stay read-only; this writes
  * only under the repo (e.g. tmp/sf1).
  *
  * Expansion model — K key-shifted copies, the standard way to grow a
  * star schema without changing its per-key distributions:
  *  - region/nation copy through unchanged (fixed dimensions, exactly
  *    like TPC-H at every SF);
  *  - every BIGINT entity key shifts by copy·Off, where Off is the
  *    power of two strictly above the LARGEST key in the source
  *    fixture (measured, not assumed — a fixed literal would collide
  *    when GenScale is chained on its own output), applied consistently
  *    on both sides of each FK, so join fan-outs per key are IDENTICAL
  *    to the source — only the key population grows;
  *  - timestamps are kept, so the time span stays fixed and per-day
  *    volumes grow K× (how a bigger business looks in the same month —
  *    this is what stresses the windowed/fixed-point operators); the
  *    events table is read through Tables.events so both historical
  *    fixture generations (TIMESTAMP(NANOS) and timestamp[us]) work —
  *    the output ships normalized µs timestamps, which every reader
  *    handles;
  *  - document text gets a tiny per-copy suffix: copies stay DISTINCT
  *    (no degenerate 10-way exact-dup corpus) but remain near-dups of
  *    their base doc — a realistic heavy-dedup workload; n_chars is
  *    recomputed to stay consistent;
  *  - embeddings rotate by `copy mod dims` positions: norm and
  *    coordinate distribution preserved, copies decorrelated, zero RNG
  *    (the determinism rule: derive, never draw). K > dims wraps the
  *    rotation (copy dims and 0 coincide directionally) — acceptable
  *    for scale measurement, noted rather than hidden.
  *
  * `zipfdocs` flag (round-15 verdict 5 — the GenWd-zipf precedent
  * applied to documents): the scaled corpus's text is REPLACED with a
  * realistic crawl shape instead of key-shifted copies —
  *  - token frequencies Zipf(s=1.1) over a 30k vocab (the default
  *    corpus's near-uniform tokens understate tf-idf/BPE hot-token
  *    skew);
  *  - duplicate-cluster sizes power-law: 20% of docs are near-dups of
  *    a head doc chosen by Zipf popularity over N/100 heads, so a few
  *    boilerplate clusters are huge and the tail is single-copy —
  *    exactly the mass-duplication shape the hot-band cap exists for;
  *  - doc lengths power-law-ish (30–800 tokens);
  *  - everything derived from the output doc index via the same
  *    splitmix64 mixer (derive, never draw); lang/source/doc_id keep
  *    the base fixture's distributions.
  *
  * Usage: runMain graft.GenScale <srcDir> <dstDir> [k] [zipfdocs]
  */
object GenScale {
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  private def fm(x: Long, m: Int): Int = java.lang.Math.floorMod(x, m.toLong).toInt

  /** Zipf(s=1.1) CDF over the 30k-token vocab. */
  private lazy val vocabCdf: Array[Double] = {
    val n = 30000
    val w = Array.tabulate(n)(r => math.pow(r + 1.0, -1.1))
    val total = w.sum
    val c = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += w(i) / total; c(i) = acc; i += 1 }
    c(n - 1) = 1.0
    c
  }
  private def invCdf(cdf: Array[Double], g: Long): Int = {
    val u = (g >>> 11).toDouble / (1L << 53).toDouble
    val i = java.util.Arrays.binarySearch(cdf, u)
    if (i < 0) -i - 1 else i
  }

  /** Zipf-token body for one doc: power-law-ish length, every token an
    * independent inverse-CDF draw off the mixed (seed, position). */
  private def zipfBody(seed: Long): String = {
    val g0 = mix(seed)
    // length: u^-0.5 scaling gives a heavy-ish tail, clamped 30..800
    val u = math.max(1e-6, (g0 >>> 11).toDouble / (1L << 53).toDouble)
    val len = math.min(800, (30 * math.pow(u, -0.35)).toInt)
    val sb = new StringBuilder(len * 6)
    var i = 0
    while (i < len) {
      if (i > 0) sb.append(' ')
      sb.append('w').append(invCdf(vocabCdf, mix(seed * 1315423911L + i)))
      i += 1
    }
    sb.toString
  }

  /** Doc text under zipfdocs: 20% of docs join a duplicate cluster
    * whose head is Zipf-popular over nHeads — head text plus a tiny
    * per-member suffix (near-dup, not exact), the rest are singleton
    * zipf bodies. Cluster sizes inherit the head-popularity power law. */
  private def zipfDocText(idx: Long, nHeads: Int, headCdf: Array[Double]): String = {
    val g = mix(idx * 2654435761L)
    if (fm(g, 5) == 0 && nHeads > 0) {
      val head = invCdf(headCdf, mix(g))
      zipfBody(0x5EED0000L + head) + " d" + (idx % 1000)
    } else zipfBody(0x0D0C0000L + idx)
  }

  def main(args: Array[String]): Unit = {
    val (src, dst, k, flags) = args match {
      case Array(s, d)         => (s, d, 10, Set.empty[String])
      case Array(s, d, kk)     => (s, d, kk.toInt, Set.empty[String])
      case Array(s, d, kk, ff) => (s, d, kk.toInt,
        ff.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      case _ => sys.error("usage: GenScale <srcDir> <dstDir> [k] [zipfdocs]")
    }
    val unknown = flags -- Set("zipfdocs")
    require(unknown.isEmpty, s"unknown GenScale flags: ${unknown.mkString(",")}")
    val zipfDocs = flags("zipfdocs")
    val spark = Harness.session()

    val t = (n: String) => Tables.table(spark, src, n)
    val ev = Tables.events(spark, src)

    // Collision-proof shift: the next power of two strictly above every
    // key the source holds (so chained GenScale runs keep distinct key
    // spaces instead of silently overlapping copy c of run 2 with copy
    // c' of run 1).
    val maxKey: Long = Seq(
      t("customer").agg(max(col("c_custkey"))),
      t("orders").agg(max(col("o_orderkey"))),
      t("part").agg(max(col("p_partkey"))),
      t("supplier").agg(max(col("s_suppkey"))),
      ev.agg(max(greatest(col("event_id"), col("user_id")))),
      t("documents").agg(max(col("doc_id"))),
      t("embeddings").agg(max(col("vec_id"))))
      .map(_.head().getLong(0)).max
    val off: Long = java.lang.Long.highestOneBit(maxKey) << 1
    println(s"GENSCALE off=$off (maxKey=$maxKey)")

    def copies(df: DataFrame): DataFrame =
      df.crossJoin(spark.range(k.toLong).select(col("id").as("cp")))

    def shift(c: String): org.apache.spark.sql.Column =
      col(c) + col("cp") * off

    def write(df: DataFrame, name: String, files: Int): Unit = {
      df.drop("cp").repartition(files)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"GENSCALE $name done")
    }

    // fixed dimensions: straight copies
    write(t("region"), "region", 1)
    write(t("nation"), "nation", 1)

    write(copies(t("customer")).withColumn("c_custkey", shift("c_custkey")),
      "customer", math.max(1, k / 2))
    write(copies(t("supplier")).withColumn("s_suppkey", shift("s_suppkey")),
      "supplier", 1)
    write(copies(t("part")).withColumn("p_partkey", shift("p_partkey")),
      "part", math.max(1, k / 2))
    write(copies(t("orders"))
      .withColumn("o_orderkey", shift("o_orderkey"))
      .withColumn("o_custkey", shift("o_custkey")),
      "orders", k)
    write(copies(t("lineitem"))
      .withColumn("l_orderkey", shift("l_orderkey"))
      .withColumn("l_partkey", shift("l_partkey"))
      .withColumn("l_suppkey", shift("l_suppkey")),
      "lineitem", 2 * k)
    write(copies(ev)
      .withColumn("event_id", shift("event_id"))
      .withColumn("user_id", shift("user_id")),
      "events", k)
    if (zipfDocs) {
      // zipf twin: same ids/lang/source population, realistic text
      val nBase = t("documents").count()
      val nTotal = nBase * k
      val nHeads = math.max(1, (nTotal / 100).toInt)
      val headCdf = {
        val w = Array.tabulate(nHeads)(r => math.pow(r + 1.0, -1.1))
        val total = w.sum
        val c = new Array[Double](nHeads)
        var acc = 0.0
        var i = 0
        while (i < nHeads) { acc += w(i) / total; c(i) = acc; i += 1 }
        c(nHeads - 1) = 1.0
        c
      }
      import spark.implicits._
      val base = copies(t("documents"))
        .withColumn("doc_id", shift("doc_id"))
        .select(col("doc_id"), col("lang"), col("source"))
        .as[(Long, String, String)]
      val docs = base.map { case (id, lang, source) =>
        val text = zipfDocText(id, nHeads, headCdf)
        (id, text, lang, source, text.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
      docs.repartition(math.max(1, k / 2))
        .write.mode("overwrite").parquet(s"$dst/documents.parquet")
      println(s"GENSCALE documents done (zipfdocs, heads=$nHeads)")
    } else
    write(copies(t("documents"))
      .withColumn("doc_id", shift("doc_id"))
      .withColumn("text",
        when(col("cp") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" c"),
            col("cp").cast("string"))))
      .withColumn("n_chars", length(col("text")).cast("long")),
      "documents", math.max(1, k / 2))
    write(copies(t("embeddings"))
      .withColumn("vec_id", shift("vec_id"))
      .withColumn("embedding", expr(
        """CASE WHEN cp % size(embedding) = 0 THEN embedding
           ELSE concat(
             slice(embedding,
                   CAST(cp % size(embedding) AS INT) + 1,
                   size(embedding) - CAST(cp % size(embedding) AS INT)),
             slice(embedding, 1, CAST(cp % size(embedding) AS INT)))
           END""")),
      "embeddings", math.max(1, k / 4))
    spark.stop()
  }
}
