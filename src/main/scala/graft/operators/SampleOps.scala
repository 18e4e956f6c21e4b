package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Det, Tables}

/** Dataset-splitting / sampling operators a training pipeline needs
  * around the corpus (SURVEY §2.10 north-star family).
  *
  * Both are DETERMINISTIC by hash of the stable doc_id, never RNG:
  * reproducible across runs, partitionings and clusters, and adding
  * documents never reassigns existing ones (the property that keeps a
  * frozen eval set frozen as the corpus grows). md5 is the mirrorable
  * cross-engine hash family (same trade as DedupOps).
  */
object SampleOps {
  type Q = (SparkSession, String) => DataFrame

  /** 0..9 bucket from the first 4 hex chars of md5(doc_id); shared with
    * text_decontaminate so the eval set it scans against IS the frozen
    * test split this rule defines. */
  private[operators] def hashBucket =
    expr(Det.md5SliceExpr("doc_id", 1, 4) + " % 10")

  val queries: Map[String, Q] = Map(
    "sample_negative" -> ((s, d) => {
      // Deterministic negative sampling for contrastive training: for
      // each query document, the 5 pseudo-random corpus docs from a
      // DIFFERENT source, ranked by md5(query, candidate) — stable
      // under retries and repartitioning, unlike rand()-based picks.
      // The bounded query batch broadcasts against the corpus (one
      // scan, per-row cost O(|batch|)); a corpus-scale query set swaps
      // the broadcast for the hash-bucket assignment split_train_test
      // uses. The source-mismatch predicate is the hard-negative
      // policy seam (swap for label/cluster inequality in a real run).
      val docs = Tables.documents(s, d).select("doc_id", "source")
      val qs = docs.filter(col("doc_id") < 20)
        .select(col("doc_id").as("q_id"), col("source").as("q_src"))
      // Round 10: the per-query bottom-5 is the mergeable
      // bottomk_distinct_by aggregate instead of a rank window —
      // within a group q_id is fixed, so h = md5(q_id, doc_id) is a
      // pure function of the payload and the aggregate replays the
      // window's (h, doc_id) selection exactly (oracle unchanged).
      // Scale law: the window sorted ALL |batch|×|corpus| candidate
      // rows through one q_id-keyed shuffle; the aggregate ships ≤5
      // entries per query per map partition. rnk = the emit position
      // (entries leave the buffer ascending by (h, doc_id)).
      docs.join(broadcast(qs), col("source") =!= col("q_src"))
        .withColumn("h",
          expr(Det.md5SliceExpr("concat(q_id, ':', doc_id)", 1, 15)))
        .groupBy(col("q_id"))
        .agg(expr("bottomk_distinct_by(h, doc_id, 5)").as("ks"))
        .select(col("q_id"),
          posexplode(expr("transform(ks, x -> x.payload)")))
        .select(col("q_id"), col("col").as("neg_id"),
          (col("pos") + 1).cast(IntegerType).as("rnk"))
        .orderBy("q_id", "rnk")
    }),

    "split_train_test" -> ((s, d) => {
      // 80/10/10 train/valid/test split. One narrow scan, no shuffle
      // until the (tiny) presentation sort: assignment is a pure
      // per-row expression, so the split of a 100 TB corpus is a
      // map-only pass that composes with any downstream filter.
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), hashBucket.as("b"))
        .withColumn("split",
          when(col("b") < 8, "train")
            .when(col("b") === 8, "valid")
            .otherwise("test"))
        .select(col("doc_id"), col("lang"), col("split"))
        .orderBy("doc_id")
    }),

    "sample_bootstrap" -> ((s, d) => {
      // Deterministic Poisson(1) bootstrap replicates — the resampling
      // an ensemble/uncertainty pipeline runs WITHOUT an RNG: u comes
      // from md5 hex chars 5-8 (independent of hashBucket's 1-4),
      // exactly uniform on the 1/65536 grid, and the replicate count k
      // is the Poisson(1) inverse CDF as a literal threshold chain —
      // pure map-side expression, identical in both engines, stable
      // under retries/repartitioning (the property rand() lacks).
      // Output is the per-language replicate histogram: k≈0 for ~37%,
      // mean 1 — the bootstrap contract.
      val u = expr(Det.md5SliceExpr("doc_id", 5, 4))
        .cast(DoubleType) / lit(65536.0)
      val k = when(u < 0.36787944117144233, 0)
        .when(u < 0.7357588823428847, 1)
        .when(u < 0.9196986029286058, 2)
        .when(u < 0.9810118431238462, 3)
        .when(u < 0.9963401531726563, 4)
        .otherwise(5).cast(IntegerType)
      Tables.documents(s, d)
        .select(col("lang"), k.as("k"))
        .groupBy(col("lang"), col("k"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "k")
    }),

    "pack_sequences" -> ((s, d) => {
      // Pretraining sequence packing, concat-and-chunk style: the
      // corpus is one virtual token stream in doc_id order, cut into
      // fixed 512-token training chunks; each output row is a doc's
      // overlap with one chunk (docs straddle boundaries, as in
      // standard pretraining packing).
      //
      // Scale shape: the global token offset is NOT one global window
      // (a single-partition sort is the classic bottleneck). Offsets
      // are two-level: doc_ids bucket into contiguous 4096-wide pid
      // blocks (count-free, deterministic); a per-pid window computes
      // local cumsums, and the pid-level running totals — one row per
      // block — broadcast-join back. The only unpartitioned window
      // runs over the tiny pid table (corpus/4096 rows; at larger
      // scale, add another level of the same construction).
      val budget = 512L
      val block = 4096L
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          size(filter(split(col("text"), " "), t => t =!= lit("")))
            .cast(LongType).as("t"),
          (col("doc_id") / block).cast(LongType).as("pid"))
        .filter(col("t") > 0)
      val pidTotals = toks.groupBy("pid").agg(sum(col("t")).as("pt"))
      val wPid = Window.orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
      val pidOff = pidTotals
        .withColumn("off", coalesce(sum(col("pt")).over(wPid), lit(0L)))
        .select(col("pid"), col("off"))
      val wLocal = Window.partitionBy("pid").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      toks
        .join(broadcast(pidOff), "pid")
        .withColumn("s0",
          col("off") + coalesce(sum(col("t")).over(wLocal), lit(0L)))
        .withColumn("e0", col("s0") + col("t"))
        .select(col("doc_id"), col("s0"), col("e0"),
          explode(expr(s"sequence(CAST(s0 / $budget AS BIGINT), " +
            s"CAST((e0 - 1) / $budget AS BIGINT))")).as("chunk"))
        .select(col("chunk"), col("doc_id"),
          (least(col("e0"), (col("chunk") + 1) * budget)
            - greatest(col("s0"), col("chunk") * budget)).as("n_toks"))
        .orderBy("chunk", "doc_id")
    }),

    "sample_domain_mix" -> ((s, d) => {
      // Domain-mixture resampling — the "data recipe" step that
      // rebalances a crawl toward target domain shares before
      // training. Each row is kept iff a uniform deterministic hash
      // u(doc_id) falls under its source's acceptance weight: a pure
      // map-only pass over a 100 TB corpus (the weight table is a
      // broadcast join), reproducible across runs/partitionings, and
      // stable under corpus growth. Production derives the weights as
      // target_share / current_share from a one-pass source census.
      // The hash is SALTED ('mix:') so acceptance is independent of
      // the split_train_test bucketing of the same doc_ids.
      import s.implicits._
      val wts = Seq(("src0", 1.0), ("src1", 0.5), ("src2", 0.5),
        ("src3", 0.25)).toDF("source", "wt")
      val u = expr(
        """CAST(conv(substring(md5(concat('mix:', CAST(doc_id AS STRING))),
             1, 12), 16, 10) AS DOUBLE) / 281474976710656.0""")
      Tables.documents(s, d)
        .join(broadcast(wts), Seq("source"), "left")
        .withColumn("wt", coalesce(col("wt"), lit(0.125)))
        .filter(u < col("wt"))
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }),

    "sample_temperature" -> ((s, d) => {
      // Temperature-scaled LANGUAGE rebalancing at α = 1/2 — the
      // multilingual-training recipe (sample language shares ∝
      // share^α) with the weights DERIVED FROM THE DATA, not
      // hand-fixed like sample_domain_mix: keep-rate_lang =
      // sqrt(cnt_min / cnt_lang), so kept counts ∝ sqrt(cnt_lang) and
      // the rarest language passes whole (the fixture corpus is
      // en-heavy ~2.8×, exactly the skew this flattens). Two broadcast
      // frames (the census and its min) + a map-only thinning pass —
      // the same one-shuffle census + O(N) scan at 100 TB. The
      // acceptance test is algebraically rearranged to
      // u² · cnt_lang < cnt_min: u is an exact dyadic rational
      // (12 md5 hex chars / 2⁴⁸) and the counts are exact integers
      // below 2⁵³, so the two multiplies are the only roundings — no
      // sqrt/pow libm call to drift cross-engine.
      val docs = Tables.documents(s, d)
      val census = docs.groupBy("lang").agg(count(lit(1)).as("cnt"))
      val minc = census.agg(min(col("cnt")).as("cmin"))
      val u = expr(
        s"""CAST(${Det.md5SliceExpr("concat('temp:', CAST(doc_id AS STRING))", 1, 12)}
             AS DOUBLE) / 281474976710656.0""")
      docs.join(broadcast(census), Seq("lang"))
        .crossJoin(broadcast(minc))
        .withColumn("u", u)
        .filter(col("u") * col("u") * col("cnt").cast(DoubleType)
          < col("cmin").cast(DoubleType))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }),

    "sample_stratified" -> ((s, d) => {
      // Deterministic k-per-language sample (eval-set construction):
      // the 20 md5-smallest doc_ids within each language. Round 10
      // ships the bounded-heap path this comment used to defer to
      // 100 TB: the mergeable bottomk_distinct_by aggregate replays
      // the rank window's (md5, doc_id) selection exactly (oracle
      // unchanged) while only k entries per stratum per map partition
      // cross the shuffle — a giant stratum no longer funnels its
      // whole population through one partition's sort. rn = emit
      // position (ascending by ord).
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"))
        .groupBy(col("lang"))
        .agg(expr(
          "bottomk_distinct_by(unhex(md5(cast(doc_id as string))), doc_id, 20)")
          .as("ks"))
        .select(col("lang"),
          posexplode(expr("transform(ks, x -> x.payload)")))
        .select(col("lang"), (col("pos") + 1).cast(IntegerType).as("rn"),
          col("col").as("doc_id"))
        .orderBy("lang", "rn")
    }),

    "sample_weighted" -> ((s, d) => {
      // Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
      // A-Res), deterministic: u = salted md5-uniform per doc, key =
      // −ln(u)/w with w = n_chars; the k smallest keys are exactly a
      // weighted sample without replacement. Selection is a map pass +
      // orderBy().limit(k) — TakeOrderedAndProject (per-partition heap,
      // driver merge of k), never a global sort of the corpus; the
      // rank window then runs over just the k survivors. The key is
      // floored onto a 2³⁰ grid so the single libm call (ln) can never
      // flip a rank cross-engine (the text_perplexity argument);
      // doc_id breaks residual grid ties. The 12-hex prefix is clamped
      // to ≥1 before the 2⁻⁴⁸ scale: an all-zero prefix (p≈2⁻⁴⁸/doc)
      // would make u=0 and -ln(u)=∞ — Spark's cast saturates to
      // Long.MaxValue but the oracle's CAST(inf AS BIGINT) aborts, so
      // the clamp (exact in both engines: ints ≤2⁴⁸ and the power-of-2
      // divisor are exactly representable) keeps the pair total.
      val u = expr(
        """greatest(CAST(conv(substring(md5(concat('wrs:',
             CAST(doc_id AS STRING))), 1, 12), 16, 10) AS DOUBLE), 1.0)
           / 281474976710656.0""")
      val grid = (1L << 30).toDouble
      val picked = Tables.documents(s, d)
        .filter(col("n_chars") > 0)
        .select(col("doc_id"), col("n_chars"),
          floor(-log(u) / col("n_chars") * grid).cast(LongType).as("k"))
        .orderBy(col("k"), col("doc_id"))
        .limit(30)
      val w = Window.orderBy(col("k"), col("doc_id")) // 30 rows — not a scale window
      picked.withColumn("rank", row_number().over(w).cast(IntegerType))
        .select(col("rank"), col("doc_id"), col("n_chars"))
        .orderBy("rank")
    }),

    "etl_shard_manifest" -> ((s, d) => {
      // Training-shard manifest — the WebDataset/tar-shard build step:
      // stream the corpus in a deterministic pseudo-random order
      // (md5(doc_id), so shards are source/time-decorrelated without
      // an RNG), cut it into ~16 KiB shards by running byte offset,
      // and emit per-shard membership stats + an order-free XOR
      // checksum (what a loader validates before training). A doc
      // belongs to the shard its START offset falls in — the append-
      // until-over policy every tar-shard writer uses. Scale shape:
      // the global offset is the pack_sequences two-level prefix — an
      // md5-PREFIX block id (contiguous under the md5 order by
      // construction) gets per-block window cumsums, and only the
      // 256-row block-total table crosses an unpartitioned window.
      val shardBytes = 16384L
      val overhead = 64L // tar header + padding per member
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), (col("n_chars") + overhead).as("bytes"),
          md5(col("doc_id").cast(StringType)).as("h"),
          expr(Det.md5SliceExpr("doc_id", 1, 2)).as("pid"))
      val pidTotals = docs.groupBy("pid").agg(sum(col("bytes")).as("pt"))
      val wPid = Window.orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
      val pidOff = pidTotals
        .withColumn("off", coalesce(sum(col("pt")).over(wPid), lit(0L)))
        .select(col("pid"), col("off"))
      val wLocal = Window.partitionBy("pid").orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      docs.join(broadcast(pidOff), "pid")
        .withColumn("s0",
          col("off") + coalesce(sum(col("bytes")).over(wLocal), lit(0L)))
        .withColumn("shard", expr(s"s0 div $shardBytes"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("bytes")).as("n_bytes"),
          expr("min_by(doc_id, struct(h, doc_id))").as("first_doc"),
          expr("max_by(doc_id, struct(h, doc_id))").as("last_doc"),
          expr(s"bit_xor(${Det.md5SliceExpr("doc_id", 1, 15)})")
            .as("checksum"))
        .orderBy("shard")
    })
  )

  /** 4-hex-char → BIGINT parse, the DuckDB twin of Spark's conv(). */
  private[operators] val hexBucketSql =
    Det.md5SliceSql("doc_id", 1, 4) + " % 10"

  /** Chars 5-8 of md5 folded to BIGINT — the bootstrap's u numerator. */
  private val hex58Sql = Det.md5SliceSql("doc_id", 5, 4)

  val oracles: Map[String, String] = Map(
    // Same md5 rank per (query, candidate), same source-mismatch policy.
    "sample_negative" ->
      s"""WITH qs AS (SELECT doc_id AS q_id, source AS q_src
                      FROM documents WHERE doc_id < 20),
         ranked AS (
           SELECT q_id, d.doc_id AS neg_id,
                  row_number() OVER (PARTITION BY q_id ORDER BY
                    ${Det.md5SliceSql("concat(q_id, ':', d.doc_id)", 1, 15)},
                    d.doc_id) AS rnk
           FROM documents d JOIN qs ON d.source <> qs.q_src)
         SELECT q_id, neg_id, CAST(rnk AS INTEGER) AS rnk
         FROM ranked WHERE rnk <= 5 ORDER BY q_id, rnk""",

    "sample_bootstrap" ->
      s"""WITH u AS (
           SELECT lang, CAST($hex58Sql AS DOUBLE) / 65536.0 AS u
           FROM documents)
         SELECT lang,
             CAST(CASE WHEN u < 0.36787944117144233 THEN 0
                  WHEN u < 0.7357588823428847 THEN 1
                  WHEN u < 0.9196986029286058 THEN 2
                  WHEN u < 0.9810118431238462 THEN 3
                  WHEN u < 0.9963401531726563 THEN 4
                  ELSE 5 END AS INTEGER) AS k,
             count(*) AS n_docs
         FROM u GROUP BY 1, 2 ORDER BY lang, k""",

    "split_train_test" ->
      s"""SELECT doc_id, lang,
             CASE WHEN b < 8 THEN 'train'
                  WHEN b = 8 THEN 'valid'
                  ELSE 'test' END AS split
         FROM (SELECT doc_id, lang, $hexBucketSql AS b FROM documents)
         ORDER BY doc_id""",

    // The two-level offset construction computes exactly the global
    // doc_id-ordered cumulative sum, so the oracle states it directly.
    "pack_sequences" ->
      """WITH toks AS (
           SELECT doc_id,
                  CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                       AS BIGINT) AS t
           FROM documents),
         pos AS (
           SELECT doc_id, t,
                  CAST(coalesce(sum(t) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS s0
           FROM toks WHERE t > 0),
         spans AS (SELECT doc_id, s0, s0 + t AS e0 FROM pos),
         exploded AS (
           SELECT doc_id, s0, e0,
                  unnest(range(s0 // 512, (e0 - 1) // 512 + 1)) AS chunk
           FROM spans)
         SELECT chunk, doc_id,
                least(e0, (chunk + 1) * 512) - greatest(s0, chunk * 512) AS n_toks
         FROM exploded ORDER BY chunk, doc_id""",

    "sample_domain_mix" ->
      """SELECT doc_id, source FROM (
           SELECT doc_id, source,
                  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    [strpos('0123456789abcdef',
                            substring(md5('mix:' || CAST(doc_id AS VARCHAR)),
                                      CAST(i AS INTEGER), 1)) - 1
                     FOR i IN range(1, 13)]),
                    (acc, x) -> acc * 16 + x) AS DOUBLE) / 281474976710656.0 AS u,
                  CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                              WHEN 'src2' THEN 0.5 WHEN 'src3' THEN 0.25
                              ELSE 0.125 END AS wt
           FROM documents)
         WHERE u < wt ORDER BY doc_id""",

    // Census-derived keep rates; the u²·cnt < cmin rearrangement keeps
    // both engines on exact dyadic u and integer counts.
    "sample_temperature" ->
      s"""WITH census AS (SELECT lang, count(*) AS cnt
                          FROM documents GROUP BY lang),
         mn AS (SELECT min(cnt) AS cmin FROM census)
         SELECT doc_id, lang FROM (
           SELECT d.doc_id, d.lang, c.cnt, mn.cmin,
                  CAST(${Det.md5SliceSql(
                    "'temp:' || CAST(doc_id AS VARCHAR)", 1, 12)}
                    AS DOUBLE) / 281474976710656.0 AS u
           FROM documents d
           JOIN census c ON c.lang = d.lang CROSS JOIN mn)
         WHERE u * u * CAST(cnt AS DOUBLE) < CAST(cmin AS DOUBLE)
         ORDER BY doc_id""",

    "sample_stratified" ->
      """SELECT lang, CAST(rn AS INTEGER) AS rn, doc_id FROM (
           SELECT lang, doc_id,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM documents)
         WHERE rn <= 20 ORDER BY lang, rn""",

    "sample_weighted" ->
      """SELECT CAST(rn AS INTEGER) AS rank, doc_id, n_chars FROM (
           SELECT doc_id, n_chars,
                  row_number() OVER (ORDER BY k, doc_id) AS rn
           FROM (
             SELECT doc_id, n_chars,
                    CAST(floor(-ln(u) / n_chars * 1073741824.0) AS BIGINT) AS k
             FROM (
               SELECT doc_id, n_chars,
                      greatest(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                        [strpos('0123456789abcdef',
                                substring(md5('wrs:' || CAST(doc_id AS VARCHAR)),
                                          CAST(i AS INTEGER), 1)) - 1
                         FOR i IN range(1, 13)]),
                        (acc, x) -> acc * 16 + x) AS DOUBLE), 1.0)
                        / 281474976710656.0 AS u
               FROM documents WHERE n_chars > 0)))
         WHERE rn <= 30 ORDER BY rn""",

    // DuckDB replays the offsets with ONE global running-sum window
    // (single-node — fine for the oracle; the Spark side carries the
    // two-level block construction), same md5 stream order, same
    // start-offset shard policy, arg_min/arg_max on the distinct md5.
    "etl_shard_manifest" ->
      s"""WITH placed AS (
           SELECT doc_id, n_chars + 64 AS bytes,
                  md5(CAST(doc_id AS VARCHAR)) AS h,
                  coalesce(sum(n_chars + 64) OVER (
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS s0
           FROM documents)
         SELECT CAST(s0 // 16384 AS BIGINT) AS shard,
                count(*) AS n_docs,
                CAST(sum(bytes) AS BIGINT) AS n_bytes,
                arg_min(doc_id, h) AS first_doc,
                arg_max(doc_id, h) AS last_doc,
                bit_xor(${Det.md5SliceSql("doc_id", 1, 15)}) AS checksum
         FROM placed GROUP BY 1 ORDER BY 1"""
  )
}
