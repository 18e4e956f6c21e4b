package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Ckpt, Stage, Tables}

/** Deduplication operators (SURVEY.md §2.10 + north-star additions).
  *
  * Scale design: every variant avoids the O(n²) all-pairs comparison —
  * exact dedup is one hash-groupBy; MinHash and SimHash shrink documents
  * to constant-size signatures and only join within LSH bands/chunks
  * (candidate generation is equi-join-shaped, so it shuffles on band
  * keys and never materializes the cross product); n-gram Jaccard and
  * embedding near-dup run the exact computation only on bounded
  * candidate sets. All hashing is deterministic with FIXED literal
  * seed strings (SURVEY §7.4.5 — resumable); the near-dup keys use md5
  * as the hash family so the DuckDB oracle can replay them exactly.
  */
object DedupOps {
  type Q = (SparkSession, String) => DataFrame

  private def toks: Column = filter(split(col("text"), " "), t => t =!= lit(""))

  /** 64-bit SimHash near-dup pairs over `docs` (doc_id, text); near-dups
    * = hamming ≤ 1, candidates via 16-bit chunk pigeonhole (dist ≤ 1 < 4
    * chunks ⇒ ≥1 equal chunk) so the join is equi on (chunk_idx,
    * chunk_val) — never a cross product. 64 bits because a tiny
    * vocabulary makes token sets overlap heavily: a 32-bit/dist-2 bar
    * reports >1M "near-dup" pairs at sf0.1 (true but useless).
    * distinct tokens via explode+distinct (codegen + one shuffle), not
    * explode(array_distinct(hof)) — the HOF inlining trap.
    *
    * `bucketCap` bounds hot buckets: a popular chunk value (e.g. 0x0000
    * from a sparse vocab) makes its (chunk, cv) bucket go quadratic in
    * the self-join. A bucket over the cap degrades from CLIQUE to STAR,
    * each SIMHASH GROUP within it around its own min-doc_id
    * representative, so the bucket's join cost is O(bucket), not
    * O(bucket²). Crucially this keeps coverage for the case that
    * matters most at 100 TB — a duplicate cluster larger than the cap,
    * whose members share the SAME simhash and therefore blow all 4 of
    * their chunk buckets hot simultaneously (hot chunks are correlated,
    * not independent; dropping hot buckets outright would report zero
    * pairs for exactly those mega-clusters). Every member pairs with
    * its group rep at hamming 0 BY CONSTRUCTION — a bucket-GLOBAL rep
    * would break exactly this when a lower-id foreign doc collides
    * into the hot 16-bit bucket (the round-16 PhashCapProbe finding).
    * The bounded loss is a near-dup pair (x, y) inside a hot bucket
    * with different simhashes — a star can't see it; the other 3
    * chunks still catch it unless they are hot too. The bucket stats
    * run in the same (chunk, cv) shuffle the self-join needs anyway. */
  def simhashPairs(docs: DataFrame, bucketCap: Int = 1000): DataFrame = {
    // 60-bit token hash from md5's first 15 hex chars — md5 produces
    // identical hex on every engine, so the DuckDB oracle can replay
    // the whole pipeline (xxhash64 cannot be mirrored; the md5+conv
    // path benches ~1.1 s over xxhash64 at sf0.1, the price of the
    // hash gate). Bits 60-63 of the simhash are then constant 0:
    // hamming and the chunk pigeonhole are unaffected, chunk 3 just
    // carries 12 live bits. Production can swap any faster uniform
    // 64-bit hash here without touching the shape.
    val th = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "")
      .distinct()
      .withColumn("h", expr(
        "CAST(conv(substring(md5(concat('simhash:', t)), 1, 15), 16, 10) AS BIGINT)"))
    val bitSums = (0 until 64).map(bit =>
      sum(when(col("h").bitwiseAND(lit(1L << bit)) =!= 0L, 1).otherwise(-1)).as(s"b$bit"))
    // Round-17 (opt): the signature table is materialized ONCE
    // (localCheckpoint; durable under spark.graft.checkpointDir). The
    // self-join's two arms plus the hot arm are THREE consumers of this
    // subtree, and the planner does not reuse the exchanges across them
    // (AQE replans each side), so the corpus-scale tokenize → distinct
    // → 64-bit-sum pipeline executed 3x per run — measured in the r17
    // before-plan (plans/r17/dedup_simhash_before.txt: the full
    // aggregate chain appears three times). Checkpointing 1 row/doc of
    // (doc_id, simhash) makes it once; everything downstream is
    // band-bucket-sized. Results identical (same rows, same hash).
    val sim = Ckpt.df(th.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(bit =>
          when(col(s"b$bit") > 0, lit(1L << bit)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash")))
    val chunked = sim.select(col("doc_id"), col("simhash"),
      posexplode(expr(
        "transform(sequence(0, 3), c -> (simhash >> (c * 16)) & 65535)"))
        .as(Seq("chunk", "cv")))
    // Hotness is per BUCKET, the star rep per (bucket, simhash) GROUP
    // (round-16, the PhashCapProbe finding applied here too): a 16-bit
    // chunk value collides freely, so a hot bucket can contain docs
    // foreign to the mega-cluster that made it hot — a bucket-global
    // min-id rep could be a foreign doc at hamming > 1, severing every
    // cluster member after the radius filter. Group-rep pins
    // hamming(rep, member) = 0 by construction; the group window
    // reuses the (chunk, cv) shuffle (prefix partitioning satisfies
    // the clustered distribution — only an extra in-partition sort).
    val wBucket = Window.partitionBy("chunk", "cv")
    val wGroup = Window.partitionBy("chunk", "cv", "simhash").orderBy("doc_id")
    // rep (ordered window) FIRST, bn (orderless) second: bn's required
    // ordering is just the partition keys, a prefix of rep's sort, so
    // the two windows share ONE sort; the reverse order plans two.
    val annotated = chunked
      .withColumn("rep", first(col("doc_id")).over(wGroup))
      .withColumn("bn", count(lit(1)).over(wBucket))
    val cold = annotated.filter(col("bn") <= bucketCap)
    val a = cold.select(col("doc_id").as("a"), col("simhash").as("sha"),
      col("chunk"), col("cv"))
    val b = cold.select(col("doc_id").as("b"), col("simhash").as("shb"),
      col("chunk").as("chunk2"), col("cv").as("cv2"))
    val coldPairs = a
      .join(b, col("chunk") === col("chunk2") && col("cv") === col("cv2")
        && col("a") < col("b"))
      .select(col("a"), col("b"), col("sha"), col("shb"))
    // hot bucket → star around each simhash group's min-id rep: rep <
    // member by construction, so a < b holds without a join; sha = shb
    val hotPairs = annotated
      .filter(col("bn") > bucketCap && col("doc_id") =!= col("rep"))
      .select(col("rep").as("a"), col("doc_id").as("b"),
        col("simhash").as("sha"), col("simhash").as("shb"))
    coldPairs.union(hotPairs)
      .distinct()
      .withColumn("hamming", bit_count(col("sha").bitwiseXOR(col("shb"))))
      .filter(col("hamming") <= 1)
      .select(col("a"), col("b"), col("hamming"))
      .orderBy("a", "b")
  }

  private val MinhashSigs = 16
  private val MinhashBands = 4
  private val MinhashRows = 4

  /** Hot-band cap for the LSH band joins, same role as simhashPairs'
    * bucketCap: D exact copies of one document share all 4 band hashes,
    * so an uncapped band-equi self-join emits D²/2 candidate pairs PER
    * BAND — the textbook LSH blowup, and mass duplication (boilerplate,
    * mirrored pages) is the NORM in crawl corpora. 1000 keeps the gate
    * fixtures untouched (largest sf0.01 band bucket ≪ 1000) while
    * bounding any bucket's join cost to O(bucket), not O(bucket²). */
  private val MinhashBandCap = 1000

  /** Rows per task of the dedup_components partitioner
    * (Ckpt.Loop.partitioner): ~20k edges per task. The bounded graph
    * loops use 500k (GraphOps.FixpointRowsPerTask). */
  private val ComponentsRowsPerTask = 20000L

  /** Banded MinHash index of a corpus: (doc_id, m1..m16, band, bh).
    *
    * Formulated as explode + 16 codegen'd min() aggregates (one
    * shuffle), NOT per-row array lambdas — higher-order functions are
    * CodegenFallback and ~10× slower on the 100 TB hot path; shingles
    * via posexplode + lead windows (an array-lambda formulation gets
    * inlined 3× per row by InferFiltersFromGenerate/CollapseProject
    * and runs interpreted).
    * Hash family: ONE md5 per shingle (not one per slot); the digest's
    * 60-bit/56-bit halves h1/h2 feed the Kirsch–Mitzenmacher
    * double-hash family g_i = h1 + i·h2 (pairwise independent, the
    * published O(1)-hashes MinHash construction; no overflow —
    * h1 < 2⁶⁰, h2 < 2⁵⁶, i ≤ 16 ⇒ g_i < 2⁶¹). md5 because the DuckDB
    * oracle replays the identical digests and BIGINT arithmetic;
    * production can swap a faster 128-bit hash without touching the
    * shape. At scale this index is what a pipeline PERSISTS: the daily
    * delta joins against the stored base index (dedup_incremental),
    * recomputing nothing.
    */
  private def minhashBanded(docs: DataFrame, ckptSigs: Boolean = true)
      : DataFrame = {
    // Round-17 note: a map-side array-transform shingle formulation
    // (the bigramPairs shape) was built and MEASURED AGAINST at sf1 —
    // it removed the token shuffle (write 6.1 → 3.4 MB at sf0.1) but
    // the per-shingle transform/concat_ws lambda is CodegenFallback
    // and cost ~2.5x the window form's warm CPU at sf1 (220 s vs 88 s
    // summed task time), exactly the HOF-on-the-hot-path trap the
    // header documents. The codegen'd posexplode + lead() windows
    // stay.
    val wpos = Window.partitionBy("doc_id").orderBy("pos")
    val shingled = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .filter(col("tok") =!= "")
      .select(col("doc_id"), col("tok"),
        lead(col("tok"), 1).over(wpos).as("t1"),
        lead(col("tok"), 2).over(wpos).as("t2"))
      .filter(col("t2").isNotNull)
      .select(col("doc_id"),
        concat_ws(" ", col("tok"), col("t1"), col("t2")).as("sh"))
    val hashed = shingled
      .withColumn("d", md5(col("sh")))
      .withColumn("h1", expr("CAST(conv(substring(d, 1, 15), 16, 10) AS BIGINT)"))
      .withColumn("h2", expr("CAST(conv(substring(d, 17, 14), 16, 10) AS BIGINT)"))
    val sigAggs = (1 to MinhashSigs).map(i =>
      min(col("h1") + lit(i.toLong) * col("h2")).as(s"m$i"))
    // Round-17 (opt): signature table checkpointed once — same
    // rationale as simhashPairs' sim table (three downstream consumers
    // of the corpus-scale shingle → md5 → 16-min pipeline, no planner
    // exchange reuse across the self-join arms). 1 row/doc, 16 longs.
    // incrementalMatches passes ckptSigs=false: each of its two banded
    // indexes has ONE consumer, so a checkpoint there is a pure extra
    // materialization.
    val sigs0 = hashed.groupBy("doc_id").agg(sigAggs.head, sigAggs.tail: _*)
    val sigs = if (ckptSigs) Ckpt.df(sigs0) else sigs0
    val bandCols = (0 until MinhashBands).map(b =>
      md5(concat_ws("|", lit(s"band$b") +:
        (1 to MinhashRows).map(i => col(s"m${b * MinhashRows + i}")): _*)))
    sigs.select(
      col("doc_id") +: (1 to MinhashSigs).map(i => col(s"m$i")) :+
        posexplode(array(bandCols: _*)).as(Seq("band", "bh")): _*)
  }

  /** MinHash+LSH near-dup pairs with the clique→star hot-band cap
    * (the simhashPairs bucketCap pattern applied to the band buckets —
    * the round-13 verdict's one named scale-killer).
    *
    * A (band, bh) bucket over the cap degrades from CLIQUE to STAR:
    * members pair only with the bucket's min-doc_id representative, so
    * its join cost is O(bucket), not O(bucket²). As with simhash, hot
    * bands are CORRELATED for the case that matters — a mega-duplicate
    * cluster shares ALL 4 band hashes, so all 4 of its buckets go hot
    * together; dropping hot buckets outright would report zero pairs
    * for exactly those clusters, while the star keeps every member
    * connected through the representative (est_jaccard 1.0 for exact
    * copies — rep's signature equals every member's). The bounded
    * recall loss: a pair (x, y) inside a hot band where neither is the
    * rep and their OTHER bands are also hot or disagree — for exact
    * duplicates no loss at all (component connectivity via the rep is
    * what dedup_components consumes); for genuinely-near-but-unequal
    * docs sharing a hot band, the pair survives iff any of its 3 other
    * bands is cold. The bucket stats ride the same (band, bh) shuffle
    * the self-join needs anyway (one window pass, two functions).
    *
    * est_jaccard is computed from the PAIR's own 16 slots in both arms
    * (the rep's slots ARE its doc's slots), so a pair reachable both
    * cold and hot produces the identical row and distinct() collapses
    * it — same invariant the uncapped formulation relied on. */
  def minhashPairs(docs: DataFrame,
      bucketCap: Int = MinhashBandCap): DataFrame = {
    val nSig = MinhashSigs
    val banded = minhashBanded(docs)
    val wBucket = Window.partitionBy("band", "bh")
    val wOrd = wBucket.orderBy("doc_id")
    // one shuffle on (band, bh) feeds both window passes; rep signature
    // rides as ONE struct column, not 16 separate window functions
    val annotated = banded
      .withColumn("bn", count(lit(1)).over(wBucket))
      .withColumn("rep", first(col("doc_id")).over(wOrd))
      .withColumn("repsig",
        first(struct((1 to nSig).map(i => col(s"m$i")): _*)).over(wOrd))
    val cold = annotated.filter(col("bn") <= bucketCap)
    val aSide = cold.select(
      col("doc_id").as("a") +: col("band") +: col("bh") +:
        (1 to nSig).map(i => col(s"m$i").as(s"am$i")): _*)
    val bSide = cold.select(
      col("doc_id").as("b") +: col("band").as("band2") +: col("bh").as("bh2") +:
        (1 to nSig).map(i => col(s"m$i").as(s"bm$i")): _*)
    val coldPairs = aSide
      .join(bSide, col("band") === col("band2") && col("bh") === col("bh2")
        && col("a") < col("b"))
      .select(col("a") +: col("b") +:
        (1 to nSig).flatMap(i => Seq(col(s"am$i"), col(s"bm$i"))): _*)
    // hot band → star around the min-doc_id rep; rep < member by
    // construction, so a < b holds without a join
    val hotPairs = annotated
      .filter(col("bn") > bucketCap && col("doc_id") =!= col("rep"))
      .select(col("rep").as("a") +: col("doc_id").as("b") +:
        (1 to nSig).flatMap(i =>
          Seq(col(s"repsig.m$i").as(s"am$i"), col(s"m$i").as(s"bm$i"))): _*)
    val est = (1 to nSig)
      .map(i => when(col(s"am$i") === col(s"bm$i"), 1).otherwise(0))
      .reduce(_ + _).cast(DoubleType) / nSig.toDouble
    coldPairs.union(hotPairs)
      .select(col("a"), col("b"), round(est, 4).as("est_jaccard"))
      .distinct()
      .orderBy("a", "b")
  }

  /** Incremental corpus dedup — the production shape for a growing
    * corpus: only the new DELTA is checked, against the BASE's
    * persisted band index; base-vs-base never recomputes. Sides split
    * by the same md5 bucket rule as split_train_test (delta = buckets
    * 8-9, ~20%) so the split is deterministic and SF-independent. At
    * 100 TB the base index is the stored table and the per-day cost is
    * O(delta), not O(corpus).
    *
    * The broadcast hint reflects the REAL workload's invariant — a
    * daily delta is orders of magnitude smaller than the corpus — not
    * this fixture's 20% slice; if a delta outgrows the broadcast
    * limit, drop the hint and the band-equi join degrades gracefully
    * to a shuffle on the band keys (AQE re-picks from runtime sizes).
    *
    * Hot-band cap on the BASE side (the same clique→star rule as
    * minhashPairs): a hot base bucket × a duplicated delta is the
    * same quadratic shape as the self-join — D_delta × D_base rows
    * through one bucket. Capping base membership to (cold buckets ∪
    * hot-bucket representative) bounds any bucket's join cost to
    * O(delta_bucket · cap). The rep is the bucket's MIN doc_id, so
    * first_base_match is preserved for every delta doc that matched
    * the hot bucket at all; n_base_matches undercounts only the
    * non-rep members of hot buckets not reachable via a cold band —
    * for a mega-duplicate base cluster (the case that makes buckets
    * hot) the rep-match is exactly what the pipeline needs. */
  def incrementalMatches(allDocs: DataFrame,
      bucketCap: Int = MinhashBandCap): DataFrame = {
    val docs = allDocs.withColumn("b", SampleOps.hashBucket)
    val wBucket = Window.partitionBy("band", "bh")
    val base = minhashBanded(docs.filter(col("b") < 8), ckptSigs = false)
      .withColumn("bn", count(lit(1)).over(wBucket))
      .withColumn("rep", first(col("doc_id")).over(wBucket.orderBy("doc_id")))
      .filter(col("bn") <= bucketCap || col("doc_id") === col("rep"))
      .select(col("doc_id").as("base_id"),
        col("band").as("band2"), col("bh").as("bh2"))
    val delta = minhashBanded(docs.filter(col("b") >= 8), ckptSigs = false)
      .select(col("doc_id"), col("band"), col("bh"))
    broadcast(delta)
      .join(base, col("band") === col("band2") && col("bh") === col("bh2"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("base_id")).as("n_base_matches"),
        min(col("base_id")).as("first_base_match"))
      .orderBy("doc_id")
  }

  /** Stored component labels — built ONCE per corpus snapshot from the
    * dedup_components fixpoint (path carries Stage.inputStamp so a
    * regenerated fixture rotates the cache), read by every consumer
    * (dedup_apply, dedup_cluster_stats). */
  private def componentLabelsStored(s: SparkSession, d: String): DataFrame = {
    val tag = d.replaceAll("[^A-Za-z0-9]", "_") + "_" +
      Stage.inputStamp(s, s"$d/documents.parquet")
    val path = Stage.p(s, s"graft_components_$tag")
    val labPath = Stage.materializeOnce(s, path) {
      queries("dedup_components")(s, d)
        .write.mode("overwrite").parquet(path)
    }
    s.read.parquet(labPath)
  }

  val queries: Map[String, Q] = Map(
    "dedup_exact" -> ((s, d) => {
      // Normalize → hash → keep lowest doc_id per hash. One shuffle —
      // and since round 10 a codegen'd min aggregate instead of a
      // rank window: partial aggregation collapses duplicates
      // map-side, so one row per group per partition crosses the
      // exchange and nothing per-group gets SORTED reduce-side. At
      // 100 TB a viral duplicate (one hash, 10⁷ copies) costs the
      // window formulation a single-partition sort of all copies;
      // the aggregate folds it map-side. Selection identical (doc_id
      // unique → min is the rank-1 row; oracle unchanged).
      val h = md5(lower(trim(col("text"))))
      Tables.documents(s, d)
        .select(col("doc_id"), h.as("h"))
        .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), col("h"))
        .orderBy("doc_id")
    }),

    "dedup_exact_keepbest" -> ((s, d) => {
      // Quality-aware exact dedup: within a normalized-content group keep
      // the BEST representative (longest raw text, then English, then
      // lowest doc_id), not merely the first — the policy real training
      // pipelines use when near-identical docs differ in metadata or
      // whitespace. Same one-shuffle map-side-folding shape as
      // dedup_exact: max_by over a composite ord struct (n_chars,
      // en-first as 0/-1, -doc_id — each component negated where the
      // window sorted ascending) replays the window's rank-1 pick
      // exactly, ties impossible since doc_id makes the ord unique.
      // A viral duplicate group folds map-side instead of sorting in
      // one reduce partition.
      val h = md5(lower(trim(col("text"))))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"), h.as("h"))
        .groupBy(col("h"))
        .agg(max_by(
          struct(col("doc_id"), col("lang"), col("n_chars")),
          struct(col("n_chars"),
            when(col("lang") === "en", 0).otherwise(-1).as("en"),
            (-col("doc_id")).as("nid"))).as("best"))
        .select(col("best.doc_id").as("doc_id"), col("h"),
          col("best.lang").as("lang"), col("best.n_chars").as("n_chars"))
        .orderBy("doc_id")
    }),

    "dedup_near_minhash" -> ((s, d) =>
      // Hand-rolled MinHash+LSH: 3-token shingles → 16 minhash slots →
      // 4 bands × 4 rows → band-equi-self-join with the clique→star
      // hot-band cap (minhashPairs above; signature pipeline shared
      // with dedup_incremental via minhashBanded).
      minhashPairs(Tables.documents(s, d))),

    "dedup_incremental" -> ((s, d) =>
      incrementalMatches(Tables.documents(s, d))),

    "dedup_simhash" -> ((s, d) =>
      simhashPairs(Tables.documents(s, d))),

    "dedup_components" -> ((s, d) => {
      // Connected components over the near-dup pair graph — the step a
      // real pipeline runs AFTER candidate generation, so each
      // duplicate cluster collapses to one representative (the min
      // doc_id label). Pair generation stays declarative and is
      // localCheckpointed once; the fixpoint loop then runs on
      // partitioner-aware RDDs — the documented exception to
      // DataFrame-first (SURVEY §7.3): each loop round builds a FRESH
      // DataFrame plan, and whole-stage codegen compilation alone costs
      // ~0.8 s/round (measured at sf0.1) vs ~0.3 s/round for the
      // identical joins on RDDs with a shared HashPartitioner (the
      // GraphX execution model). Each round propagates the min label
      // along edges and pointer-jumps (label(x) ← label(label(x)),
      // O(log diameter) rounds); per-round checkpoint truncates
      // lineage so round N never recomputes rounds 1..N-1 — durable
      // (`spark.graft.checkpointDir`, see Ckpt) when configured, else
      // localCheckpoint. Convergence = zero labels changed this round,
      // counted exactly over a co-partitioned (narrow) self-join; a
      // floating-point label SUM would silently absorb a small
      // last-round decrease once totals pass 2^53 (~1e8 docs), exiting
      // before the fixpoint.
      val loop = Ckpt.loop(s)
      val edges = simhashPairs(Tables.documents(s, d)).select(col("a"), col("b"))
      // Durable runs reliably checkpoint the edge list too: a
      // localCheckpoint's blocks live only on executors, so losing an
      // executor BEFORE byY materializes would kill exactly the job
      // the durable conf is meant to keep alive (proven by the round-9
      // worker-kill probe). Ckpt.df persists before the reliable
      // checkpoint so the checkpoint job reads the just-computed
      // blocks instead of recomputing the full simhashPairs lineage a
      // second time (the same discipline as the fixpoint rounds below).
      val und = Ckpt.df(
        edges.union(edges.select(col("b").as("a"), col("a").as("b"))))
      // ~20k edges per task (Loop.partitioner). und is an EAGER
      // checkpoint, so the count here reads materialized blocks, not a
      // recompute.
      val part = loop.partitioner(und.count(), ComponentsRowsPerTask)
      // Each generation is pinned with truncate = true (persisted at
      // Ckpt.Level, then reliably checkpointed or localCheckpointed), so
      // round N never recomputes rounds 1..N-1, and released — blocks
      // and, durable, checkpoint files — in BOTH modes once its
      // successor is materialized and the change count, its last
      // reader, has run: a run holds O(1) generations, not O(rounds)
      // (unreleased local generations were the round-17 suite-context
      // churn: fixpoint keys ran ~2× their solo time in a bench pass).
      // (y, x): keyed by the neighbor whose label flows to x.
      // Round 18: no eager byY.count()/lab.count() — the prefix stays
      // LAZY (persist + localCheckpoint marks only) and round 1's one
      // action materializes byY, lab and round 1's own generation in a
      // single job (guide §2/§7: two fewer driver barriers per run;
      // correctness unchanged — localCheckpoint truncation happens at
      // first materialization regardless of which action drives it).
      val byY = loop.pin(
        und.rdd.map(r => (r.getLong(1), r.getLong(0))).partitionBy(part),
        truncate = true)
      // Fused round 0: with identity labels the first min-neighbor step
      // is just min(x, min over neighbors of x) — one reduceByKey, no
      // join, and the undirected edge list guarantees every vertex
      // appears as an x. Saves a full join+jump round per run.
      var lab = loop.pin(byY.map { case (y, x) => (x, math.min(x, y)) }
        .reduceByKey(part, (a: Long, b: Long) => math.min(a, b)),
        truncate = true)
      var changed = 1L
      var rounds = 0
      while (changed != 0L) {
        require(rounds < 50, "dedup_components: no convergence in 50 rounds")
        val nmin = byY.join(lab).map { case (_, (x, l)) => (x, l) }
          .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
        // stepped carries (oldLabel, newLabel) so change detection can
        // ride the jump join instead of paying a separate jumped⋈lab
        // join per round (round 18; the old label adds 8 bytes/row to
        // ONE side of the jump shuffle and deletes a whole
        // co-partitioned join + its scan of both persisted tables).
        val stepped = lab.leftOuterJoin(nmin)
          .mapValues { case (l, o) => (l, math.min(l, o.getOrElse(l))) }
        // pointer jump: labels only ever hold existing doc_ids, so
        // label(label(x)) is a self-join on the (new) label value.
        // Change detection: a LongAccumulator bumped where the final
        // label differs from the round-entry label. Accumulator updates
        // in a transformation may double-apply under task retry, so the
        // VALUE is only an upper bound on the true change count — but
        // the loop tests exactly `!= 0`, and zero is retry-proof: a
        // no-change task adds 0 no matter how often it reruns, and a
        // changed task adds ≥1 on every successful run, so value == 0
        // ⟺ true count == 0. The old exact-count join made the same
        // loop decisions (its count was only ever compared to 0); the
        // label arithmetic is untouched, so the fixpoint — and the
        // output — is bit-identical.
        val chAcc = s.sparkContext.longAccumulator("componentsChangedUB")
        val jumped = loop.pin(stepped.map { case (x, (ol, c)) => (c, (x, ol)) }
          .join(stepped.mapValues(_._2))
          .map { case (c, ((x, ol), cc)) =>
            val n = math.min(c, cc)
            if (n != ol) chAcc.add(1L)
            (x, n)
          }
          .partitionBy(part), truncate = true)
        // the count is the checkpoint-materializing action; the
        // accumulator is complete once it returns
        jumped.count()
        changed = chAcc.value
        loop.release(lab) // jumped is materialized; the old round can go
        lab = jumped
        rounds += 1
      }
      // Round 17 block hygiene: the loop's inputs are dead once the
      // fixpoint converges — the output depends ONLY on the final
      // label generation's own (checkpointed) blocks — so the edge
      // structures release here instead of lingering until a GC cycle
      // feeds the ContextCleaner (und is read exactly twice, both
      // materializations above; byY's last reader is the final round's
      // nmin join). The final generation is released by the harness
      // once the key's result is materialized (Ckpt.releaseScratch).
      loop.finish(lab,
        org.apache.spark.sql.GraftSqlBridge.backingRdd(und).toSeq: _*)
      val sess = s
      import sess.implicits._
      lab.toDF("doc_id", "component").orderBy("doc_id")
    }),

    "dedup_apply" -> ((s, d) => {
      // The APPLIED dedup — the corpus a training run actually reads.
      // Cluster labels from the components fixpoint are materialized
      // ONCE as a stored table (exactly production's shape: labels are
      // computed per corpus snapshot, stored, and applied many times
      // downstream), then every non-representative member anti-joins
      // out. Survivors = each cluster's min doc_id + every doc with no
      // near-dup at all. The apply pass itself is one broadcast-able
      // anti join against the (pair-participant-sized) drop list — at
      // 100 TB that list is the rare-duplicate slice, orders of
      // magnitude smaller than the corpus.
      // Path carries Stage.inputStamp(documents): a regenerated fixture
      // rotates the cache path, so stored labels can never go stale
      // against the corpus they label (round-5 lesson).
      val drop = componentLabelsStored(s, d)
        .filter(col("doc_id") =!= col("component")).select("doc_id")
      Tables.documents(s, d)
        .join(drop, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }),

    "dedup_cluster_stats" -> ((s, d) => {
      // Dup-cluster size profile — the QA report a dedup run publishes
      // next to its applied corpus: how many clusters of each size,
      // and the honest SINGLETON row (docs in no near-dup pair at
      // all), which naive reports over the pair-participant label
      // table silently omit. Reads the SAME stored label snapshot
      // dedup_apply consumes (build-once/report-many); two tiny
      // aggregates over the labels plus one corpus count — the report
      // itself is cluster-count-sized.
      val lab = componentLabelsStored(s, d)
      val dist = lab.groupBy("component").agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"))
      val tot = Tables.documents(s, d).agg(count(lit(1)).as("nd"))
      val labeled = lab.agg(count(lit(1)).as("nl"))
      val singles = tot.crossJoin(broadcast(labeled))
        .select(lit(1L).as("cluster_size"),
          (col("nd") - col("nl")).as("n_clusters"),
          (col("nd") - col("nl")).as("n_docs"))
      dist.unionAll(singles).orderBy("cluster_size")
    }),

    "dedup_ngram_jaccard" -> ((s, d) => {
      // Exact bigram-set Jaccard on a bounded candidate set (doc_id<60
      // here; at scale the candidate pairs come from MinHash above).
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val grams = Tables.documents(s, d)
        .filter(col("doc_id") < 60)
        .select(col("doc_id"), posexplode(toks).as(Seq("pos", "tok")))
        .withColumn("nxt", lead(col("tok"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("doc_id"), concat_ws(" ", col("tok"), col("nxt")).as("gram"))
        .distinct()
      val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val inter = grams.select(col("doc_id").as("a"), col("gram"))
        .join(grams.select(col("doc_id").as("b"), col("gram")), "gram")
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("inter"))
      inter
        .join(sizes.select(col("doc_id").as("a"), col("sz").as("sa")), "a")
        .join(sizes.select(col("doc_id").as("b"), col("sz").as("sb")), "b")
        .select(col("a"), col("b"),
          round(col("inter").cast(DoubleType)
            / (col("sa") + col("sb") - col("inter")), 4).as("jaccard"))
        .orderBy("a", "b")
    }),

    "dedup_embedding" -> ((s, d) => {
      // Embedding-cosine near-dup pairs on a bounded id range, computed
      // with the exact order-independent fixed-point dot-product path
      // (Det.sumFixed; a raw double sum would drift with shuffle order).
      val e = Tables.embeddings(s, d)
        .filter(col("vec_id") < 300)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("vec_id"), col("pos"), col("v").cast(DoubleType).as("v"))
      val norms = e.groupBy("vec_id")
        .agg(sqrt(graft.Det.sumFixed(col("v") * col("v"))).as("nrm"))
      val dots = broadcast(e.select(col("vec_id").as("a"), col("pos"), col("v").as("va")))
        .join(e.select(col("vec_id").as("b"), col("pos"), col("v").as("vb")), "pos")
        .filter(col("a") < col("b"))
        .groupBy("a", "b")
        .agg(graft.Det.sumFixed(col("va") * col("vb")).as("dotd"))
      dots
        .join(broadcast(norms.select(col("vec_id").as("a"), col("nrm").as("na"))), "a")
        .join(broadcast(norms.select(col("vec_id").as("b"), col("nrm").as("nb"))), "b")
        .select(col("a"), col("b"),
          round(col("dotd") / (col("na") * col("nb")), 4).as("cos"))
        .filter(col("cos") >= 0.25)
        .orderBy("a", "b")
    }),

    "dedup_url_canonical" -> ((s, d) => {
      // URL-canonicalization dedup — the web-crawl first pass: the same
      // page arrives as many surface forms (host case, tracking params,
      // trailing slash) and must collapse BEFORE content dedup ever
      // runs. Four deterministic variants of each logical page are
      // synthesized (groups of 4 docs share a page), canonicalized
      // (lower host, drop the tracking-only query string, strip the
      // trailing slash — production keeps non-tracking params), and
      // grouped. Canonicalization is per-row codegen'd string work —
      // map-only at 100 TB; the only shuffle is the canonical-key
      // rollup, the dedup_exact shape.
      val page = expr("doc_id div 4")
      val base = concat(lit("https://"), col("source"), lit(".Example.COM/page-"),
        page.cast(StringType))
      val url = when(col("doc_id") % 4 === 0, base)
        .when(col("doc_id") % 4 === 1, lower(base))
        .when(col("doc_id") % 4 === 2, concat(base, lit("?utm_source=feed")))
        .otherwise(concat(base, lit("/")))
      val canon = concat(
        lower(parse_url(col("url"), lit("HOST"))),
        regexp_replace(parse_url(col("url"), lit("PATH")), "/$", ""))
      Tables.documents(s, d)
        .select(col("doc_id"), url.as("url"))
        .withColumn("canon", canon)
        .groupBy("canon")
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("url")).as("n_forms"),
          min(col("doc_id")).as("keep_doc"))
        .orderBy("canon")
    })
  )

  /** Generated pieces of the minhash oracles — emitted from the same
    * nSig/nBands constants as the Spark side. */
  private val mhMinAggs = (1 to 16)
    .map(i => s"min(h1 + $i * h2) AS m$i").mkString(",\n                  ")

  /** Shared signature CTE chain (tokens → 3-shingles → md5 halves →
    * 16 min slots), used by dedup_near_minhash and dedup_incremental. */
  private lazy val mhSigCtes =
    s"""toks AS (
           SELECT doc_id, tok, pos FROM (
             SELECT doc_id, unnest(tokens) AS tok,
                    unnest(range(1, len(tokens)+1)) AS pos
             FROM (SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '') AS tokens
                   FROM documents))),
         sh3 AS (
           SELECT doc_id, tok || ' ' || t1 || ' ' || t2 AS sh FROM (
             SELECT doc_id, tok,
                    lead(tok, 1) OVER w AS t1,
                    lead(tok, 2) OVER w AS t2
             FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
           WHERE t2 IS NOT NULL),
         hh AS (
           SELECT doc_id,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    [strpos('0123456789abcdef',
                            substring(d, CAST(i AS INTEGER), 1)) - 1
                     FOR i IN range(1, 16)]),
                    (acc, x) -> acc * 16 + x) AS h1,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    [strpos('0123456789abcdef',
                            substring(d, CAST(i AS INTEGER), 1)) - 1
                     FOR i IN range(17, 31)]),
                    (acc, x) -> acc * 16 + x) AS h2
           FROM (SELECT doc_id, md5(sh) AS d FROM sh3)),
         sigs AS (
           SELECT doc_id,
                  $mhMinAggs
           FROM hh GROUP BY doc_id)"""
  private val mhBandArms = (0 until 4).map { b =>
    val ms = (1 to 4).map(i => s"m${b * 4 + i}").mkString(" || '|' || ")
    s"SELECT doc_id, $b AS band, md5('band$b|' || $ms) AS bh, ${(1 to 16).map("m" + _).mkString(", ")} FROM sigs"
  }.mkString("\n                  UNION ALL ")
  private val mhEstSum = (1 to 16)
    .map(i => s"CASE WHEN p.m$i = q.m$i THEN 1 ELSE 0 END")
    .mkString(" + ")
  private val mhRepCols = (1 to 16)
    .map(i => s"first_value(m$i) OVER wo AS rm$i")
    .mkString(",\n                  ")
  private val mhEstSumRep = (1 to 16)
    .map(i => s"CASE WHEN rm$i = m$i THEN 1 ELSE 0 END")
    .mkString(" + ")

  /** The dedup_simhash oracle's CTE chain (everything up to the final
    * projection), shared with the dedup_components oracle. */
  private val simhashCtes =
    """toks AS (
           SELECT DISTINCT doc_id, t FROM (
             SELECT doc_id,
                    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
             FROM documents)),
         th AS (
           SELECT doc_id,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    [strpos('0123456789abcdef',
                            substring(md5('simhash:' || t), CAST(i AS INTEGER), 1)) - 1
                     FOR i IN range(1, 16)]),
                    (acc, x) -> acc * 16 + x) AS h
           FROM toks),
         bits AS (
           SELECT doc_id, CAST(b AS INTEGER) AS b,
                  sum(CASE WHEN (h >> CAST(b AS INTEGER)) & 1 = 1
                      THEN 1 ELSE -1 END) AS s
           FROM th, range(0, 64) t(b)
           GROUP BY 1, 2),
         sim AS (
           SELECT doc_id,
                  CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << b
                           ELSE 0 END) AS BIGINT) AS simhash
           FROM bits GROUP BY doc_id),
         chunked AS (
           SELECT doc_id, simhash, CAST(c AS INTEGER) AS chunk,
                  (simhash >> CAST(c * 16 AS INTEGER)) & 65535 AS cv
           FROM sim, range(0, 4) t(c)),
         ann AS (
           SELECT doc_id, simhash, chunk, cv,
                  count(*) OVER (PARTITION BY chunk, cv) AS bn,
                  min(doc_id) OVER
                    (PARTITION BY chunk, cv, simhash) AS rep
           FROM chunked),
         coldpairs AS (
           SELECT pa.doc_id AS a, pb.doc_id AS b,
                  pa.simhash AS sha, pb.simhash AS shb
           FROM ann pa JOIN ann pb
             ON pa.chunk = pb.chunk AND pa.cv = pb.cv AND pa.doc_id < pb.doc_id
           WHERE pa.bn <= 1000 AND pb.bn <= 1000),
         hotpairs AS (
           SELECT rep AS a, doc_id AS b, simhash AS sha, simhash AS shb
           FROM ann WHERE bn > 1000 AND doc_id <> rep),
         candpairs AS (
           SELECT DISTINCT a, b, sha, shb FROM (
             SELECT * FROM coldpairs UNION ALL SELECT * FROM hotpairs)),
         simpairs AS (
           SELECT a, b, CAST(bit_count(xor(sha, shb)) AS INTEGER) AS hamming
           FROM candpairs WHERE bit_count(xor(sha, shb)) <= 1)"""

  val oracles: Map[String, String] = Map(
    // Replays the md5 pipeline: 15-hex-char token hash parsed to a
    // 60-bit BIGINT, per-bit ±1 sums, chunk pigeonhole with the
    // clique→star hot-bucket degradation (count/first_value windows
    // mirror the Spark wBucket/wOrd pair).
    "dedup_simhash" ->
      s"""WITH $simhashCtes
         SELECT a, b, hamming FROM simpairs ORDER BY a, b""",

    // Transitive closure of the near-dup pair graph via a recursive
    // CTE (UNION dedup terminates on cycles); component label = min
    // reachable doc_id, exactly the fixpoint Spark's min-label
    // propagation converges to.
    "dedup_components" ->
      s"""WITH RECURSIVE $simhashCtes,
         und AS (SELECT a AS x, b AS y FROM simpairs
                 UNION SELECT b, a FROM simpairs),
         reach(x, y) AS (
           SELECT x, y FROM und
           UNION
           SELECT r.x, u.y FROM reach r JOIN und u ON r.y = u.x),
         comp AS (
           SELECT n.x AS doc_id, least(n.x, min(r.y)) AS component
           FROM (SELECT DISTINCT x FROM und) n
           JOIN reach r ON r.x = n.x
           GROUP BY n.x)
         SELECT doc_id, component FROM comp ORDER BY doc_id""",

    // Same recursive closure, then the size rollup plus the singleton
    // row derived from the corpus count.
    "dedup_cluster_stats" ->
      s"""WITH RECURSIVE $simhashCtes,
         und AS (SELECT a AS x, b AS y FROM simpairs
                 UNION SELECT b, a FROM simpairs),
         reach(x, y) AS (
           SELECT x, y FROM und
           UNION
           SELECT r.x, u.y FROM reach r JOIN und u ON r.y = u.x),
         comp AS (
           SELECT n.x AS doc_id, least(n.x, min(r.y)) AS component
           FROM (SELECT DISTINCT x FROM und) n
           JOIN reach r ON r.x = n.x
           GROUP BY n.x),
         sizes AS (SELECT component, count(*) AS sz FROM comp GROUP BY 1),
         dist AS (SELECT sz AS cluster_size,
                    CAST(count(*) AS BIGINT) AS n_clusters,
                    CAST(sum(sz) AS BIGINT) AS n_docs
                  FROM sizes GROUP BY 1),
         tot AS (SELECT count(*) AS nd FROM documents),
         lb AS (SELECT count(*) AS nl FROM comp)
         SELECT * FROM (
           SELECT cluster_size, n_clusters, n_docs FROM dist
           UNION ALL
           SELECT CAST(1 AS BIGINT), CAST(nd - nl AS BIGINT),
                  CAST(nd - nl AS BIGINT)
           FROM tot CROSS JOIN lb)
         ORDER BY cluster_size""",

    // Same recursive closure as dedup_components, then the anti join:
    // a doc drops iff it participates in a pair AND is not its
    // component's min id.
    "dedup_apply" ->
      s"""WITH RECURSIVE $simhashCtes,
         und AS (SELECT a AS x, b AS y FROM simpairs
                 UNION SELECT b, a FROM simpairs),
         reach(x, y) AS (
           SELECT x, y FROM und
           UNION
           SELECT r.x, u.y FROM reach r JOIN und u ON r.y = u.x),
         comp AS (
           SELECT n.x AS doc_id, least(n.x, min(r.y)) AS component
           FROM (SELECT DISTINCT x FROM und) n
           JOIN reach r ON r.x = n.x
           GROUP BY n.x)
         SELECT d.doc_id, d.lang, d.n_chars FROM documents d
         WHERE NOT EXISTS (SELECT 1 FROM comp c
                           WHERE c.doc_id = d.doc_id
                             AND c.doc_id <> c.component)
         ORDER BY d.doc_id""",

    // Replays the md5 MinHash: filtered-token 3-shingles via lead
    // windows, one md5 per shingle folded to two 60-bit halves (same
    // strpos fold the simhash oracle uses to replay Spark's conv), 16
    // double-hash min slots, 4 banded md5 keys, band-equi self-join
    // with the clique→star hot-band cap (count/first_value windows
    // mirror Spark's wBucket/wOrd pair; hot bands pair members with
    // the min-doc_id rep only), Jaccard estimate from slot equality.
    "dedup_near_minhash" ->
      s"""WITH $mhSigCtes,
         banded AS (
                  $mhBandArms),
         ann AS (
           SELECT doc_id, band, bh, ${(1 to 16).map("m" + _).mkString(", ")},
                  count(*) OVER (PARTITION BY band, bh) AS bn,
                  first_value(doc_id) OVER wo AS rep,
                  $mhRepCols
           FROM banded
           WINDOW wo AS (PARTITION BY band, bh ORDER BY doc_id)),
         coldpairs AS (
           SELECT p.doc_id AS a, q.doc_id AS b,
                  round(CAST($mhEstSum AS DOUBLE) / 16.0, 4) AS est_jaccard
           FROM ann p JOIN ann q
             ON p.band = q.band AND p.bh = q.bh AND p.doc_id < q.doc_id
           WHERE p.bn <= $MinhashBandCap AND q.bn <= $MinhashBandCap),
         hotpairs AS (
           SELECT rep AS a, doc_id AS b,
                  round(CAST($mhEstSumRep AS DOUBLE) / 16.0, 4) AS est_jaccard
           FROM ann WHERE bn > $MinhashBandCap AND doc_id <> rep),
         pairs AS (
           SELECT * FROM coldpairs UNION ALL SELECT * FROM hotpairs)
         SELECT DISTINCT a, b, est_jaccard FROM pairs ORDER BY a, b""",

    // Same signature CTEs; sides split by the split_train_test bucket
    // rule (delta = buckets 8-9), delta bands joined to base bands —
    // base membership capped to (cold buckets ∪ hot-bucket min-doc_id
    // rep), replaying the Spark side's hot-base degradation.
    "dedup_incremental" ->
      s"""WITH $mhSigCtes,
         banded AS (
                  $mhBandArms),
         bucketed AS (
           SELECT doc_id, band, bh, ${SampleOps.hexBucketSql} AS bk
           FROM banded),
         bann AS (
           SELECT doc_id, band, bh,
                  count(*) OVER (PARTITION BY band, bh) AS bn,
                  first_value(doc_id) OVER
                    (PARTITION BY band, bh ORDER BY doc_id) AS rep
           FROM bucketed WHERE bk < 8),
         base AS (
           SELECT doc_id, band, bh FROM bann
           WHERE bn <= $MinhashBandCap OR doc_id = rep)
         SELECT d.doc_id, count(DISTINCT b.doc_id) AS n_base_matches,
                min(b.doc_id) AS first_base_match
         FROM (SELECT doc_id, band, bh FROM bucketed WHERE bk >= 8) d
         JOIN base b
           ON d.band = b.band AND d.bh = b.bh
         GROUP BY d.doc_id ORDER BY d.doc_id""",

    "dedup_exact" ->
      """SELECT doc_id, h FROM (
           SELECT doc_id, h,
                  row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
           FROM (SELECT doc_id, md5(lower(trim(text))) AS h FROM documents))
         WHERE rn = 1 ORDER BY doc_id""",

    "dedup_exact_keepbest" ->
      """SELECT doc_id, h, lang, n_chars FROM (
           SELECT doc_id, h, lang, n_chars,
                  row_number() OVER (PARTITION BY h
                    ORDER BY n_chars DESC,
                             CASE WHEN lang = 'en' THEN 0 ELSE 1 END,
                             doc_id) AS rn
           FROM (SELECT doc_id, lang, n_chars,
                        md5(lower(trim(text))) AS h FROM documents))
         WHERE rn = 1 ORDER BY doc_id""",

    "dedup_ngram_jaccard" ->
      """WITH grams AS (
           SELECT DISTINCT doc_id, tok || ' ' || nxt AS gram FROM (
             SELECT doc_id, tok, pos,
                    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
             FROM (SELECT doc_id, unnest(tokens) AS tok,
                          unnest(range(1, len(tokens)+1)) AS pos
                   FROM (SELECT doc_id,
                           list_filter(string_split(text, ' '), x -> x <> '') AS tokens
                         FROM documents WHERE doc_id < 60)))
           WHERE nxt IS NOT NULL),
         sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
                   FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT i.a, i.b,
                round(CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter), 4) AS jaccard
         FROM inter i
         JOIN sizes sa ON i.a = sa.doc_id
         JOIN sizes sb ON i.b = sb.doc_id
         ORDER BY a, b""",

    "dedup_embedding" ->
      """WITH e AS (SELECT vec_id, CAST(v AS DOUBLE) AS v, pos FROM (
             SELECT vec_id, unnest(embedding) AS v,
                    unnest(range(1, len(embedding)+1)) AS pos
             FROM embeddings WHERE vec_id < 300)),
         norms AS (SELECT vec_id,
                     sqrt(CAST(sum(CAST(floor(v*v * 1099511627776.0) AS BIGINT)) AS DOUBLE)
                            / 1099511627776.0) AS nrm
                   FROM e GROUP BY vec_id),
         dots AS (SELECT a.vec_id AS a, b.vec_id AS b,
                    CAST(sum(CAST(floor(a.v*b.v * 1099511627776.0) AS BIGINT)) AS DOUBLE)
                    / 1099511627776.0 AS dotd
                  FROM e a JOIN e b ON a.pos = b.pos AND a.vec_id < b.vec_id
                  GROUP BY 1, 2)
         SELECT d.a, d.b, round(d.dotd / (na.nrm * nb.nrm), 4) AS cos
         FROM dots d
         JOIN norms na ON d.a = na.vec_id
         JOIN norms nb ON d.b = nb.vec_id
         WHERE round(d.dotd / (na.nrm * nb.nrm), 4) >= 0.25
         ORDER BY a, b""",

    // the canonical form is restated with plain string ops (lower host
    // + path sans trailing slash, query dropped) — what a correct URL
    // canonicalizer must produce from the synthesized variants
    "dedup_url_canonical" ->
      """WITH urls AS (
           SELECT doc_id,
                  CASE CAST(doc_id % 4 AS INTEGER)
                    WHEN 0 THEN 'https://' || source || '.Example.COM/page-' || (doc_id // 4)
                    WHEN 1 THEN lower('https://' || source || '.Example.COM/page-' || (doc_id // 4))
                    WHEN 2 THEN 'https://' || source || '.Example.COM/page-' || (doc_id // 4) || '?utm_source=feed'
                    ELSE 'https://' || source || '.Example.COM/page-' || (doc_id // 4) || '/'
                  END AS url
           FROM documents),
         canon AS (
           SELECT doc_id, url,
                  lower(source) || '.example.com/page-' || (doc_id // 4) AS canon
           FROM urls JOIN documents USING (doc_id))
         SELECT canon, count(*) AS n_urls,
                count(DISTINCT url) AS n_forms,
                min(doc_id) AS keep_doc
         FROM canon GROUP BY canon ORDER BY canon"""
  )
}
