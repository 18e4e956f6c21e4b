package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Ckpt, Tables}

/** Similarity search over the embedding column (SURVEY.md §2.10).
  *
  * Brute-force top-k is the correctness baseline: probes × corpus via a
  * dimension-position join, dot products accumulated exactly in
  * order-independent fixed-point longs (Det.sumFixed — a double sum
  * would drift with shuffle order, a decimal sum is exact but
  * BigDecimal-bound). The LSH variant is the 100 TB path: deterministic
  * hyperplane signatures shrink the search to same-bucket candidates,
  * an equi-join on the bucket key instead of a cross product.
  */
object SimOps {
  type Q = (SparkSession, String) => DataFrame

  /** Deterministic hyperplane family for sim_ann_lsh.
    *
    * Weights come from SplitMix64 over (plane, dim) with fixed literal
    * constants (SURVEY §7.4.5: seeded determinism, no Math.random) and
    * are baked into the plan as float ARRAY LITERALS at build time — the
    * per-row cost is Planes codegen'd dot_f kernels, zero hash calls.
    */
  private object Lsh {
    // 32 planes → 8 bands × 4 bits. Band width R and band count B trade
    // recall against candidate volume: recall(pair) = 1-(1-p^R)^B with
    // p = 1 - theta/pi. The synthetic corpus has near-orthogonal true
    // neighbors (cos ≈ 0.35, p ≈ 0.61), where R=8 bands collapse to
    // ~4% recall; R=4/B=8 predicts ~0.70 recall@3 (measured by the
    // OperatorSpec recall floor) at ~N/16-per-band candidate buckets.
    // Real text/image embeddings (near-dup cos ≥ 0.8) support wider
    // R at the same recall — tune R up as similarity concentrates.
    val Planes = 32
    val Bands = 8
    val BandBits = 4
    val BandMask = (1L << BandBits) - 1
    val Dims = 64

    private def splitmix64(x: Long): Long = {
      var z = x + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }

    /** Plane weight in [-1, 1) — identical on every run and JVM. */
    def weight(p: Int, i: Int): Float =
      (((splitmix64(p.toLong * 1024L + i) >>> 11).toDouble
        / (1L << 53).toDouble) * 2.0 - 1.0).toFloat

    private def planeLit(p: Int) =
      array((0 until Dims).map(i => lit(weight(p, i))): _*)

    private def dotF(a: org.apache.spark.sql.Column,
        b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.DotProductF(
          org.apache.spark.sql.GraftSqlBridge.expr(a),
          org.apache.spark.sql.GraftSqlBridge.expr(b)))

    /** Planes-bit sign signature of a float-array embedding column. */
    def signature(embedding: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (0 until Planes).map { p =>
        when(dotF(embedding, planeLit(p)) > 0.0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
  }

  /** PQ geometry: 8 subspaces of 8 dims, 16 codes per subspace. */
  private val PqSubs = 8
  private val PqK = 16
  /** ADC shortlist size the exact re-rank refines — fixed, so stage-2
    * cost is probes×C×dims regardless of corpus size. */
  private val PqShortlist = 150

  /** dedup_semantic cosine threshold. On this synthetic corpus the
    * within-cluster cosine tail tops out at ~0.49 (near-orthogonal
    * vectors), so 0.35 ≈ the p99 "clearly correlated" slice; real text
    * near-dups sit at ≥ 0.9 — tune up as similarity concentrates, the
    * plan is threshold-agnostic. */
  private val SemDedupT = 0.35

  /** sim_range_search radius (cosine): loose enough that every probe
    * batch surfaces neighbors on this near-orthogonal synthetic corpus
    * (pairwise cos σ ≈ 1/√64); production tightens per use case. */
  private val RangeT = 0.2

  /** Round-17 (opt): the greedy loops' per-round 1-row pick frames are
    * eagerly checkpointed ONLY in durable mode. There the loop's
    * `state` generations' files are deleted keep-last-2, so an
    * un-pinned pick (a TakeOrdered over a superseded state generation)
    * would read deleted files; locally the superseded state's
    * localCheckpoint blocks stay alive exactly as long as the lazy
    * pick plan references them, and skipping the eager pin removes one
    * driver-barrier job per round (sample_kcenter 21 → 16 jobs,
    * sim_mmr_rerank 19 → 14 — git show 79d8cf5:OPTIMIZATION_r17.md). */
  private def pinPick(df: DataFrame): DataFrame =
    if (Ckpt.dir(df.sparkSession).isEmpty) df else Ckpt.df(df)

  /** (vec_id, pos, v:double) exploded view of the embedding table. */
  private def exploded(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("label"), col("pos"), col("v").cast(DoubleType).as("v"))

  private def norms(e: DataFrame): DataFrame =
    e.groupBy("vec_id")
      .agg(sqrt(graft.Det.sumFixed(col("v") * col("v"))).as("nrm"))

  val queries: Map[String, Q] = Map(
    "sim_vector_norms" -> ((s, d) => {
      // Vector-hygiene audit — the norm profile an ANN build runs
      // FIRST: zero/degenerate vectors poison cosine math, and a
      // label whose norm range collapses signals an embedding bug.
      // exploded() already carries label, so per-vector norms group on
      // (vec_id, label) with no second join; the LEFT join from the
      // base table then RESURFACES NULL/empty-embedding rows as norm 0
      // — the audit must count the broken vectors, not drop them.
      // min/max fold order-free over 4-dp-rounded values; the mean
      // sums floor-quantized norms as DECIMAL(38,0) — exact,
      // order-independent, and (unlike a fixed-point LONG) safe past
      // 2^23 vectors per label.
      val e = exploded(s, d)
      val nrLab = e.groupBy(col("vec_id"), col("label"))
        .agg(sqrt(graft.Det.sumFixed(col("v") * col("v"))).as("nrm0"))
      val nr = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
        .join(nrLab, Seq("vec_id", "label"), "left")
        .withColumn("nrm", coalesce(col("nrm0"), lit(0.0)))
      nr.groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          round(min(round(col("nrm"), 4)), 4).as("min_norm"),
          round(max(round(col("nrm"), 4)), 4).as("max_norm"),
          round((sum(floor(col("nrm") * lit(1e6)).cast(DecimalType(38, 0)))
              .cast(DoubleType) / lit(1e6))
            / count(lit(1)).cast(DoubleType), 4).as("mean_norm"))
        .orderBy("label")
    }),

    "sim_cosine_topk" -> ((s, d) => {
      // Top-5 cosine neighbors for probe vectors vec_id < 10.
      val e = exploded(s, d)
      val nr = norms(e)
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("a"), col("pos"), col("v").as("va"))
      val dots = broadcast(probes)
        .join(e.select(col("vec_id").as("b"), col("pos"), col("v").as("vb")), "pos")
        .filter(col("a") =!= col("b"))
        .groupBy("a", "b")
        .agg(graft.Det.sumFixed(col("va") * col("vb")).as("dotd"))
      // Per-probe top-5 via the mergeable bounded aggregate (round 10;
      // ord = (-cos, b) replays the window's (cos desc, b) order, rnk =
      // emit position): the brute-force baseline's candidate frame is
      // probes × CORPUS, so the rank window sorted every scored pair
      // through one probe-keyed shuffle — the aggregate ships 5 per
      // probe per partition. The ANN keys bound candidates instead;
      // this keeps the exact baseline scale-sane too.
      dots
        .join(broadcast(nr.select(col("vec_id").as("a"), col("nrm").as("na"))), "a")
        .join(broadcast(nr.select(col("vec_id").as("b"), col("nrm").as("nb"))), "b")
        .withColumn("cos", round(col("dotd") / (col("na") * col("nb")), 4))
        .groupBy(col("a"))
        // coalesce(-cos, +Inf): a zero-norm embedding makes cos NULL
        // (divide-by-zero → null), and a null struct field sorts FIRST
        // ascending — the window this replaced ordered `cos DESC`
        // (NULLS LAST on both Spark and DuckDB). The +Inf sentinel
        // sorts null-cos candidates last, matching the window exactly
        // instead of silently promoting them (round-11 advice fix).
        .agg(expr("bottomk_distinct_by(" +
          "struct(coalesce(-cos, double('Infinity')), b), " +
          "struct(b, cos), 5)").as("ks"))
        .select(col("a"), posexplode(expr("transform(ks, x -> x.payload)")))
        .select(col("a"), col("col.b").as("b"), col("col.cos").as("cos"),
          (col("pos") + 1).cast(IntegerType).as("rnk"))
        .orderBy("a", "rnk")
    }),

    "sim_knn_per_label" -> ((s, d) => {
      // Group-wise kNN: for each probe (vec_id < 5), the single nearest
      // vector of EACH class label — same dot core, label-partitioned
      // ranking window.
      val e = exploded(s, d)
      val nr = norms(e)
      val probes = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("a"), col("pos"), col("v").as("va"))
      val cands = e.select(col("vec_id").as("b"), col("label"), col("pos"),
        col("v").as("vb"))
      val dots = broadcast(probes).join(cands, "pos")
        .filter(col("a") =!= col("b"))
        .groupBy("a", "b", "label")
        .agg(graft.Det.sumFixed(col("va") * col("vb")).as("dotd"))
      // rank-1 per (probe, label) as a codegen'd min_by on (-cos, b)
      // (round 10) — same selection as the old label-partitioned rank
      // window, but the probes × corpus candidate frame folds map-side
      // instead of sorting per group.
      dots
        .join(broadcast(nr.select(col("vec_id").as("a"), col("nrm").as("na"))), "a")
        .join(broadcast(nr.select(col("vec_id").as("b"), col("nrm").as("nb"))), "b")
        .withColumn("cos", round(col("dotd") / (col("na") * col("nb")), 4))
        .groupBy(col("a"), col("label"))
        // Same NULLS-LAST sentinel as sim_cosine_topk: a null cos
        // (zero-norm vector) must lose to every real candidate, as it
        // did under the window's `cos DESC` ordering.
        .agg(min_by(struct(col("b"), col("cos")),
          struct(coalesce(-col("cos"), lit(Double.PositiveInfinity))
            .as("nc"), col("b"))).as("k"))
        .select(col("a"), col("label"), col("k.b").as("b"),
          col("k.cos").as("cos"))
        .orderBy("a", "label")
    }),

    "sim_ann_ivf" -> ((s, d) => {
      // IVF-style ANN with a FIXED-k coarse quantizer: k=64 centroids
      // chosen as the k smallest md5(vec_id) — a deterministic uniform
      // sample whose size is INDEPENDENT of table cardinality (planned
      // as TakeOrderedAndProject: per-partition heap of k, no full
      // sort). md5 rather than xxhash64 so the DuckDB oracle can
      // replicate the exact sample (identical hex strings on both
      // engines); any uniform hash works. The sample then seeds the
      // Lloyd refinement below — production raises k ≈ min(√N, 65536)
      // and the round count; everything downstream is unchanged.
      // Assignment is one broadcast product over the k centroids with a
      // map-side max_by — the ×k expansion collapses BEFORE any shuffle
      // (partial aggregation), so assignment cost is O(N·k) compute and
      // O(N) shuffle bytes: the real IVF shape at 10⁹ vectors.
      val emb = Tables.embeddings(s, d)
      val k = 64
      val cents0 = sampleCentroids(emb, k)
      // Seeded k-means refinement (one Lloyd round): assign every vector
      // to its nearest sampled centroid, replace each centroid with its
      // cluster mean. Means accumulate in order-independent fixed-point
      // (Det.sumFixed) and round through FLOAT so both engines carry
      // bit-identical refined centroids. Cost is one more broadcast
      // assignment pass + a (k×dims)-row aggregate — at 10⁹ vectors the
      // same O(N·k) map-side shape as assignment itself; more rounds
      // repeat this block (converged centroids cut the cross-cluster
      // leakage that costs recall at fixed nprobe).
      val assign0 = coarseAssign(emb, cents0, carryEmb = true)
      val cents = assign0
        .select(col("cluster").as("cent_id"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cent_id"), col("pos"))
        .agg((graft.Det.sumFixed(col("v").cast(DoubleType)) / count(lit(1)))
          .as("m"))
        .groupBy(col("cent_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cent_id"),
          expr("transform(pm, x -> CAST(x.m AS FLOAT))").as("cent_emb"))
      val assigned = coarseAssign(emb, cents, carryEmb = true)
      // Multi-probe (nprobe=28): a probe searches its 28 nearest
      // centroids' inverted lists, not just the argmax one — the
      // standard IVF recall lever (recall@3 ~0.23 at nprobe=1 on this
      // corpus of near-orthogonal synthetic vectors; the OperatorSpec
      // floor pins the improvement). Cost is nprobe/k of the corpus
      // per probe, paid only on the tiny broadcast probe side;
      // corpus-side assignment is unchanged. Real clustered embeddings
      // reach the same recall at much smaller nprobe/k — tune down as
      // similarity concentrates.
      val nprobe = 28
      val pw = Window.partitionBy("a")
        .orderBy(col("cdot").desc, col("cent_id"))
      val probes = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("a"), col("embedding").as("ea"))
        .join(broadcast(cents))
        .withColumn("cdot", expr("dot_f(ea, cent_emb)"))
        .withColumn("pr", row_number().over(pw))
        .filter(col("pr") <= nprobe)
        .select(col("a"), col("ea"), col("cent_id").as("cluster"))
      val cands = assigned.select(col("vec_id").as("b"),
        col("embedding").as("eb"), col("cluster").as("cluster2"))
      // cluster has only k distinct values — broadcast the tiny probe
      // side so the join never shuffles the corpus on a 64-value key.
      // Each candidate b lives in exactly one inverted list, so a pair
      // (a,b) matches at most once — no post-join dedup needed.
      val w = Window.partitionBy("a").orderBy(col("cos").desc, col("b"))
      broadcast(probes)
        .join(cands, col("cluster") === col("cluster2") && col("a") =!= col("b"))
        .withColumn("cos", round(expr("dot_f(ea, eb)"), 4))
        .withColumn("rnk", row_number().over(w).cast(IntegerType))
        .filter(col("rnk") <= 3)
        .select(col("a"), col("cluster"), col("b"), col("cos"), col("rnk"))
        .orderBy("a", "rnk")
    }),

    "sim_kmeans" -> ((s, d) => {
      // Multi-round Lloyd k-means over the embedding corpus (k=8, two
      // mean-update rounds + final assignment) — the semantic-clustering
      // primitive behind corpus stratification, IVF coarse-quantizer
      // training (sim_ann_ivf embeds ONE of these rounds), and
      // diversity-aware sampling. Output is the cluster profile
      // (size + inertia), the convergence signal a training pipeline
      // monitors per round. Every round is the same two shuffles:
      // assignment = the two-level coarse route (broadcast ⌈√k⌉ coarse
      // cells + the probed cells' fine centers, collapsed map-side —
      // O(N·√k) compute, O(N) shuffle bytes; see assignTwoLevel),
      // means = one (cluster, pos)-keyed aggregate — no driver-side
      // state, rounds are a fixed unrolled count exactly like
      // PageRank's. Determinism:
      // distances come from the native l2fx expression — per-TERM
      // floored fixed-point LONG sums, order-free AND codegen'd (the
      // DotProductF rationale, but for argmin: an integer distance can
      // never flip a tie on a last-ulp float difference) — and means
      // round-trip through FLOAT so both engines carry bit-identical
      // centroids into the next round.
      kmeansAssignedStored(s, d)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("d2l")).cast(DoubleType) / graft.Det.FixedPoint, 4)
            .as("inertia"))
        .orderBy("cluster")
    }),

    "dedup_semantic" -> ((s, d) => {
      // Full-corpus semantic dedup — the SemDeDup production shape:
      // cluster the embedding corpus (the sim_kmeans two-round Lloyd,
      // shared via kmeansAssigned so labels can never drift), then
      // generate candidate pairs ONLY within each cluster and keep
      // those above the cosine threshold. Bucketed, not all-pairs:
      // the pair join is (cluster, pos)-keyed, so cost is
      // Σ_c |c|²·d/2 instead of N²·d — and at 100 TB k scales with N
      // (N/k vectors per cluster held constant) so per-cluster pair
      // generation stays bounded while clusters process in parallel.
      // Dedup semantics: a surviving pair (a, b) marks b as a's
      // near-duplicate; the keep-min-representative / transitive
      // closure over these pairs is exactly what dedup_components +
      // dedup_apply consume. Determinism: the exact order-independent
      // fixed-point dot path for both norms and dots — here via the
      // native dotfx kernel (per-TERM floored longs, the array form of
      // Det.sumFixed), so the threshold compare can never flip engines
      // at the boundary AND the pair join stays on COMPACT arrays: one
      // cluster-keyed equi-join producing Σ|c|²/2 rows, each scored by
      // a codegen'd 64-step loop — no 64× position explosion through
      // the shuffle (an earlier exploded formulation moved ~100M rows
      // at sf0.1 for the same answer; this moves ~1.5M).
      val asg = kmeansAssignedStored(s, d)
        .withColumn("nrm", sqrt(expr("dotfx(embedding, embedding)")
          .cast(DoubleType) / graft.Det.FixedPoint))
      val lhs = asg.select(col("cluster"), col("vec_id").as("a"),
        col("embedding").as("ea"), col("nrm").as("na"))
      val rhs = asg.select(col("cluster").as("clb"), col("vec_id").as("b"),
        col("embedding").as("eb"), col("nrm").as("nb"))
      lhs.join(rhs, col("cluster") === col("clb") && col("a") < col("b"))
        .withColumn("cos", round((expr("dotfx(ea, eb)").cast(DoubleType)
          / graft.Det.FixedPoint) / (col("na") * col("nb")), 4))
        .filter(col("cos") >= SemDedupT)
        .select(col("a"), col("b"), col("cluster"), col("cos"))
        .orderBy("a", "b")
    }),

    "dedup_semantic_apply" -> ((s, d) => {
      // The APPLIED semantic dedup — the corpus a training run reads:
      // drop every vector that is the higher-id side of a surviving
      // near-dup pair (greedy keep-lowest-id; transitive closure =
      // dedup_components + dedup_apply over these pairs). One
      // broadcast-able left-anti join against the pair table's b side,
      // which at 100 TB is the rare-duplicate slice, orders of
      // magnitude smaller than the corpus — the dedup_apply shape.
      val drop = queries("dedup_semantic")(s, d)
        .select(col("b").as("vec_id")).distinct()
      Tables.embeddings(s, d)
        .join(drop, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("label"))
        .orderBy("vec_id")
    }),

    "sim_range_search" -> ((s, d) => {
      // IVF-bucketed RADIUS search — the query-serving dual of
      // dedup_semantic: for a probe batch, return EVERY corpus vector
      // with cosine ≥ τ, not a fixed top-k (the retrieval primitive
      // behind "find all passages this similar"). Buckets come from
      // the stored k-means assignment (the shared snapshot artifact);
      // each probe scans its nprobe=3 nearest clusters' inverted
      // lists — recall follows the IVF geometry (multiprobe is the
      // recall lever, same as sim_ann_ivf's nprobe=28/64), candidates
      // are nprobe/k of the corpus per probe, and the probe side is
      // broadcast so the corpus never shuffles on the tiny cluster
      // key. Probe-to-cluster ranking uses the FLOAT-rounded means of
      // the stored assignment (cev3 in the oracle) — exact fixed-point
      // L2, (d2l, cent_id) total order. The cosine filter runs the
      // dedup_semantic dotfx/norm path, so no candidate can flip
      // engines at the τ boundary.
      val asg = kmeansAssignedStored(s, d)
        .withColumn("nrm", sqrt(expr("dotfx(embedding, embedding)")
          .cast(DoubleType) / graft.Det.FixedPoint))
      val cents = clusterMeans(asg)
      val pw = Window.partitionBy("a").orderBy(col("d2c"), col("cent_id"))
      val probes = asg.filter(col("vec_id") < 10)
        .select(col("vec_id").as("a"), col("embedding").as("ea"),
          col("nrm").as("na"))
        .join(broadcast(cents))
        .withColumn("d2c", expr("l2fx(ea, cent_emb)"))
        .withColumn("pr", row_number().over(pw))
        .filter(col("pr") <= 3)
        .select(col("a"), col("ea"), col("na"), col("cent_id").as("cl"))
      val cands = asg.select(col("cluster").as("clb"), col("vec_id").as("b"),
        col("embedding").as("eb"), col("nrm").as("nb"))
      broadcast(probes)
        .join(cands, col("cl") === col("clb") && col("a") =!= col("b"))
        .withColumn("cos", round((expr("dotfx(ea, eb)").cast(DoubleType)
          / graft.Det.FixedPoint) / (col("na") * col("nb")), 4))
        .filter(col("cos") >= RangeT)
        .select(col("a"), col("b"), col("cl").as("cluster"), col("cos"))
        .orderBy("a", "b")
    }),

    "sim_ann_lsh" -> ((s, d) => {
      // Banded multi-table LSH, the scale path: 32 deterministic
      // hyperplanes (SplitMix64 of (plane,dim), fixed literal seed)
      // give a 32-bit sign signature, split into 8 bands × 4 bits.
      // Candidates must agree on at least one FULL band (band-OR):
      // per-band buckets stay selective while independent tables
      // recover the recall a single wider code would lose (band
      // geometry rationale at the Lsh object).
      //
      // The plane matrix is materialized ONCE, driver-side, as float
      // literal arrays — the plan carries constants and each sign bit is
      // one codegen'd dot_f over the row; nothing recomputes weights or
      // hashes per row (the round-1 version burned a per-row xxhash64
      // per plane×dim on the interpreted HOF path).
      val emb = Tables.embeddings(s, d)
      val bucketed = emb.withColumn("sig", Lsh.signature(col("embedding")))
        .select(col("vec_id"), col("embedding"),
          explode(array((0 until Lsh.Bands).map { bd =>
            struct(lit(bd).as("band"),
              shiftright(col("sig"), Lsh.BandBits * bd)
                .bitwiseAND(lit(Lsh.BandMask)).as("bucket"))
          }: _*)).as("bb"))
        .select(col("vec_id"), col("embedding"),
          col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      // Multiprobe: each probe also searches the Hamming-radius-1
      // neighborhood of its band bucket (bucket XOR one flipped bit).
      // Per-band match probability rises from p^R to p^R + R·p^(R-1)(1-p)
      // — on this corpus (p ≈ 0.61) that is 0.14 → 0.50 per band, ~0.99
      // across 8 bands — while the corpus-side candidate lists are
      // untouched: the ×(1+BandBits) expansion is paid ONLY on the tiny
      // broadcast probe side, the standard query-directed-probing trade.
      val flips = (lit(0L) +: (0 until Lsh.BandBits).map(j => lit(1L << j)))
      val probes = bucketed.filter(col("vec_id") < 20)
        .select(col("vec_id").as("a"), col("embedding").as("ea"), col("band"),
          explode(array(flips.map(f => col("bucket").bitwiseXOR(f)): _*))
            .as("bucket"))
      val cands = bucketed
        .select(col("vec_id").as("b"), col("embedding").as("eb"),
          col("band").as("band2"), col("bucket").as("bucket2"))
      // Probe side is tiny and the (band,bucket) key space is small →
      // broadcast probes; score per band-match, then collapse the ≤2
      // duplicate pairs (same pair found in both bands) with a map-side
      // max (cos is identical across bands).
      val w = Window.partitionBy("a").orderBy(col("cos").desc, col("b"))
      broadcast(probes)
        .join(cands, col("band") === col("band2")
          && col("bucket") === col("bucket2") && col("a") =!= col("b"))
        .withColumn("cos", round(expr("dot_f(ea, eb)"), 4))
        .groupBy(col("a"), col("b")).agg(max(col("cos")).as("cos"))
        .withColumn("rnk", row_number().over(w).cast(IntegerType))
        .filter(col("rnk") <= 3)
        .select(col("a"), col("b"), col("cos"), col("rnk"))
        .orderBy("a", "rnk")
    }),

    "sim_pq_quantize" -> ((s, d) =>
      // Product quantization (PQ) — the vector-COMPRESSION half of a
      // planet-scale similarity index (IVF partitions the corpus,
      // PQ shrinks what each list stores). Shared core at pqCodes;
      // etl_ann_index composes it with the coarse quantizer.
      pqCodes(s, d).orderBy("vec_id")),

    "sim_pq_search" -> ((s, d) => {
      // PQ search in the production shape: ADC shortlist, then exact
      // re-rank. Stage 1 scans ONLY the compressed code table — per
      // probe (vec_id < 10) an 8-sub × 16-code fixed-point lookup
      // table (the same pqSubDists kernel as the encoder) is built and
      // BROADCAST, so approximate distance is a pure equi-join + sum:
      // probes×N×8 rows collapse map-side to probes×N before the one
      // (probe, vec) shuffle, and a ranking window keeps the top
      // C=150 candidates. Stage 2 fetches full-precision vectors for
      // ONLY those candidates (probes×C×64 values — independent of
      // corpus size N) and emits the exact-L2 top-5. Measured recall@5
      // vs brute force with the Lloyd-trained codebook (pqCents): 0.86
      // at sf0.001, 0.88 at sf0.01 (0.80 before training; OperatorSpec
      // floor 0.85), while raw ADC top-5 without the refine step
      // retrieves ~0.08 — which is why production PQ always re-ranks.
      // All distance arithmetic is exact fixed-point longs, so ranks
      // and ties (broken by vec_id) are order-independent.
      val emb = Tables.embeddings(s, d)
      val probes = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("id"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
      val lut = pqSubDists(probes, pqCentsStored(s, d))
        .select(col("id").as("a"), col("sub"), col("code"), col("d2l"))
      val codes = pqSubCodesStored(s, d)
        .select(col("vec_id").as("b"), col("sub"), col("bcode"))
      val adc = codes.join(broadcast(lut),
          codes("sub") === lut("sub") && codes("bcode") === lut("code"))
        .filter(col("b") =!= col("a"))
        .groupBy(col("a"), col("b"))
        .agg(sum(col("d2l")).as("adcl"))
      val wS = Window.partitionBy("a").orderBy(col("adcl"), col("b"))
      val shortlist = adc.withColumn("srnk", row_number().over(wS))
        .filter(col("srnk") <= PqShortlist).select("a", "b")
      val ea = probes.select(col("id").as("a"), col("pos"),
        col("v").cast(DoubleType).as("va"))
      val eb = emb.select(col("vec_id").as("b"),
          posexplode(col("embedding")).as(Seq("pos", "vb")))
        .select(col("b"), col("pos"), col("vb").cast(DoubleType).as("vb"))
      val exact = broadcast(shortlist.join(ea, "a")).join(eb, Seq("b", "pos"))
        .withColumn("dd", col("va") - col("vb"))
        .groupBy(col("a"), col("b"))
        .agg(sum(floor(col("dd") * col("dd") * graft.Det.FixedPoint)
          .cast(LongType)).as("l2l"))
      val w = Window.partitionBy("a").orderBy(col("l2l"), col("b"))
      exact.withColumn("rnk", row_number().over(w).cast(IntegerType))
        .filter(col("rnk") <= 5)
        .select(col("a"), col("b"),
          round(col("l2l").cast(DoubleType) / graft.Det.FixedPoint, 4).as("l2"),
          col("rnk"))
        .orderBy("a", "rnk")
    }),

    "etl_ann_index" -> ((s, d) => {
      // Composed ANN-INDEX BUILD — the vector-side "product" pipeline
      // (etl_wikidata_pg for dumps, etl_corpus_curate for text,
      // etl_user_features for events, this for embeddings): per vector,
      // the coarse IVF cluster (inverted-list id, argmax dot over the
      // k=64 md5-sampled centroids — sim_ann_ivf's assign0 stage;
      // production inserts the Lloyd refinement there) AND the 8-byte
      // PQ code + reconstruction error, in ONE plan. This row set IS
      // what a 10⁹-vector index persists: search = pick lists by
      // cluster, score candidates by PQ code. Both centroid tables
      // broadcast; both ×k expansions collapse map-side before their
      // single shuffles; the final join co-partitions on vec_id.
      val emb = Tables.embeddings(s, d)
      val assigned =
        coarseAssign(emb, sampleCentroids(emb, 64), carryEmb = false)
      assigned.join(pqCodes(s, d), "vec_id")
        .select(col("vec_id"), col("cluster"), col("pq_code"), col("recon_err"))
        .orderBy("vec_id")
    }),

    "sim_pca_power" -> ((s, d) => {
      // Distributed PCA by the power method — the whitening /
      // dimensionality-reduction primitive an embedding pipeline runs
      // before indexing (and the diagnostic behind "is this corpus
      // collapsing to a low-rank subspace"). Two-phase shape, and only
      // phase 1 ever touches the data:
      //   1. COVARIANCE: one pass over the corpus emits the upper
      //      triangle of Σ v·vᵀ per row (a slice-chained generator pair
      //      — d + d(d+1)/2 rows per vector, never a self-join, never a
      //      shuffle of raw vectors) and partial-aggregates map-side,
      //      so at most 2 080 fixed-point longs per partition cross the
      //      one shuffle REGARDLESS of corpus size. That is the
      //      treeAggregate(vvᵀ) shape scaled to 100 TB. (At sf0.1 the
      //      long sums peak ≪ 2⁶² — |c|≤1.2 here; a 10¹² -row corpus
      //      re-scales FixedPoint by 2⁻¹⁰ to keep the same headroom.)
      //   2. POWER ITERATION: five unrolled v ← C·v / ‖C·v‖ rounds on
      //      the d×d = 4 096-row covariance frame — corpus-size-
      //      independent, the Lloyd-rounds discipline (fixed count so
      //      the oracle replays it; convergence-gated variants follow
      //      the GraphOps.Convergence pattern). Five rounds reach 87%
      //      of λ₁ on the flattest fixture spectrum (λ₂/λ₁ ≈ 0.93 at
      //      sf0.001); OperatorSpec pins a 0.8 floor and the λ₁ upper
      //      bound against a converged replay.
      // Determinism: the mean and every covariance cell round through
      // FLOAT (the clusterMeans/cev idiom) so both engines iterate
      // bit-identical matrices; every contraction (C·v, ‖w‖², vᵀCv) is
      // an order-free floored fixed-point LONG sum; the one division
      // per round (w/‖w‖) is the same IEEE op on identical doubles,
      // FLOAT-rounded before the next round. Output: per-dimension
      // mean, top-eigenvector loading, and the shared Rayleigh
      // eigenvalue estimate.
      val fx = graft.Det.FixedPoint
      val emb = Tables.embeddings(s, d)
      val nDf = emb.agg(count(lit(1)).as("nn"))
      val ev = emb.select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("p0", "v")))
        .select((col("p0") + 1).cast(LongType).as("pos"),
          col("v").cast(DoubleType).as("v"))
      val mu = ev.groupBy("pos")
        .agg((graft.Det.sumFixed(col("v")) / count(lit(1)))
          .cast(FloatType).cast(DoubleType).as("mu"))
      val muArr = mu
        .agg(expr("transform(array_sort(collect_list(struct(pos, mu)))," +
          " x -> x.mu)").as("muv"))
      val cent = emb.join(broadcast(muArr))
        .select(expr("zip_with(embedding, muv," +
          " (v, m) -> CAST(v AS DOUBLE) - m)").as("cvec"))
      // Upper triangle via slice: element i pairs with elements i..d,
      // so (i, j = i + dj) enumerates i ≤ j exactly once — half the
      // generator output of a full cross, no post-filter.
      val pairs = cent
        .select(posexplode(col("cvec")).as(Seq("i0", "ci")), col("cvec"))
        .select((col("i0") + 1).cast(LongType).as("i"), col("ci"),
          posexplode(expr("slice(cvec, i0 + 1, 64)")).as(Seq("dj", "cj")))
      val covU = pairs
        .groupBy(col("i"), (col("i") + col("dj")).cast(LongType).as("j"))
        .agg(sum(floor(col("ci") * col("cj") * fx)).as("sl"))
      val cov = covU.join(broadcast(nDf))
        .select(col("i"), col("j"),
          ((col("sl").cast(DoubleType) / fx) / col("nn"))
            .cast(FloatType).cast(DoubleType).as("cval"))
      // Round-17 (opt): the five power-iteration rounds and the
      // Rayleigh contraction run inside ONE projection over a
      // single-row array image of the d×d matrix, replacing 5 rounds ×
      // (broadcast + agg + eager checkpoint) jobs over a 4096-row frame
      // (41 jobs → ~9 measured; git show 79d8cf5:OPTIMIZATION_r17.md). The matrix is
      // corpus-size-independent (64×64 — only the covariance pass above
      // touches the corpus), so one-task evaluation IS the production
      // shape (the step a driver hands to LAPACK). The arithmetic is
      // replayed TERM FOR TERM: per-cell floor((c·v)·2⁴⁰) LONG sums,
      // the same double divisions, the same per-round FLOAT rounding —
      // bit-identical output, oracle unchanged. Intermediates (w, ‖w‖,
      // v_k) are LET-BOUND via 1-element transform() arrays so nothing
      // re-inlines; HOFs are CodegenFallback, irrelevant on one row.
      // (The old covFull checkpoint existed only because each round
      // referenced its input twice — with the rounds fused into one
      // expression there is nothing left to truncate.)
      val cmRow = cov.unionAll(
          cov.filter(col("i") < col("j"))
            .select(col("j").as("i"), col("i").as("j"), col("cval")))
        .agg(expr("transform(array_sort(collect_list(struct(i, j, cval)))," +
          " x -> x.cval)").as("cm"))
      val fxD = "1099511627776.0" // 2^40, the ZipfSums literal
      // one power step over a bound vector expression: w = C·v (LONG
      // fixed-point row sums, ascending j — order-free), then
      // float-round(w / ‖w‖); each lambda var is evaluated once
      def stepExpr(v: String): String = {
        // the INCOMING vector is let-bound first (vb): without that
        // binding it would sit inside the row-sum lambda and be
        // re-evaluated per (i, j) cell — 4096^round blowup (measured
        // the hard way this round: a single row hung for minutes)
        val w = s"transform(sequence(1, 64), i -> CAST(aggregate(" +
          s"sequence(1, 64), CAST(0 AS BIGINT), (acc, j) -> acc + " +
          s"floor(element_at(cm, (i - 1) * 64 + j) * element_at(vb, j)" +
          s" * $fxD)) AS DOUBLE) / $fxD)"
        val nr = s"sqrt(CAST(aggregate(wa, CAST(0 AS BIGINT), " +
          s"(acc, x) -> acc + floor(x * x * $fxD)) AS DOUBLE) / $fxD)"
        s"element_at(transform(array($v), vb -> " +
          s"element_at(transform(array($w), wa -> " +
          s"element_at(transform(array($nr), nr -> " +
          s"transform(wa, x -> CAST(CAST(x / nr AS FLOAT) AS DOUBLE))" +
          s"), 1)), 1)), 1)"
      }
      val v0 = "array_repeat(CAST(0.125 AS DOUBLE), 64)" // 64·(1/8)² = 1
      val v5 = (1 to 5).foldLeft(v0)((v, _) => stepExpr(v))
      // Rayleigh vᵀCv over the SAME full-matrix cell order as the old
      // covFull sum (both triangles, diagonal once; ((vᵢ·c)·vⱼ)·2⁴⁰
      // floored per cell, LONG total)
      val eig = s"CAST(aggregate(sequence(1, 4096), CAST(0 AS BIGINT), " +
        s"(acc, k) -> acc + floor(element_at(va, CAST((k - 1) div 64 AS INT)" +
        s" + 1) * element_at(cm, k) * element_at(va, CAST((k - 1) % 64 AS " +
        s"INT) + 1) * $fxD)) AS DOUBLE) / $fxD"
      val solved = cmRow.select(expr(
        s"element_at(transform(array($v5), va -> " +
          s"struct(va AS v5, $eig AS eig)), 1)").as("r"))
      solved.crossJoin(broadcast(muArr))
        .select(posexplode(expr("arrays_zip(muv, r.v5)")).as(Seq("p0", "z")),
          col("r.eig").as("eig"))
        .select((col("p0") + 1).cast(LongType).as("pos"),
          round(col("z.muv"), 6).as("mu"),
          round(col("z.v5"), 6).as("loading"),
          round(col("eig"), 6).as("eigval"))
        .orderBy("pos")
    }),

    "sample_kcenter" -> ((s, d) => {
      // Greedy k-center (farthest-point) selection — DIVERSITY
      // sampling for training data: pick the corpus point farthest
      // from everything chosen so far, 2-approximation to the optimal
      // cover. The streaming form keeps one LONG per vector: each
      // round only measures distance to the ONE new center (broadcast,
      // 1 row) and folds it with least() — O(k·N·d) total, one
      // map-only pass per round, no pairwise anything. Per-round
      // localCheckpoint (the PCA/BPE lesson — each round reads its
      // predecessor once here, but the argmax reads it too).
      // Determinism: exact per-term fixed-point l2fx distances, argmax
      // by the (mindl DESC, vec_id) total order, seed by smallest
      // md5(vec_id). Output: selection order with each center's
      // distance-to-set (nonincreasing — the spec pins it) and the
      // final coverage radius of the whole corpus.
      val fx = graft.Det.FixedPoint
      val emb = Tables.embeddings(s, d)
      val c0 = emb
        .orderBy(md5(col("vec_id").cast(StringType)), col("vec_id"))
        .limit(1)
        .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
      // `state` is the one evolving frame — a Ckpt.loop generation
      // (keep-last-2 file hygiene). `center` is pinned via pinPick:
      // eagerly checkpointed in durable mode only (its files must
      // outlive the state generations the lazily-accumulated `rules`
      // union reads through), lazy locally (see pinPick).
      val ckS = Ckpt.loop(s)
      var state = ckS.df(emb.crossJoin(broadcast(c0))
        .select(col("vec_id"), col("embedding"),
          expr("l2fx(embedding, cemb)").as("mindl")))
      val radius = round(sqrt(col("mindl").cast(DoubleType) / fx), 6)
      var rules = c0.select(lit(0).as("rnd"), col("cid").as("center_id"),
        lit(null).cast(DoubleType).as("radius"))
      for (r <- 1 to 5) {
        val center = pinPick(state
          .orderBy(col("mindl").desc, col("vec_id")).limit(1)
          .select(col("vec_id").as("cid"), col("embedding").as("cemb"),
            col("mindl")))
        rules = rules.unionAll(center.select(lit(r).as("rnd"),
          col("cid").as("center_id"), radius.as("radius")))
        state = ckS.df(state
          .crossJoin(broadcast(center.select("cid", "cemb")))
          .select(col("vec_id"), col("embedding"),
            least(col("mindl"), expr("l2fx(embedding, cemb)")).as("mindl")))
      }
      val cov = state.agg(max(col("mindl")).as("mindl"))
        .select(radius.as("coverage"))
      rules.crossJoin(broadcast(cov)).orderBy("rnd")
    }),

    "sim_nearest_centroid" -> ((s, d) => {
      // Nearest-centroid classification + confusion matrix — the
      // label-quality report every embedding pipeline runs ("do the
      // labels live in separable regions"). Train: per-label
      // FLOAT-rounded fixed-point mean vectors (the clusterMeans
      // discipline, one (label, pos) aggregate). Classify: broadcast
      // the k centroids, exact l2fx argmin with the (d2l, label)
      // total order — the coarseAssign shape, O(N·k) map-side.
      // Output: the confusion matrix (true × predicted counts) with
      // overall resubstitution accuracy as a shared column. At 100 TB
      // this is one scan + one output-sized aggregate; a held-out
      // variant swaps in the split_train_test buckets.
      val emb = Tables.embeddings(s, d)
      val cents = emb.select(col("label"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label").as("clab"), col("pos"))
        .agg((graft.Det.sumFixed(col("v").cast(DoubleType))
          / count(lit(1))).as("m"))
        .groupBy(col("clab"))
        .agg(expr("array_sort(collect_list(struct(pos, m)))").as("pm"))
        .select(col("clab"),
          expr("transform(pm, x -> CAST(x.m AS FLOAT))").as("cemb"))
      val pred = emb.join(broadcast(cents))
        .withColumn("d2l", expr("l2fx(embedding, cemb)"))
        .groupBy(col("vec_id"))
        .agg(first(col("label")).as("label"),
          expr("min_by(clab, struct(d2l, clab))").as("pred"))
      val conf = pred.groupBy("label", "pred")
        .agg(count(lit(1)).as("n"))
      val acc = pred.agg(
        round(sum(when(col("label") === col("pred"), 1L).otherwise(0L))
          .cast(DoubleType) / count(lit(1)), 4).as("accuracy"))
      conf.crossJoin(broadcast(acc))
        .orderBy("label", "pred")
    }),

    "sim_mmr_rerank" -> ((s, d) => {
      // Maximal-Marginal-Relevance re-ranking — the search-result
      // diversifier: greedily pick 5 of the top-20 candidates
      // maximizing λ·relevance − (1−λ)·max-similarity-to-already-
      // picked (λ = 0.7), so near-duplicate hits stop crowding the
      // page. Same streaming-state shape as sample_kcenter: the
      // candidate frame keeps ONE redundancy scalar per row, each
      // round folds in similarity to the single new pick (broadcast,
      // 1 row) with greatest(), and the argmax runs on the
      // (score DESC, vec_id) total order. Candidate generation is the
      // brute top-20 here; at scale it is any ANN key's output — MMR
      // only ever touches the candidate page, so its cost is
      // O(k·page), independent of corpus size. Determinism: cosines
      // via the fixed-point dotfx chain rounded to 4 dp before any
      // compare; scores are one IEEE expression on rounded inputs.
      // Semantics note: redundancy FLOORS AT 0 (the greatest() fold
      // starts from 0.0) — an anti-correlated candidate earns no
      // diversity bonus. Textbook MMR allows negative redundancy;
      // the floored variant is the common production choice because
      // it never rewards adversarially-inverted embeddings. The spec
      // replays exactly this variant.
      val fx = graft.Det.FixedPoint
      val emb = Tables.embeddings(s, d)
        .withColumn("nrm", sqrt(expr("dotfx(embedding, embedding)")
          .cast(DoubleType) / fx))
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"), col("nrm").as("qn"))
      val ckM = Ckpt.loop(s)
      var state = emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .withColumn("rel", round((expr("dotfx(embedding, qe)")
          .cast(DoubleType) / fx) / (col("nrm") * col("qn")), 4))
        .orderBy(col("rel").desc, col("vec_id")).limit(20)
        .select(col("vec_id"), col("embedding"), col("nrm"), col("rel"),
          lit(0.0).as("red"))
        // `state` is the loop's evolving frame (keep-last-2); `pick` goes
        // through pinPick — durable-only eager checkpoint (each
        // round's rule row is lazily unioned into the result, keeping
        // old pick files referenced there), lazy locally
        .transform(f => ckM.df(f))
      var rules: DataFrame = null
      for (r <- 1 to 5) {
        val pick = pinPick(state
          .withColumn("score",
            lit(0.7) * col("rel") - lit(0.3) * col("red"))
          .orderBy(col("score").desc, col("vec_id")).limit(1))
        val rule = pick.select(lit(r).as("rank"),
          col("vec_id"), col("rel"), round(col("red"), 4).as("red"),
          round(col("score"), 6).as("score"))
        rules = if (rules == null) rule else rules.unionAll(rule)
        val pb = pick.select(col("vec_id").as("pid"),
          col("embedding").as("pe"), col("nrm").as("pn"))
        state = state.crossJoin(broadcast(pb))
          .filter(col("vec_id") =!= col("pid"))
          .withColumn("red", greatest(col("red"),
            round((expr("dotfx(embedding, pe)").cast(DoubleType) / fx)
              / (col("nrm") * col("pn")), 4)))
          .select(col("vec_id"), col("embedding"), col("nrm"),
            col("rel"), col("red"))
          .transform(f => ckM.df(f))
      }
      rules.orderBy("rank")
    })
  )

  /** Final (vec_id, cluster, d2l, embedding) assignment of the
    * two-round Lloyd pipeline (k = max(8, ⌊√(N/31.25)⌋) seed → assign/means ×2) —
    * the ONE k-means implementation shared by sim_kmeans (profile) and
    * dedup_semantic (SemDeDup bucketing), so their cluster labels can
    * never drift apart.
    *
    * Shape per round: nearest centroid by exact fixed-point squared L2
    * (min_by over a (d2l, cent_id) total order) with the k centroids
    * broadcast — the ×k candidate expansion collapses map-side before
    * the one N-row shuffle; means are FLOAT-rounded fixed-point sums
    * (the sim_ann_ivf cev discipline) so both engines carry
    * bit-identical centroids into the next round. */
  /** Two-level (coarse-quantizer) nearest-centroid assignment — the
    * DECLARED path since round 9 (`spark.graft.kmeans.coarseAssign=
    * false` falls back to the exact broadcast scan): route each vector
    * to its top-2 nearest of ⌈√k⌉ coarse cells (the md5-smallest fine
    * centers), then scan only those cells' fine centers — O(N·√k·d)
    * per round instead of O(N·k·d), the IVF tree idea applied to the
    * assignment itself. APPROXIMATE relative to exact k-means (a
    * vector whose true center sits outside both probed coarse cells
    * mis-assigns — classic quantizer loss, bounded in OperatorSpec by
    * label-agreement and inertia-ratio floors against the exact
    * fallback), but fully DETERMINISTIC and REPLAYED BY THE ORACLE
    * verbatim (kmAssign routes identically in DuckDB), so declared
    * correctness is exact-by-construction: the gate hashes the same
    * algorithm in both engines. Scale honesty: at toy k (√N keeps
    * driver fixtures at k = 8, nc = 3) the rung is ~parity — the √k
    * saving wins when k reaches the thousands (nc = 64, nprobe 2 →
    * ~20× fewer fine evaluations), which is why it is the declared
    * 100 TB shape. */
  private def assignTwoLevel(emb: DataFrame, cents: DataFrame)
      : DataFrame = {
    // Pin the (tiny) centroid frame once: its lineage after round 1
    // contains the whole previous assign+means pipeline, and this
    // method reads it four times (count, coarse, centMap, and via
    // carr) — without truncation the corpus-sized assignment would
    // re-execute per read, defeating the rung's purpose.
    val cs = Ckpt.df(cents)
    val nc = math.ceil(math.sqrt(cs.count().toDouble)).toInt
    val coarse = cs
      .orderBy(md5(col("cent_id").cast(StringType)), col("cent_id"))
      .limit(nc)
      .select(col("cent_id").as("coarse_id"),
        col("cent_emb").as("coarse_emb"))
    val centMap = cs.join(broadcast(coarse))
      .withColumn("d2c", expr("l2fx(cent_emb, coarse_emb)"))
      .groupBy(col("cent_id"))
      .agg(expr("min_by(coarse_id, struct(d2c, coarse_id))")
        .as("coarse_id"),
        first(col("cent_emb")).as("cent_emb"))
    // MULTIPROBE routing (nprobe = 2): high-dim distances concentrate,
    // so the single nearest coarse cell often misses the true center's
    // cell — scanning the TWO nearest cells is the standard IVF recall
    // lever (sim_ann_ivf's nprobe, applied to assignment), keeping the
    // round at O(N·2√k·d). The top-2 selection happens MAP-SIDE: the
    // √k coarse cells travel as ONE broadcast array and each row sorts
    // its own (distance, id) structs — a row_number window here would
    // shuffle the full N·√k expansion, which is precisely the cost the
    // exact path's partial-aggregated min_by never pays.
    // Probe only LIVE cells (cells that actually own ≥1 fine center):
    // duplicated embeddings can route two coarse seeds' members to one
    // cell via the min_by tiebreak, leaving the other cell empty — a
    // vector probing two empty cells would silently VANISH through the
    // inner centMap join. Restricting the probe array to live cells
    // guarantees every probe finds candidates, so the assignment stays
    // total.
    val carr = coarse
      .join(centMap.select(col("coarse_id")).distinct(), "coarse_id")
      .agg(expr("array_sort(collect_list(struct(coarse_id, coarse_emb)))")
        .as("carr"))
    emb.crossJoin(broadcast(carr))
      .select(col("vec_id"), col("embedding"),
        explode(expr(
          "slice(array_sort(transform(carr," +
            " c -> struct(l2fx(embedding, c.coarse_emb) AS d," +
            " c.coarse_id AS id))), 1, 2).id")).as("coarse_id"))
      .join(broadcast(centMap), "coarse_id")
      .withColumn("d2l", expr("l2fx(embedding, cent_emb)"))
      .groupBy(col("vec_id"))
      .agg(expr("min_by(cent_id, struct(d2l, cent_id))").as("cluster"),
        min(col("d2l")).as("d2l"),
        first(col("embedding")).as("embedding"))
  }

  private def kmeansAssigned(s: SparkSession, emb: DataFrame): DataFrame = {
    // Round 9: the two-level coarse assignment IS the declared path —
    // the oracle replays its routing exactly (see kmAssign), so the
    // O(N·√k·d) rung no longer trades replayability for scale. Setting
    // spark.graft.kmeans.coarseAssign=false falls back to the exact
    // O(N·k·d) broadcast scan (kept as the quantizer-loss reference:
    // OperatorSpec bounds the two paths against each other).
    val exactGate = s.conf
      .getOption("spark.graft.kmeans.coarseAssign").contains("false")
    def assign(cents: DataFrame): DataFrame =
      if (!exactGate) assignTwoLevel(emb, cents)
      else emb.join(broadcast(cents))
        .withColumn("d2l", expr("l2fx(embedding, cent_emb)"))
        .groupBy(col("vec_id"))
        .agg(expr("min_by(cent_id, struct(d2l, cent_id))").as("cluster"),
          min(col("d2l")).as("d2l"),
          first(col("embedding")).as("embedding"))
    // k SCALES AS √N (k = max(8, ⌊√(N/31.25)⌋)) — the BALANCED choice
    // for this two-phase shape, found by measuring, twice:
    //  - fixed k=8: within-cluster pairs grow (N/k)² per cluster —
    //    dedup_semantic ran 16× for 10× data (sf0.1→sf1);
    //  - k ∝ N (constant cluster size): pairs go linear but the Lloyd
    //    ASSIGNMENT is O(N·k·d) = O(N²d) — the sf1→sf3 exponent
    //    measured 1.97;
    //  - k ∝ √N: pairs O(N^1.5·d), and with the two-level coarse
    //    assignment (the declared path since round 9) the Lloyd
    //    rounds drop to O(N·√k·d) = O(N^1.25·d) — the oracle replays
    //    the routing verbatim, so the rung costs no replayability.
    // Every driver fixture still lands on k = 8 exactly (N = 2000 →
    // √(2000/31.25) = √64 = 8; smaller N floors at 8), so declared
    // outputs are unchanged. The oracle derives the SAME k via
    // greatest(8, CAST(floor(sqrt(count(*) / 31.25)) AS BIGINT)) —
    // one IEEE sqrt/floor on the same integer, engine-identical.
    val k = math.max(8L,
      math.floor(math.sqrt(emb.count().toDouble / 31.25)).toLong).toInt
    val c1 = clusterMeans(assign(sampleCentroids(emb, k)))
    val c2 = clusterMeans(assign(c1))
    assign(c2)
  }

  /** FLOAT-rounded fixed-point cluster means of an assignment frame
    * (cluster, embedding) — the kmMeans twin, shared by the Lloyd
    * rounds and sim_range_search's probe quantizer. */
  private def clusterMeans(asg: DataFrame): DataFrame =
    asg.select(col("cluster"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("cluster").as("cent_id"), col("pos"))
      .agg((graft.Det.sumFixed(col("v").cast(DoubleType)) / count(lit(1)))
        .as("m"))
      .groupBy(col("cent_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cent_id"),
        expr("transform(pm, x -> CAST(x.m AS FLOAT))").as("cent_emb"))

  /** k smallest md5(cent_id) as (cent_id, cent_emb) — the deterministic
    * uniform centroid sample whose size is independent of table
    * cardinality (TakeOrderedAndProject: per-partition heap of k, no
    * full sort). Shared by sim_ann_ivf and etl_ann_index so their
    * coarse quantizers can never drift apart. */
  private def sampleCentroids(emb: DataFrame, k: Int): DataFrame =
    emb.select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
      .orderBy(md5(col("cent_id").cast(StringType)), col("cent_id"))
      .limit(k)

  /** Nearest-centroid assignment: one broadcast product over the k
    * centroids with a map-side max_by — the ×k expansion collapses
    * BEFORE any shuffle (partial aggregation), so cost is O(N·k)
    * compute and O(N) shuffle bytes. The (cdot, -cent_id) struct is a
    * total order (cent_id unique) → deterministic argmax. carryEmb
    * keeps the vector alongside its cluster for downstream stages. */
  private def coarseAssign(emb: DataFrame, cents: DataFrame,
                           carryEmb: Boolean): DataFrame = {
    val g = emb.join(broadcast(cents))
      .withColumn("cdot", expr("dot_f(embedding, cent_emb)"))
      .groupBy(col("vec_id"))
    val cluster =
      max_by(col("cent_id"), struct(col("cdot"), -col("cent_id"))).as("cluster")
    if (carryEmb) g.agg(cluster, first(col("embedding")).as("embedding"))
    else g.agg(cluster)
  }

  /** (vec_id, pq_code, recon_err) — the PQ core shared by
    * sim_pq_quantize and etl_ann_index: each 64-dim float vector
    * (256 B) quantizes per 8-dim subspace to the nearest of 16
    * centroids → an 8-code string (8 B, 32×), plus the exact
    * reconstruction error the compression costs. Centroids are the
    * deterministic md5-ordered sample (the sim_ann_ivf technique,
    * k=16 codes/subspace here; production trains 256/subspace with the
    * Lloyd block in sim_ann_ivf). Shape at 10⁹ vectors: centroids
    * broadcast; the ×16 code expansion partial-aggregates map-side to
    * N×8×16 rows before the one (vec,sub,code) shuffle; all distances
    * accumulate as exact fixed-point longs end-to-end, so subspace
    * argmins and the error sum are order-independent. */
  private def pqCodes(s: SparkSession, d: String): DataFrame = {
    val best = pqSubCodesStored(s, d)
    best.groupBy(col("vec_id"))
      .agg(
        array_join(expr(
          "transform(array_sort(collect_list(struct(sub, bcode))), x -> CAST(x.bcode AS STRING))"),
          "-").as("pq_code"),
        round(sum(col("sub_err")).cast(DoubleType) / graft.Det.FixedPoint, 4)
          .as("recon_err"))
  }

  /** Stored TRAINED codebook — the production index artifact: trained
    * once per corpus snapshot (Stage.materializeOnce, path keyed by
    * Stage.inputStamp(embeddings) so regeneration rotates it), then
    * every encode/search pass reads the tiny parquet instead of
    * re-running the Lloyd round. Identical rows to pqCents(emb) — the
    * pipeline is deterministic — so the oracles are unaffected. */
  private def pqCentsStored(s: SparkSession, d: String): DataFrame = {
    val path = graft.Stage.p(s,
      s"graft_pqcents_${d.replaceAll("[^A-Za-z0-9]", "_")}_" +
        graft.Stage.inputStamp(s, s"$d/embeddings.parquet"))
    val p = graft.Stage.materializeOnce(s, path) {
      pqCents(Tables.embeddings(s, d))
        .write.mode("overwrite").parquet(path)
    }
    s.read.parquet(p)
  }

  /** Stored k-means assignment — same build-once/query-many shape for
    * the cluster labels sim_kmeans profiles and dedup_semantic buckets
    * by (production computes labels per snapshot, stores them, and
    * applies them many times downstream — the dedup_apply precedent). */
  private def kmeansAssignedStored(s: SparkSession, d: String): DataFrame = {
    // The path keys on the ASSIGNMENT MODE as well as the input stamp:
    // labels from the two-level path differ from the exact fallback, so
    // one mode must never serve its labels to the other through the
    // cache. The suffixes are NEW in round 9 ("_tl"/"_exact", vs the
    // old ""/"_coarse") precisely because the default flipped: a stale
    // round-8 cache dir holding exact labels under the unsuffixed path
    // must not satisfy a two-level read.
    val mode = if (s.conf.getOption("spark.graft.kmeans.coarseAssign")
      .contains("false")) "_exact" else "_tl"
    val path = graft.Stage.p(s,
      s"graft_kmasg_${d.replaceAll("[^A-Za-z0-9]", "_")}$mode" +
        "_" + graft.Stage.inputStamp(s, s"$d/embeddings.parquet"))
    val p = graft.Stage.materializeOnce(s, path) {
      kmeansAssigned(s, Tables.embeddings(s, d))
        .write.mode("overwrite").parquet(path)
    }
    s.read.parquet(p)
  }

  /** Stored per-subspace code table (vec_id, sub, bcode, sub_err) —
    * the compressed index payload itself, the third stored artifact:
    * production encodes the corpus once per snapshot and every search
    * scans ONLY these 8 small ints per vector. */
  private def pqSubCodesStored(s: SparkSession, d: String): DataFrame = {
    val path = graft.Stage.p(s,
      s"graft_pqcodes_${d.replaceAll("[^A-Za-z0-9]", "_")}_" +
        graft.Stage.inputStamp(s, s"$d/embeddings.parquet"))
    val p = graft.Stage.materializeOnce(s, path) {
      pqSubCodesWith(Tables.embeddings(s, d), pqCentsStored(s, d))
        .write.mode("overwrite").parquet(path)
    }
    s.read.parquet(p)
  }

  /** SEED codebook: 16 md5-sampled sub-vectors, exploded to (code, pos,
    * cv) with 0-based pos (code 0..15 by the same md5 order). */
  private def pqSeedCents(emb: DataFrame): DataFrame = {
    val wC = Window.orderBy(md5(col("cent_vid").cast(StringType)), col("cent_vid"))
    emb
      .select(col("vec_id").as("cent_vid"), col("embedding").as("ce"))
      .orderBy(md5(col("cent_vid").cast(StringType)), col("cent_vid"))
      .limit(PqK) // TakeOrderedAndProject; the window below sees k=16 rows
      .withColumn("code", row_number().over(wC) - 1)
      .select(col("code"), posexplode(col("ce")).as(Seq("pos", "cv")))
  }

  /** TRAINED codebook: one per-subspace Lloyd refinement over the seed
    * sample — every corpus sub-vector is assigned to its nearest seed
    * code (the pqSubDists kernel, exact fixed-point argmin), then each
    * (code, pos) cell becomes the FLOAT-rounded fixed-point mean of its
    * members (the sim_kmeans cev discipline, so both engines carry
    * bit-identical centroids). Codes a subspace leaves empty keep their
    * seed sub-vector. One extra O(N·16·d) broadcast pass at build time;
    * measured recall@5 of sim_pq_search rises 0.80 → 0.88 at sf0.01
    * (OperatorSpec pins the floor at sf0.001, where it is 0.86).
    * Production trains 256 codes per subspace with more rounds — same
    * plan shape, larger broadcast. */
  private def pqCents(emb: DataFrame): DataFrame = {
    val seed = pqSeedCents(emb)
    val ex = emb.select(col("vec_id").as("id"),
      posexplode(col("embedding")).as(Seq("pos", "v")))
    val asg = pqSubDists(ex, seed)
      .groupBy(col("id"), col("sub"))
      .agg(expr("min_by(code, struct(d2l, code))").as("code"))
    val means = ex
      .withColumn("sub", expr(s"pos div ${64 / PqSubs}"))
      .join(asg, Seq("id", "sub"))
      .groupBy(col("code"), col("pos"))
      .agg((graft.Det.sumFixed(col("v").cast(DoubleType)) / count(lit(1)))
        .as("m"))
      .select(col("code"), col("pos"), col("m").cast(FloatType).as("cvm"))
    seed.join(means, Seq("code", "pos"), "left")
      .select(col("code"), col("pos"),
        coalesce(col("cvm"), col("cv")).as("cv"))
  }

  /** Per-subspace fixed-point squared distances of `vecs` (cols id, pos,
    * v — pos 0-based) to every codebook sub-vector: (id, sub, code,
    * d2l). The encode AND the search LUT are this same computation —
    * over the corpus and over the probes respectively. */
  private def pqSubDists(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.join(broadcast(cents), "pos")
      .withColumn("sub", expr(s"pos div ${64 / PqSubs}"))
      .withColumn("dd", col("v").cast(DoubleType) - col("cv").cast(DoubleType))
      .groupBy(col("id"), col("sub"), col("code"))
      .agg(sum(floor(col("dd") * col("dd") * graft.Det.FixedPoint)
        .cast(LongType)).as("d2l"))

  /** (vec_id, sub, bcode, sub_err) — per-subspace argmin codes, the
    * encoded form every PQ consumer (code-string build, ADC search)
    * reads. */
  private def pqSubCodesWith(emb: DataFrame, cents: DataFrame): DataFrame = {
    val ex = emb.select(col("vec_id").as("id"),
      posexplode(col("embedding")).as(Seq("pos", "v")))
    pqSubDists(ex, cents)
      .groupBy(col("id").as("vec_id"), col("sub"))
      .agg(expr("min_by(code, struct(d2l, code))").as("bcode"),
        min(col("d2l")).as("sub_err"))
  }

  /** Test hook: run the full Lloyd pipeline fresh (bypassing the
    * stored-assignment cache, whose mode suffix would otherwise have
    * to be cleared between runs) — OperatorSpec compares the declared
    * two-level and the exact-fallback assignments through this. */
  private[graft] def testKmeansAssigned(s: SparkSession, d: String)
      : DataFrame =
    kmeansAssigned(s, Tables.embeddings(s, d))

  /** Test hook: total fixed-point reconstruction error of the corpus
    * under the seed vs the trained codebook — OperatorSpec asserts the
    * Lloyd round strictly improves it. */
  private[graft] def testPqTotalRecon(s: SparkSession, d: String,
      trained: Boolean): Long = {
    val emb = Tables.embeddings(s, d)
    val cents = if (trained) pqCents(emb) else pqSeedCents(emb)
    pqSubCodesWith(emb, cents)
      .agg(sum(col("sub_err")).as("t")).head().getLong(0)
  }

  /** The Planes×Dims (32×64) plane matrix as a DuckDB VALUES list, emitted from the
    * SAME weight() function that bakes the Spark literals — the two
    * engines see bit-identical float constants. Float.toString is the
    * shortest round-tripping decimal, and the oracle re-CASTs to FLOAT
    * before widening so DuckDB holds the exact same float, not the
    * decimal's nearest double. pos is 1-based to line up with the
    * range(1, len+1) unnest convention used by the other sim oracles.
    */
  private def planeValuesSql: String =
    (0 until Lsh.Planes).flatMap { p =>
      (0 until Lsh.Dims).map(i => s"($p,${i + 1},${Lsh.weight(p, i)})")
    }.mkString(",")

  /** One k-means oracle round — replays the TWO-LEVEL (coarse
    * quantizer) assignment that is the engine's declared path since
    * round 9: route to the top-2 nearest of the ⌈√k⌉ md5-smallest
    * centers' LIVE coarse cells, then argmin over only those cells'
    * fine centers. Every ordering is the same (distance, id) total
    * order the Spark side folds map-side, and every distance is the
    * same per-term floored fixed-point LONG sum, so labels are
    * bit-identical by construction — the oracle replays the algorithm,
    * not an idealized k-means. */
  private def kmAssign(k: Int): String =
    s"""co$k AS (SELECT cent_id AS coarse_id
           FROM (SELECT DISTINCT cent_id FROM cev$k)
           ORDER BY md5(CAST(cent_id AS VARCHAR)), cent_id
           LIMIT (SELECT CAST(ceil(sqrt(count(DISTINCT cent_id)))
                    AS BIGINT) FROM cev$k)),
       cod$k AS (SELECT f.cent_id, c.coarse_id,
           sum(CAST(floor((f.cv - x.cv) * (f.cv - x.cv)
               * 1099511627776.0) AS BIGINT)) AS d2c
         FROM cev$k f
         JOIN co$k c ON true
         JOIN cev$k x ON x.cent_id = c.coarse_id AND x.pos = f.pos
         GROUP BY 1, 2),
       cmap$k AS MATERIALIZED (SELECT cent_id, coarse_id FROM (
           SELECT cent_id, coarse_id,
                  row_number() OVER (PARTITION BY cent_id
                    ORDER BY d2c, coarse_id) AS rn
           FROM cod$k) WHERE rn = 1),
       vcd$k AS (SELECT e.vec_id, l.coarse_id,
           sum(CAST(floor((e.v - x.cv) * (e.v - x.cv)
               * 1099511627776.0) AS BIGINT)) AS dc
         FROM ev e
         JOIN (SELECT DISTINCT coarse_id FROM cmap$k) l ON true
         JOIN cev$k x ON x.cent_id = l.coarse_id AND x.pos = e.pos
         GROUP BY 1, 2),
       probe$k AS MATERIALIZED (SELECT vec_id, coarse_id FROM (
           SELECT vec_id, coarse_id,
                  row_number() OVER (PARTITION BY vec_id
                    ORDER BY dc, coarse_id) AS rn
           FROM vcd$k) WHERE rn <= 2),
       dist$k AS (SELECT e.vec_id, m.cent_id,
           sum(CAST(floor((e.v - c.cv) * (e.v - c.cv) * 1099511627776.0)
               AS BIGINT)) AS d2l
         FROM probe$k p
         JOIN cmap$k m ON m.coarse_id = p.coarse_id
         JOIN ev e ON e.vec_id = p.vec_id
         JOIN cev$k c ON c.cent_id = m.cent_id AND c.pos = e.pos
         GROUP BY 1, 2),
       a$k AS MATERIALIZED (SELECT vec_id, cent_id AS cluster, d2l FROM (
           SELECT vec_id, cent_id, d2l,
                  row_number() OVER (PARTITION BY vec_id
                    ORDER BY d2l, cent_id) AS rn
           FROM dist$k) WHERE rn = 1)"""

  /** FLOAT-rounded fixed-point cluster means of round $k's assignment —
    * the sim_ann_ivf cev discipline, producing cev${k + 1}. */
  private def kmMeans(k: Int): String =
    s"""cev${k + 1} AS MATERIALIZED (SELECT a.cluster AS cent_id, e.pos,
          CAST(CAST((CAST(sum(CAST(floor(e.v * 1099511627776.0) AS BIGINT))
              AS DOUBLE) / 1099511627776.0) / count(*) AS FLOAT) AS DOUBLE)
            AS cv
        FROM a$k a JOIN ev e ON e.vec_id = a.vec_id GROUP BY 1, 2)"""

  /** Shared Lloyd CTE chain (seed → two FLOAT-rounded mean rounds →
    * assignment a2, plus per-vector norms) — the replayed cluster
    * structure every kmeans-derived oracle builds on. */
  private lazy val lloydCtes: String =
    s"""ev AS (SELECT vec_id, CAST(v AS DOUBLE) AS v, pos FROM (
             SELECT vec_id, unnest(embedding) AS v,
                    unnest(range(1, len(embedding)+1)) AS pos
             FROM embeddings)),
         cents0 AS (SELECT vec_id AS cent_id FROM embeddings
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                    LIMIT (SELECT greatest(8,
                             CAST(floor(sqrt(count(*) / 31.25)) AS BIGINT))
                           FROM embeddings)),
         cev0 AS (SELECT c.cent_id, e.pos, e.v AS cv
                  FROM cents0 c JOIN ev e ON e.vec_id = c.cent_id),
         ${kmAssign(0)}, ${kmMeans(0)},
         ${kmAssign(1)}, ${kmMeans(1)},
         ${kmAssign(2)},
         nrm AS (SELECT vec_id,
                   sqrt(CAST(sum(CAST(floor(v * v * 1099511627776.0)
                     AS BIGINT)) AS DOUBLE) / 1099511627776.0) AS nrm
                 FROM ev GROUP BY 1)"""

  /** Shared SemDeDup CTE chain: [[lloydCtes]] feeding within-cluster
    * fixed-point cosine pairs ⇒ `sempairs(a, b, cluster, cos)`. Used
    * by dedup_semantic and dedup_semantic_apply. */
  private lazy val semPairCtes: String =
    s"""$lloydCtes,
         cpairs AS (SELECT xa.vec_id AS a, xb.vec_id AS b,
                          xa.cluster AS cluster
                   FROM a2 xa JOIN a2 xb
                     ON xa.cluster = xb.cluster AND xa.vec_id < xb.vec_id),
         cdots AS (SELECT p.a, p.b, p.cluster,
                    CAST(sum(CAST(floor(ea.v * eb.v * 1099511627776.0)
                      AS BIGINT)) AS DOUBLE) / 1099511627776.0 AS dotd
                  FROM cpairs p
                  JOIN ev ea ON ea.vec_id = p.a
                  JOIN ev eb ON eb.vec_id = p.b AND eb.pos = ea.pos
                  GROUP BY 1, 2, 3),
         sempairs AS (SELECT a, b, cluster, cos FROM (
           SELECT d.a, d.b, d.cluster,
                  round(d.dotd / (na.nrm * nb.nrm), 4) AS cos
           FROM cdots d
           JOIN nrm na ON na.vec_id = d.a
           JOIN nrm nb ON nb.vec_id = d.b)
         WHERE cos >= $SemDedupT)"""

  val oracles: Map[String, String] = Map(
    // Mirrors the full Lloyd pipeline: identical md5-ordered seed
    // sample, two mean-update rounds + final assignment, all distances
    // as order-free fixed-point LONG sums and all means FLOAT-rounded —
    // bit-identical centroids and labels in both engines, no float
    // tolerance anywhere.
    "sim_kmeans" ->
      s"""WITH ev AS (SELECT vec_id, CAST(v AS DOUBLE) AS v, pos FROM (
             SELECT vec_id, unnest(embedding) AS v,
                    unnest(range(1, len(embedding)+1)) AS pos
             FROM embeddings)),
         cents0 AS (SELECT vec_id AS cent_id FROM embeddings
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                    LIMIT (SELECT greatest(8,
                             CAST(floor(sqrt(count(*) / 31.25)) AS BIGINT))
                           FROM embeddings)),
         cev0 AS (SELECT c.cent_id, e.pos, e.v AS cv
                  FROM cents0 c JOIN ev e ON e.vec_id = c.cent_id),
         ${kmAssign(0)}, ${kmMeans(0)},
         ${kmAssign(1)}, ${kmMeans(1)},
         ${kmAssign(2)}
         SELECT cluster, count(*) AS n,
                round(CAST(sum(d2l) AS DOUBLE) / 1099511627776.0, 4)
                  AS inertia
         FROM a2 GROUP BY cluster ORDER BY cluster""",

    // Mirrors the full SemDeDup pipeline: the sim_kmeans Lloyd chain
    // (identical seed sample, FLOAT-rounded means, fixed-point argmin)
    // for cluster labels, then within-cluster pairs with the exact
    // fixed-point dot/norm arithmetic (the dedup_embedding recipe) —
    // the threshold compare runs on identically-rounded values, so no
    // pair can flip engines at the boundary.
    "dedup_semantic" ->
      s"""WITH $semPairCtes
         SELECT a, b, cluster, cos FROM sempairs ORDER BY a, b""",

    // SemDeDup APPLY: the deduplicated corpus itself — drop every
    // vector that is the higher-id side of a surviving pair, keep the
    // rest (greedy keep-lowest-id policy; the transitive-closure
    // variant is dedup_components + dedup_apply over these pairs).
    "dedup_semantic_apply" ->
      s"""WITH $semPairCtes
         SELECT vec_id, label FROM embeddings
         WHERE vec_id NOT IN (SELECT b FROM sempairs)
         ORDER BY vec_id""",

    // The Lloyd chain for cluster structure, FLOAT-rounded means of
    // the final assignment (cev3) as the probe quantizer, top-3
    // clusters per probe by the (d2l, cent_id) total order, then the
    // dedup_semantic fixed-point cosine arithmetic on candidates only.
    "sim_range_search" ->
      s"""WITH $lloydCtes,
         ${kmMeans(2)},
         pd AS (SELECT e.vec_id AS a, c.cent_id,
                  sum(CAST(floor((e.v - c.cv) * (e.v - c.cv)
                    * 1099511627776.0) AS BIGINT)) AS d2c
                FROM ev e JOIN cev3 c ON e.pos = c.pos
                WHERE e.vec_id < 10 GROUP BY 1, 2),
         pcl AS (SELECT a, cent_id AS cl FROM (
                  SELECT a, cent_id, row_number() OVER (PARTITION BY a
                    ORDER BY d2c, cent_id) AS pr
                  FROM pd) WHERE pr <= 3),
         cand AS (SELECT p.a, x.vec_id AS b, p.cl
                  FROM pcl p JOIN a2 x ON x.cluster = p.cl
                                      AND x.vec_id <> p.a),
         cd AS (SELECT c.a, c.b, c.cl,
                  CAST(sum(CAST(floor(ea.v * eb.v * 1099511627776.0)
                    AS BIGINT)) AS DOUBLE) / 1099511627776.0 AS dotd
                FROM cand c
                JOIN ev ea ON ea.vec_id = c.a
                JOIN ev eb ON eb.vec_id = c.b AND eb.pos = ea.pos
                GROUP BY 1, 2, 3)
         SELECT a, b, cluster, cos FROM (
           SELECT d.a, d.b, d.cl AS cluster,
                  round(d.dotd / (na.nrm * nb.nrm), 4) AS cos
           FROM cd d
           JOIN nrm na ON na.vec_id = d.a
           JOIN nrm nb ON nb.vec_id = d.b)
         WHERE cos >= $RangeT ORDER BY a, b""",

    // Mirrors the full IVF pipeline: identical md5-ordered centroid
    // sample, one Lloyd refinement round (fixed-point cluster means
    // rounded through FLOAT — bit-identical refined centroids on both
    // engines), argmax inverted-list assignment (row_number replays
    // max_by's (cdot desc, cent_id) total order), nprobe=28 multi-probe,
    // same double-sum dot determinism argument as sim_ann_lsh.
    "sim_ann_ivf" ->
      """WITH ev AS (SELECT vec_id, CAST(v AS DOUBLE) AS v, pos FROM (
             SELECT vec_id, unnest(embedding) AS v,
                    unnest(range(1, len(embedding)+1)) AS pos
             FROM embeddings)),
         cents0 AS (SELECT vec_id AS cent_id FROM embeddings
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 64),
         cev0 AS (SELECT c.cent_id, e.pos, e.v
                  FROM cents0 c JOIN ev e ON e.vec_id = c.cent_id),
         cdots0 AS (SELECT e.vec_id, c.cent_id, sum(e.v * c.v) AS cdot
                    FROM ev e JOIN cev0 c ON e.pos = c.pos
                    GROUP BY 1, 2),
         assign0 AS (SELECT vec_id, cent_id AS cluster FROM (
                       SELECT vec_id, cent_id,
                              row_number() OVER (PARTITION BY vec_id
                                ORDER BY cdot DESC, cent_id) AS rn
                       FROM cdots0)
                     WHERE rn = 1),
         cev AS (SELECT a.cluster AS cent_id, e.pos,
                   CAST(CAST(
                     (CAST(sum(CAST(floor(e.v * 1099511627776.0) AS BIGINT)) AS DOUBLE)
                       / 1099511627776.0) / count(*) AS FLOAT) AS DOUBLE) AS v
                 FROM assign0 a JOIN ev e ON e.vec_id = a.vec_id
                 GROUP BY 1, 2),
         cdots AS (SELECT e.vec_id, c.cent_id, sum(e.v * c.v) AS cdot
                   FROM ev e JOIN cev c ON e.pos = c.pos
                   GROUP BY 1, 2),
         ranked AS (SELECT vec_id, cent_id,
                      row_number() OVER (PARTITION BY vec_id
                        ORDER BY cdot DESC, cent_id) AS rn
                    FROM cdots),
         assigned AS (SELECT vec_id, cent_id AS cluster
                      FROM ranked WHERE rn = 1),
         probes AS (SELECT vec_id AS a, cent_id AS cluster
                    FROM ranked WHERE vec_id < 10 AND rn <= 28),
         pairs AS (SELECT p.a, s.vec_id AS b, s.cluster
                   FROM probes p JOIN assigned s
                     ON s.cluster = p.cluster AND s.vec_id <> p.a),
         dots AS (SELECT pr.a, pr.cluster, pr.b,
                    round(sum(ea.v * eb.v), 4) AS cos
                  FROM pairs pr
                  JOIN ev ea ON ea.vec_id = pr.a
                  JOIN ev eb ON eb.vec_id = pr.b AND ea.pos = eb.pos
                  GROUP BY 1, 2, 3)
         SELECT a, cluster, b, cos, CAST(rnk AS INTEGER) AS rnk FROM (
           SELECT a, cluster, b, cos,
                  row_number() OVER (PARTITION BY a ORDER BY cos DESC, b) AS rnk
           FROM dots)
         WHERE rnk <= 3 ORDER BY a, rnk""",

    // Mirrors the full LSH pipeline. Determinism: dot_f multiplies
    // floats as exact doubles and accumulates in double; re-ordering a
    // 64-term double sum perturbs ~1e-15 relative, 10 orders below the
    // 4-dp rounding grid and the sign threshold, so DuckDB's group-sum
    // matches Spark's sequential loop bit-for-bit after round(_, 4).
    "sim_ann_lsh" ->
      s"""WITH ev AS MATERIALIZED (SELECT vec_id, CAST(v AS DOUBLE) AS v, pos FROM (
             SELECT vec_id, unnest(embedding) AS v,
                    unnest(range(1, len(embedding)+1)) AS pos
             FROM embeddings)),
         planes AS (SELECT p, pos, CAST(CAST(w AS FLOAT) AS DOUBLE) AS w
                    FROM (VALUES $planeValuesSql) t(p, pos, w)),
         sigs AS MATERIALIZED (
           SELECT vec_id,
                  CAST(sum(CASE WHEN dot > 0
                           THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS BIGINT) AS sig
           FROM (SELECT ev.vec_id, pl.p, sum(ev.v * pl.w) AS dot
                 FROM ev JOIN planes pl ON ev.pos = pl.pos
                 GROUP BY 1, 2)
           GROUP BY 1),
         bucketed AS MATERIALIZED (
           SELECT vec_id, CAST(t.band AS INTEGER) AS band,
                  (sig >> CAST(${Lsh.BandBits} * t.band AS INTEGER))
                    & ${Lsh.BandMask} AS bucket
           FROM sigs, range(0, ${Lsh.Bands}) t(band)),
         probe_buckets AS (
           SELECT vec_id, band,
                  xor(bucket, CASE WHEN f.j = 0 THEN 0
                      ELSE (CAST(1 AS BIGINT) << CAST(f.j - 1 AS INTEGER)) END)
                    AS bucket
           FROM bucketed, range(0, ${Lsh.BandBits + 1}) f(j)
           WHERE vec_id < 20),
         pairs AS (
           SELECT DISTINCT pa.vec_id AS a, pb.vec_id AS b
           FROM probe_buckets pa JOIN bucketed pb
             ON pa.band = pb.band AND pa.bucket = pb.bucket
           WHERE pa.vec_id <> pb.vec_id),
         dots AS (
           SELECT pr.a, pr.b, round(sum(ea.v * eb.v), 4) AS cos
           FROM pairs pr
           JOIN ev ea ON ea.vec_id = pr.a
           JOIN ev eb ON eb.vec_id = pr.b AND ea.pos = eb.pos
           GROUP BY 1, 2)
         SELECT a, b, cos, CAST(rnk AS INTEGER) AS rnk FROM (
           SELECT a, b, cos,
                  row_number() OVER (PARTITION BY a ORDER BY cos DESC, b) AS rnk
           FROM dots)
         WHERE rnk <= 3 ORDER BY a, rnk""",

    "sim_vector_norms" ->
      """WITH e AS (SELECT vec_id, label, CAST(v AS DOUBLE) AS v FROM (
             SELECT vec_id, label, unnest(embedding) AS v FROM embeddings)),
         norms AS (SELECT vec_id, label,
                     sqrt(CAST(sum(CAST(floor(v*v * 1099511627776.0) AS BIGINT)) AS DOUBLE)
                          / 1099511627776.0) AS nrm0
                   FROM e GROUP BY vec_id, label),
         lab AS (SELECT emb.vec_id, emb.label, coalesce(n.nrm0, 0.0) AS nrm
                 FROM embeddings emb LEFT JOIN norms n
                   ON n.vec_id = emb.vec_id AND n.label = emb.label)
         SELECT label, count(*) AS n_vecs,
             round(min(round(nrm, 4)), 4) AS min_norm,
             round(max(round(nrm, 4)), 4) AS max_norm,
             round((CAST(sum(CAST(floor(nrm * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE)
                    / 1000000.0)
                   / CAST(count(*) AS DOUBLE), 4) AS mean_norm
         FROM lab GROUP BY label ORDER BY label""",

    "sim_cosine_topk" ->
      """WITH e AS (SELECT vec_id, CAST(v AS DOUBLE) AS v, pos FROM (
             SELECT vec_id, unnest(embedding) AS v,
                    unnest(range(1, len(embedding)+1)) AS pos
             FROM embeddings)),
         norms AS (SELECT vec_id,
                     sqrt(CAST(sum(CAST(floor(v*v * 1099511627776.0) AS BIGINT)) AS DOUBLE)
                          / 1099511627776.0) AS nrm
                   FROM e GROUP BY vec_id),
         dots AS (SELECT a.vec_id AS a, b.vec_id AS b,
                    CAST(sum(CAST(floor(a.v*b.v * 1099511627776.0) AS BIGINT)) AS DOUBLE)
                      / 1099511627776.0 AS dotd
                  FROM e a JOIN e b ON a.pos = b.pos
                   AND a.vec_id < 10 AND a.vec_id <> b.vec_id
                  GROUP BY 1, 2)
         SELECT a, b, cos, CAST(rnk AS INTEGER) AS rnk FROM (
           SELECT d.a, d.b,
                  round(d.dotd / (na.nrm * nb.nrm), 4) AS cos,
                  row_number() OVER (PARTITION BY d.a
                    ORDER BY round(d.dotd / (na.nrm * nb.nrm), 4) DESC, d.b) AS rnk
           FROM dots d
           JOIN norms na ON d.a = na.vec_id
           JOIN norms nb ON d.b = nb.vec_id)
         WHERE rnk <= 5 ORDER BY a, rnk""",

    "sim_knn_per_label" ->
      """WITH e AS (SELECT vec_id, label, CAST(v AS DOUBLE) AS v, pos FROM (
             SELECT vec_id, label, unnest(embedding) AS v,
                    unnest(range(1, len(embedding)+1)) AS pos
             FROM embeddings)),
         norms AS (SELECT vec_id,
                     sqrt(CAST(sum(CAST(floor(v*v * 1099511627776.0) AS BIGINT)) AS DOUBLE)
                          / 1099511627776.0) AS nrm
                   FROM e GROUP BY vec_id),
         dots AS (SELECT a.vec_id AS a, b.vec_id AS b, b.label AS label,
                    CAST(sum(CAST(floor(a.v*b.v * 1099511627776.0) AS BIGINT)) AS DOUBLE)
                      / 1099511627776.0 AS dotd
                  FROM e a JOIN e b ON a.pos = b.pos
                   AND a.vec_id < 5 AND a.vec_id <> b.vec_id
                  GROUP BY 1, 2, 3)
         SELECT a, label, b, cos FROM (
           SELECT d.a, d.label, d.b,
                  round(d.dotd / (na.nrm * nb.nrm), 4) AS cos,
                  row_number() OVER (PARTITION BY d.a, d.label
                    ORDER BY round(d.dotd / (na.nrm * nb.nrm), 4) DESC, d.b) AS rn
           FROM dots d
           JOIN norms na ON d.a = na.vec_id
           JOIN norms nb ON d.b = nb.vec_id)
         WHERE rn = 1 ORDER BY a, label""",

    // Replays the PQ pipeline: identical md5-ordered 16-centroid sample
    // (code = sample rank), per-subspace squared distances as exact
    // fixed-point longs, row_number replaying min_by's (d2l, code)
    // total order, and the same long-sum reconstruction error. pos is
    // 0-based here to keep `pos // 8` aligned with Spark's posexplode.
    "sim_pq_quantize" ->
      s"""WITH $pqCtes
         SELECT vec_id, pq_code, recon_err FROM pq ORDER BY vec_id""",

    // PQ search replay: the LUT is the d2 kernel restricted to the
    // probe rows (vexp already has them), the ADC shortlist is the LUT
    // join over the per-subspace argmin codes ranked by (adcl, b), and
    // the exact re-rank recomputes fixed-point L2 from vexp for the
    // shortlist pairs only — identical long arithmetic end-to-end.
    "sim_pq_search" ->
      s"""WITH $pqCtes,
         lut AS (SELECT vec_id AS a, pos // 8 AS sub, code,
                   CAST(sum(CAST(floor((v - cv) * (v - cv) * 1099511627776.0)
                     AS BIGINT)) AS BIGINT) AS d2l
                 FROM vexp JOIN cexp USING (pos)
                 WHERE vec_id < 10 GROUP BY 1, 2, 3),
         adc AS (SELECT l.a, c.vec_id AS b, sum(l.d2l) AS adcl
                 FROM best c JOIN lut l
                   ON l.sub = c.sub AND l.code = c.bcode
                 WHERE c.vec_id <> l.a GROUP BY 1, 2),
         sl AS (SELECT a, b FROM (
                  SELECT a, b, row_number() OVER (PARTITION BY a
                    ORDER BY adcl, b) AS srnk
                  FROM adc) WHERE srnk <= $PqShortlist),
         ex AS (SELECT s.a, s.b,
                  CAST(sum(CAST(floor((p.v - q.v) * (p.v - q.v)
                    * 1099511627776.0) AS BIGINT)) AS BIGINT) AS l2l
                FROM sl s JOIN vexp p ON p.vec_id = s.a
                          JOIN vexp q ON q.vec_id = s.b AND q.pos = p.pos
                GROUP BY 1, 2)
         SELECT a, b, round(CAST(l2l AS DOUBLE) / 1099511627776.0, 4) AS l2,
                rnk
         FROM (SELECT a, b, l2l,
                      CAST(row_number() OVER (PARTITION BY a
                        ORDER BY l2l, b) AS INTEGER) AS rnk
               FROM ex)
         WHERE rnk <= 5 ORDER BY a, rnk""",

    // The composed index build: sim_ann_ivf's assign0 stage (sampled
    // coarse quantizer, plain double-sum dots — same determinism
    // argument) joined with the shared PQ CTE chain on vec_id. The
    // coarse dots reuse pqCtes' vexp unnest (its 0-based pos is
    // irrelevant to the pos = pos join) rather than re-unnesting.
    "etl_ann_index" ->
      s"""WITH $pqCtes,
         cents0 AS (SELECT vec_id AS cent_id FROM embeddings
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 64),
         cev0 AS (SELECT c.cent_id, e.pos, e.v
                  FROM cents0 c JOIN vexp e ON e.vec_id = c.cent_id),
         cdots0 AS (SELECT e.vec_id, c.cent_id, sum(e.v * c.v) AS cdot
                    FROM vexp e JOIN cev0 c ON e.pos = c.pos
                    GROUP BY 1, 2),
         assign0 AS (SELECT vec_id, cent_id AS cluster FROM (
                       SELECT vec_id, cent_id,
                              row_number() OVER (PARTITION BY vec_id
                                ORDER BY cdot DESC, cent_id) AS rn
                       FROM cdots0)
                     WHERE rn = 1)
         SELECT a.vec_id, a.cluster, pq.pq_code, pq.recon_err
         FROM assign0 a JOIN pq USING (vec_id)
         ORDER BY a.vec_id""",

    // PCA replay: FLOAT-rounded per-dim means, upper-triangle
    // fixed-point covariance mirrored to full form, then the same
    // three unrolled power-iteration rounds (fixed-point C·v and ‖w‖²
    // sums, one IEEE division, FLOAT-rounded v per round) and the
    // Rayleigh contraction — bit-identical matrices and vectors in
    // both engines at every round boundary.
    "sim_pca_power" ->
      s"""WITH ev AS (SELECT vec_id, CAST(v AS DOUBLE) AS v, pos FROM (
             SELECT vec_id, unnest(embedding) AS v,
                    unnest(range(1, len(embedding)+1)) AS pos
             FROM embeddings)),
         nn AS (SELECT count(*) AS nn FROM embeddings),
         mu AS (SELECT pos,
                  CAST(CAST((CAST(sum(CAST(floor(v * 1099511627776.0)
                      AS BIGINT)) AS DOUBLE) / 1099511627776.0) / count(*)
                    AS FLOAT) AS DOUBLE) AS mu
                FROM ev GROUP BY 1),
         cv AS (SELECT e.vec_id, e.pos, e.v - m.mu AS c
                FROM ev e JOIN mu m ON e.pos = m.pos),
         covu AS (SELECT a.pos AS i, b.pos AS j,
                    sum(CAST(floor(a.c * b.c * 1099511627776.0) AS BIGINT))
                      AS sl
                  FROM cv a JOIN cv b
                    ON a.vec_id = b.vec_id AND a.pos <= b.pos
                  GROUP BY 1, 2),
         cov AS (SELECT i, j,
                   CAST(CAST((CAST(sl AS DOUBLE) / 1099511627776.0)
                       / (SELECT nn FROM nn) AS FLOAT) AS DOUBLE) AS cval
                 FROM covu),
         covf AS (SELECT i, j, cval FROM cov
                  UNION ALL
                  SELECT j, i, cval FROM cov WHERE i < j),
         v0 AS (SELECT pos, CAST(0.125 AS DOUBLE) AS vv
                FROM range(1, 65) t(pos)),
         ${pcaStep(0)}, ${pcaStep(1)}, ${pcaStep(2)}, ${pcaStep(3)},
         ${pcaStep(4)},
         lam AS (SELECT CAST(sum(CAST(floor(vi.vv * c.cval * vj.vv
                     * 1099511627776.0) AS BIGINT)) AS DOUBLE)
                   / 1099511627776.0 AS eig
                 FROM covf c JOIN v5 vj ON c.j = vj.pos
                             JOIN v5 vi ON c.i = vi.pos)
         SELECT v5.pos, round(mu.mu, 6) AS mu, round(v5.vv, 6) AS loading,
                round((SELECT eig FROM lam), 6) AS eigval
         FROM v5 JOIN mu ON v5.pos = mu.pos ORDER BY v5.pos""",

    // k-center replay: same md5 seed, same per-term fixed-point
    // distances, same (mind DESC, vec_id) argmax and least() fold.
    "sample_kcenter" ->
      s"""WITH ev AS MATERIALIZED (SELECT vec_id, CAST(v AS DOUBLE) AS v, pos FROM (
             SELECT vec_id, unnest(embedding) AS v,
                    unnest(range(1, len(embedding)+1)) AS pos
             FROM embeddings)),
         c0 AS (SELECT vec_id AS cid FROM embeddings
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1),
         m0 AS MATERIALIZED (SELECT e.vec_id,
             sum(CAST(floor((e.v - c.v) * (e.v - c.v)
               * 1099511627776.0) AS BIGINT)) AS mind
           FROM ev e JOIN ev c
             ON c.vec_id = (SELECT cid FROM c0) AND c.pos = e.pos
           GROUP BY 1),
         ${(1 to 5).map(kcRound).mkString(",\n         ")},
         cov AS (SELECT round(sqrt(CAST(max(mind) AS DOUBLE)
                   / 1099511627776.0), 6) AS coverage FROM m5),
         rules AS (
           SELECT 0 AS rnd, (SELECT cid FROM c0) AS center_id,
                  CAST(NULL AS DOUBLE) AS radius
           ${(1 to 5).map(k =>
             s"UNION ALL SELECT $k, cid, round(sqrt(CAST(mind AS DOUBLE)" +
               s" / 1099511627776.0), 6) FROM c$k").mkString("\n           ")})
         SELECT r.rnd, r.center_id, r.radius, c.coverage
         FROM rules r CROSS JOIN cov c ORDER BY r.rnd""",

    // Per-label FLOAT-rounded centroid means (the kmMeans discipline),
    // fixed-point argmin with the (d2l, label) total order, identical
    // accuracy ratio.
    "sim_nearest_centroid" ->
      """WITH ev AS (SELECT vec_id, CAST(v AS DOUBLE) AS v, pos FROM (
             SELECT vec_id, unnest(embedding) AS v,
                    unnest(range(1, len(embedding)+1)) AS pos
             FROM embeddings)),
         lab AS (SELECT vec_id, label FROM embeddings),
         cents AS (SELECT l.label AS clab, e.pos,
             CAST(CAST((CAST(sum(CAST(floor(e.v * 1099511627776.0)
                 AS BIGINT)) AS DOUBLE) / 1099511627776.0) / count(*)
               AS FLOAT) AS DOUBLE) AS cv
           FROM ev e JOIN lab l ON l.vec_id = e.vec_id
           GROUP BY 1, 2),
         dist AS (SELECT e.vec_id, c.clab,
             sum(CAST(floor((e.v - c.cv) * (e.v - c.cv)
               * 1099511627776.0) AS BIGINT)) AS d2l
           FROM ev e JOIN cents c ON c.pos = e.pos
           GROUP BY 1, 2),
         pred AS (SELECT d.vec_id, l.label, d.clab AS pred
           FROM (SELECT vec_id, clab, row_number() OVER (
                   PARTITION BY vec_id ORDER BY d2l, clab) AS rn
                 FROM dist) d
           JOIN lab l ON l.vec_id = d.vec_id
           WHERE d.rn = 1),
         acc AS (SELECT round(CAST(sum(CASE WHEN label = pred THEN 1
                   ELSE 0 END) AS DOUBLE) / count(*), 4) AS accuracy
                 FROM pred)
         SELECT p.label, p.pred, count(*) AS n, a.accuracy
         FROM pred p CROSS JOIN acc a
         GROUP BY 1, 2, a.accuracy
         ORDER BY p.label, p.pred""",

    // MMR replay: same fixed-point cosine chain (4-dp rounded before
    // any compare), same top-20 candidate page, same 5 greedy rounds.
    "sim_mmr_rerank" ->
      s"""WITH ev AS MATERIALIZED (SELECT vec_id, CAST(v AS DOUBLE) AS v, pos FROM (
             SELECT vec_id, unnest(embedding) AS v,
                    unnest(range(1, len(embedding)+1)) AS pos
             FROM embeddings)),
         nrm AS MATERIALIZED (SELECT vec_id,
             sqrt(CAST(sum(CAST(floor(v * v * 1099511627776.0)
               AS BIGINT)) AS DOUBLE) / 1099511627776.0) AS nrm
           FROM ev GROUP BY 1),
         qd AS (SELECT e.vec_id,
                  sum(CAST(floor(e.v * q.v * 1099511627776.0) AS BIGINT))
                    AS dl
                FROM ev e JOIN ev q ON q.vec_id = 0 AND q.pos = e.pos
                WHERE e.vec_id <> 0 GROUP BY 1),
         rels AS (SELECT q.vec_id,
                    round((CAST(q.dl AS DOUBLE) / 1099511627776.0)
                      / (n.nrm * (SELECT nrm FROM nrm WHERE vec_id = 0)),
                      4) AS rel
                  FROM qd q JOIN nrm n ON n.vec_id = q.vec_id),
         st0 AS MATERIALIZED (SELECT vec_id, rel,
             CAST(0.0 AS DOUBLE) AS red
           FROM (SELECT vec_id, rel, row_number()
                   OVER (ORDER BY rel DESC, vec_id) AS rn FROM rels)
           WHERE rn <= 20),
         ${(1 to 5).map(mmrRound).mkString(",\n         ")}
         SELECT * FROM (${(1 to 5).map(k =>
           s"SELECT $k AS rank, vec_id, rel, round(red, 4) AS red," +
             s" round(score, 6) AS score FROM pick$k")
           .mkString(" UNION ALL ")})
         ORDER BY rank"""
  )

  /** One greedy k-center oracle round: argmax of the running min-dist
    * by the (mind DESC, vec_id) total order, then the streaming
    * least() fold against the one new center — mirrors the Spark
    * round term for term. */
  private def kcRound(k: Int): String =
    s"""c$k AS MATERIALIZED (SELECT vec_id AS cid, mind FROM m${k - 1}
         ORDER BY mind DESC, vec_id LIMIT 1),
       m$k AS MATERIALIZED (SELECT m.vec_id,
           least(m.mind, dd.d) AS mind
         FROM m${k - 1} m JOIN (
           SELECT e.vec_id,
                  sum(CAST(floor((e.v - c.v) * (e.v - c.v)
                    * 1099511627776.0) AS BIGINT)) AS d
           FROM ev e JOIN ev c
             ON c.vec_id = (SELECT cid FROM c$k) AND c.pos = e.pos
           GROUP BY 1) dd ON dd.vec_id = m.vec_id)"""

  /** One MMR oracle round: argmax on the (score DESC, vec_id) total
    * order, fixed-point cosine to the one new pick, greatest() fold —
    * mirrors the Spark round term for term. */
  private def mmrRound(k: Int): String =
    s"""pick$k AS MATERIALIZED (SELECT vec_id, rel, red,
           0.7 * rel - 0.3 * red AS score
         FROM st${k - 1} ORDER BY score DESC, vec_id LIMIT 1),
       pc$k AS (SELECT e.vec_id,
           round((CAST(sum(CAST(floor(e.v * p.v * 1099511627776.0)
               AS BIGINT)) AS DOUBLE) / 1099511627776.0)
             / (n.nrm * pn.pnrm), 4) AS c
         FROM ev e
         JOIN ev p ON p.vec_id = (SELECT vec_id FROM pick$k)
           AND p.pos = e.pos
         JOIN nrm n ON n.vec_id = e.vec_id
         CROSS JOIN (SELECT nrm AS pnrm FROM nrm
                     WHERE vec_id = (SELECT vec_id FROM pick$k)) pn
         GROUP BY e.vec_id, n.nrm, pn.pnrm),
       st$k AS MATERIALIZED (SELECT s.vec_id, s.rel,
           greatest(s.red, c.c) AS red
         FROM st${k - 1} s JOIN pc$k c ON c.vec_id = s.vec_id
         WHERE s.vec_id <> (SELECT vec_id FROM pick$k))"""

  /** One power-iteration oracle round: fixed-point C·v$k contraction,
    * fixed-point norm, one IEEE division, FLOAT-rounded v${k + 1} —
    * mirrors the Spark `step` term for term. */
  private def pcaStep(k: Int): String =
    s"""w${k + 1} AS (SELECT c.i AS pos,
           CAST(sum(CAST(floor(c.cval * v.vv * 1099511627776.0) AS BIGINT))
             AS DOUBLE) / 1099511627776.0 AS w
         FROM covf c JOIN v$k v ON c.j = v.pos GROUP BY 1),
       n${k + 1} AS (SELECT sqrt(CAST(sum(CAST(floor(w * w
             * 1099511627776.0) AS BIGINT)) AS DOUBLE) / 1099511627776.0)
           AS nr FROM w${k + 1}),
       v${k + 1} AS MATERIALIZED (SELECT pos,
           CAST(CAST(w / (SELECT nr FROM n${k + 1}) AS FLOAT) AS DOUBLE)
             AS vv
         FROM w${k + 1})"""

  /** Shared PQ CTE chain (16-centroid md5 seed sample → one
    * per-subspace Lloyd refinement round with FLOAT-rounded fixed-point
    * means → fixed-point subspace distances vs the TRAINED codebook →
    * argmin codes → per-vector code string + error), used by
    * sim_pq_quantize, sim_pq_search, and etl_ann_index. Mirrors the
    * Spark pqCents/pqSubCodes pipeline term for term. */
  private lazy val pqCtes =
    """cs AS (
           SELECT embedding,
                  row_number() OVER (
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code
           FROM embeddings
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
         cexp0 AS (SELECT code, CAST(cv AS DOUBLE) AS cv, pos FROM (
             SELECT code, unnest(embedding) AS cv,
                    unnest(range(0, len(embedding))) AS pos
             FROM cs)),
         vexp AS (SELECT vec_id, CAST(v AS DOUBLE) AS v, pos FROM (
             SELECT vec_id, unnest(embedding) AS v,
                    unnest(range(0, len(embedding))) AS pos
             FROM embeddings)),
         d2s AS (SELECT vec_id, pos // 8 AS sub, code,
                  CAST(sum(CAST(floor((v - cv) * (v - cv) * 1099511627776.0)
                    AS BIGINT)) AS BIGINT) AS d2l
                FROM vexp JOIN cexp0 USING (pos)
                GROUP BY 1, 2, 3),
         best0 AS (SELECT vec_id, sub, code FROM (
             SELECT vec_id, sub, code, d2l,
                    row_number() OVER (PARTITION BY vec_id, sub
                      ORDER BY d2l, code) AS rn
             FROM d2s) WHERE rn = 1),
         cm AS (SELECT b.code, v.pos,
                  CAST(CAST((CAST(sum(CAST(floor(v.v * 1099511627776.0)
                      AS BIGINT)) AS DOUBLE) / 1099511627776.0) / count(*)
                    AS FLOAT) AS DOUBLE) AS cv
                FROM best0 b JOIN vexp v
                  ON v.vec_id = b.vec_id AND v.pos // 8 = b.sub
                GROUP BY 1, 2),
         cexp AS (SELECT c0.code, c0.pos, coalesce(cm.cv, c0.cv) AS cv
                  FROM cexp0 c0 LEFT JOIN cm
                    ON cm.code = c0.code AND cm.pos = c0.pos),
         d2 AS (SELECT vec_id, pos // 8 AS sub, code,
                  CAST(sum(CAST(floor((v - cv) * (v - cv) * 1099511627776.0)
                    AS BIGINT)) AS BIGINT) AS d2l
                FROM vexp JOIN cexp USING (pos)
                GROUP BY 1, 2, 3),
         best AS (SELECT vec_id, sub, code AS bcode, d2l FROM (
             SELECT vec_id, sub, code, d2l,
                    row_number() OVER (PARTITION BY vec_id, sub
                      ORDER BY d2l, code) AS rn
             FROM d2) WHERE rn = 1),
         pq AS (SELECT vec_id,
                  array_to_string(list(bcode ORDER BY sub), '-') AS pq_code,
                  round(CAST(sum(d2l) AS DOUBLE) / 1099511627776.0, 4) AS recon_err
                FROM best GROUP BY vec_id)"""
}
