package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Ckpt, Det, Stage, Tables}

/** Graph-analytics operator family (round 4i).
  *
  * Wikidata IS a graph, and a training-data pipeline runs link analysis
  * over it (and over co-occurrence structure mined from transactional
  * tables) constantly: importance ranking for corpus weighting, triangle
  * density for community/quality signals, bounded-hop reachability for
  * contamination spread. This family implements the canonical
  * shapes — degree profile, fixed-iteration PageRank, oriented triangle
  * counting, per-edge embeddedness (common neighbors / Jaccard), local
  * clustering coefficients, k-hop BFS — Spark-first: every step is a DataFrame
  * equi-join/aggregation (shuffle on the node key, AQE-reusable
  * exchanges), never a driver-side adjacency structure.
  *
  * The graph: part co-occurrence from `lineitem` — an undirected edge
  * (a,b), a<b, for every pair of parts appearing in the same order. The
  * node/edge count scales with the fixture SF (unlike the hand-sized
  * Wikidata fixture), so the bench line tracks real graph growth. Pair
  * explosion is bounded by basket size (≤7 lines/order in TPC-H-shaped
  * data; a retail-scale pipeline caps the basket or pre-aggregates
  * before pairing — same discipline as dedup_simhash's hot-bucket cap).
  *
  * Scale notes (100 TB):
  *  - The edge table is built ONCE per snapshot and stored
  *    (Stage.materializeOnce → parquet), then every analytics key reads
  *    the stored table: build-once/query-many, exactly the production
  *    shape — and the single most effective shuffle saver here, since
  *    all four keys share the self-join+distinct that derives the edges.
  *  - PageRank: one shuffle per iteration (contribution aggregation on
  *    dst). Rank state is BIGINT fixed-point (Q=2³⁰): integer division
  *    fx div degree and integer sums are exact and order-independent in
  *    both engines, so the oracle hash-matches without any float
  *    tolerance. Long capacity bounds the node count at ~2²⁸ per this
  *    scale (85·Q·N < 2⁶³); beyond that, drop Q to 2²⁰ or lift the
  *    contribution sum to DECIMAL(38,0) — documented, not silent.
  *  - Triangles: edges oriented low→high by (degree, node) total order,
  *    the standard wedge-bounding trick — Σ out-deg² is O(m^1.5) instead
  *    of the unoriented Σ deg² blow-up on hubs, and each triangle is
  *    counted exactly once, no post-hoc dedup shuffle.
  *  - BFS: per-hop frontier = join + distinct + anti-join against
  *    visited, all equi-joins on node; the frontier never lands on the
  *    driver.
  */
object GraphOps {
  type Q = (SparkSession, String) => DataFrame

  /** Fixed-point scale for PageRank ranks: 2³⁰. */
  private val Qfx: Long = 1L << 30
  /** floor(0.15 · Q) via integer arithmetic — same literal both engines. */
  private val R15: Long = (15L * Qfx) / 100
  /** PageRank iteration count (unrolled identically in the oracle). */
  private val Iters = 3
  /** k-core bounded peel depth (oracle-unrolled). The threshold k is
    * NOT a constant: this basket graph's density scales with SF (min
    * degree 42–49, median 89–119 across fixtures), so any fixed k
    * either peels nothing or everything. k = ceil(0.7 · median degree)
    * peels relative to density; the 0.7 backs k off the cascade cliff
    * this near-regular co-occurrence graph has at the median (measured:
    * k=median empties the graph within 2 rounds at every SF, k=0.7·med
    * peels a 1–9% low-degree tail and stabilizes — sf0.001 193/200,
    * sf0.01 1832/2000, sf0.1 17982/18780 survivors after 3 rounds).
    * Both engines derive it from the same quantile_cont interpolation
    * (proven by agg_percentile) and identical IEEE double ops. */
  private val KCoreRounds = 3

  /** k-core delta peel on DataFrames: per round the stored edge list
    * is SCANNED (columnar parquet, never shuffled) and joined against
    * the newly-dead node set, which AQE broadcasts while it fits; the
    * evolving checkpointed frame is the node-sized degree table. */
  private def kcorePeel(s: SparkSession, e: DataFrame, dg: DataFrame,
      kth: Long): DataFrame = {
    val ck = Ckpt.loop(s)
    var deg = ck.df(dg)
    def dead: DataFrame = deg.filter(col("degree") < kth).select("node")
    // one peel step: survivors lose their edges into the dead set
    def step(): Unit = {
      val dd = dead
      val delta = e.join(dd.withColumnRenamed("node", "a"), "a")
        .select(col("b").as("node"))
        .union(e.join(dd.withColumnRenamed("node", "b"), "b")
          .select(col("a").as("node")))
        .groupBy("node").agg(count(lit(1)).as("minus"))
      deg = ck.df(deg.filter(col("degree") >= kth)
        .join(delta, Seq("node"), "left")
        .select(col("node"),
          (col("degree") - coalesce(col("minus"), lit(0L))).as("degree")))
    }
    for (_ <- 1 to KCoreRounds) step()
    // final induction by the last survivor set: drop the last dead
    // generation's edges; nodes isolated by it leave the output
    step()
    deg.filter(col("degree") > 0)
      .select(col("node"), col("degree").as("core_degree"))
      .orderBy("node")
  }

  /** Derived-graph cache paths carry Stage.inputStamp(lineitem) so a
    * driver-side fixture regeneration rotates the path instead of
    * serving a stale `_SUCCESS`-marked snapshot. */
  private def gpath(s: SparkSession, d: String, kind: String): String =
    Stage.p(s, s"graft_${kind}_${d.replaceAll("[^A-Za-z0-9]", "_")}_" +
      Stage.inputStamp(s, s"$d/lineitem.parquet"))

  /** Rows per task of [[frontierRelax]]'s shared partitioner
    * (Ckpt.Loop.partitioner). Round 17 moved sssp and khop onto the
    * dedup_components execution model — co-partitioned RDDs under one
    * shared HashPartitioner: the DataFrame formulation of a round
    * planned 2 eager checkpoints plus ~6 AQE stage-jobs, so the
    * 3-round keys ran 27-30 driver-barrier jobs each at any scale; with
    * every per-round join narrow and persist-only lineage the whole
    * fixpoint executes as ONE job at action time with exactly one wide
    * shuffle per round (git show 79d8cf5:OPTIMIZATION_r17.md). 500k
    * pairs/task (~10-25 MB serialized) is the guide §2.2 block-count
    * rule: these loops shuffle small long tuples, so the components
    * loop's 20k rows/task made per-task fixed costs (fetch of M×R tiny
    * blocks, combiner setup) dominate the actual work (measured ~5x on
    * the round-17 sssp rewrite). */
  private val FixpointRowsPerTask = 500000L

  /** graph_khop's and graph_sssp's fixpoint: frontier Bellman-Ford, 3
    * rounds, over the undirected edges `e` (a, b, w: BIGINT) from the
    * nodes whose part has p_size = 50. Round k relaxes ONLY the nodes
    * whose label improved in round k-1, so after k rounds dist = min
    * cost over ≤k-edge paths while per-round work tracks the improving
    * set, not the whole label table. Per round the only wide shuffle
    * is the re-key of candidate labels by dst (reduceByKey min, whose
    * map-side combine collapses the ×degree expansion); the improvement
    * filter, the dist merge and the frontier join are narrow under the
    * one shared partitioner, and with persist-only lineage the loop
    * runs as ONE job (1 + 2×3 Ckpt.loop generations). */
  private def frontierRelax(s: SparkSession, d: String,
      e: DataFrame): RDD[(Long, Long)] = {
    val seeds = Tables.part(s, d).filter(col("p_size") === 50)
      .select(col("p_partkey").as("node"))
      .join(degrees(s, d).select("node"), Seq("node"), "left_semi")
    val rounds = Ckpt.loop(s)
    val part = rounds.partitioner(e.count() * 2, FixpointRowsPerTask)
    val wu = e.select("a", "b", "w").rdd.flatMap { r =>
      val a = r.getLong(0); val b = r.getLong(1); val w = r.getLong(2)
      Seq((a, (b, w)), (b, (a, w)))
    }.partitionBy(part).persist(Ckpt.Level)
    var dist = rounds.pin(
      seeds.rdd.map(r => (r.getLong(0), 0L)).partitionBy(part))
    rounds.done(dist)
    var frontier = dist
    for (_ <- 1 to 3) {
      val relax = wu.join(frontier)
        .map { case (_, ((dst, w), dv)) => (dst, dv + w) }
        .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
      val improved = rounds.pin(
        relax.leftOuterJoin(dist)
          .filter { case (_, (nd, od)) => od.forall(nd < _) }
          .mapValues(_._1))
      rounds.done(improved)
      val merged = rounds.pin(
        dist.union(improved) // PartitionerAwareUnion: stays narrow
          .reduceByKey(part, (a: Long, b: Long) => math.min(a, b)))
      rounds.done(merged)
      dist = merged
      frontier = improved
    }
    rounds.finish(dist, wu)
  }

  /** Canonical undirected edge list (a < b), built once per fixture dir
    * and stored — all graph keys read the stored table. */
  private def edges(s: SparkSession, d: String): DataFrame = {
    val p = Stage.materializeOnce(s, gpath(s, d, "edges")) {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      li.as("x").join(li.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("a"), col("y.pk").as("b"))
        .distinct()
        .write.mode("overwrite").parquet(gpath(s, d, "edges"))
    }
    s.read.parquet(p)
  }

  /** Symmetric (directed-both-ways) view of the stored edges. */
  private def und(s: SparkSession, d: String): DataFrame = {
    val e = edges(s, d)
    e.select(col("a").as("src"), col("b").as("dst"))
      .union(e.select(col("b").as("src"), col("a").as("dst")))
  }

  /** Test hook: the undirected edge list (OperatorSpec validates that
    * random-walk hops follow real edges). */
  private[graft] def testUnd(s: SparkSession, d: String): DataFrame =
    und(s, d)

  /** Test hook: the stored per-node degree table (helpers stay
    * private; OperatorSpec recomputes the k-core threshold from it). */
  private[graft] def testDegrees(s: SparkSession, d: String): DataFrame =
    degrees(s, d)

  /** LPA round count (oracle-unrolled, like Iters/KCoreRounds). */
  private val LpaRounds = 3

  /** 3-round synchronous label-propagation labels (node, label) —
    * shared by graph_lpa (raw labels) and graph_modularity (quality of
    * the induced partition) so the two keys can never drift. Initial
    * label = node id; each round every node adopts the neighbor-most-
    * frequent label, ties to the smallest label (deterministic total
    * order). */
  /** Stored like edges/degrees/triangles: communities are a per-
    * snapshot graph attribute consumed by ≥2 keys (labels, modularity —
    * and any corpus-weighting join downstream), so the 3-round fixpoint
    * runs once per snapshot and everything else reads parquet. */
  private def lpaLabels(s: SparkSession, d: String): DataFrame = {
    val p = Stage.materializeOnce(s, gpath(s, d, "lpa")) {
      lpaOnUnd(und(s, d),
        degrees(s, d).select(col("node"), col("node").as("label")))
        .write.mode("overwrite").parquet(gpath(s, d, "lpa"))
    }
    s.read.parquet(p)
  }

  /** The LPA fixpoint core over an explicit symmetric edge list and
    * initial (node, label) frame — package-visible so OperatorSpec can
    * prove community recovery on a constructed barbell graph (the
    * fixture's basket graph is near-complete, where one community is
    * the truthful answer). */
  private[graft] def lpaOnUnd(u: DataFrame, init: DataFrame,
      rounds: Int = LpaRounds, checkpoint: Boolean = true): DataFrame = {
    val wN = Window.partitionBy("node").orderBy(col("cnt").desc, col("label"))
    val ck = Ckpt.loop(u.sparkSession) // one evolving frame: round N-2 files die
    var lab = init
    for (_ <- 1 to rounds) {
      val next = u.join(lab, col("src") === col("node"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
        .select(col("dst").as("node"), col("label"), col("cnt"))
        .withColumn("rn", row_number().over(wN))
        .filter(col("rn") === 1)
        .select("node", "label")
      // checkpoint=false only for plan inspection in PlanSpec (the
      // composed multi-round plan; production always truncates lineage
      // — durably when spark.graft.checkpointDir is set, see Ckpt)
      lab = if (checkpoint) ck.df(next) else next
    }
    lab
  }

  /** One damped fixed-point PageRank update: contribution fan-out on
    * the symmetric edges, dst-keyed sum, exact integer damping. */
  private def prStep(dg: DataFrame, u: DataFrame, r: DataFrame): DataFrame = {
    val sums = u.join(r, col("src") === col("node"))
      .select(col("dst"), expr("fx div degree").as("c"))
      .groupBy("dst").agg(sum(col("c")).as("sc"))
    dg.join(sums, col("node") === col("dst"), "left")
      .select(col("node"), col("degree"),
        (lit(R15) +
          expr("(85 * coalesce(sc, CAST(0 AS BIGINT))) div 100")).as("fx"))
  }


  /** Weighted canonical edges (a < b, w): per-pair order co-occurrence
    * count folded to an integer cost w = 10 - least(cnt, 9) ∈ [1, 9] —
    * frequently co-bought parts are "close". The (ok, pk) projection is
    * deduplicated FIRST so cnt counts orders, not line-pair
    * multiplicity. Stored like the unweighted snapshot
    * (build-once/query-many); integer costs keep every path sum exact
    * and order-independent in both engines. */
  private def wedges(s: SparkSession, d: String): DataFrame = {
    val p = Stage.materializeOnce(s, gpath(s, d, "wedges")) {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      li.as("x").join(li.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .groupBy(col("x.pk").as("a"), col("y.pk").as("b"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("a"), col("b"),
          (lit(10L) - least(col("cnt"), lit(9L))).cast(LongType).as("w"))
        .write.mode("overwrite").parquet(gpath(s, d, "wedges"))
    }
    s.read.parquet(p)
  }


  /** Per-node degree over the symmetric edges — stored next to the edge
    * table (its own materializeOnce: degree is a graph attribute every
    * analytics pass needs, so PageRank's per-iteration deg reference and
    * the triangle orientation both become parquet scans instead of
    * repeated groupBy shuffles). */
  private def degrees(s: SparkSession, d: String): DataFrame = {
    val p = Stage.materializeOnce(s, gpath(s, d, "degrees")) {
      und(s, d).groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("degree"))
        .write.mode("overwrite").parquet(gpath(s, d, "degrees"))
    }
    s.read.parquet(p)
  }

  /** graph_bipartite_project's capped per-customer part array
    * (c, ps) — the corpus-scale half of the projection. `ps`: this
    * customer's capped parts, ascending (the aggregate emits (md5, p)
    * ascending by md5; pair generation wants p-order). ord is
    * unhex(md5(...)): the 16-byte digest under BinaryType's
    * unsigned-lexicographic ordering selects IDENTICALLY to the
    * 32-char hex string (hex encoding is order-preserving) while
    * halving the dominant term of each serialized buffer entry
    * crossing the shuffle.
    *
    * Round 17 (opt): the frame is MATERIALIZED once (Ckpt.df, fresh per
    * invocation — the dedup signature-table discipline,
    * git show 79d8cf5:OPTIMIZATION_r17.md). The key has THREE consumers
    * of this aggregate (the pair generator plus the degree frame joined
    * as deg_a and deg_b), and neither the planner nor AQE reused the
    * exchange across them — the before-plan carries the full
    * orders⋈lineitem + bottomk chain three times
    * (plans/r17/graph_bipartite_project_{before,after}.txt), i.e. 3×
    * the join work and 3× the c-keyed shuffle (key shuffle read
    * 42.4 → 35.3 MB at sf0.1 together with the rank-before-attach fix
    * below — the remainder is the pair-count exchange, inherent to
    * global pair counts). `checkpoint = false` exists for PlanSpec, which pins
    * the aggregate's shape (bottomk, no window, no self-join) — the
    * checkpoint would hide it behind an ExistingRDD scan. */
  private[graft] def bipartiteCapped(s: SparkSession, d: String,
      checkpoint: Boolean = true): DataFrame = {
    val cp = Tables.orders(s, d)
      .join(Tables.lineitem(s, d),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
    val capped = cp.groupBy(col("c"))
      .agg(expr("bottomk_distinct_by(unhex(md5(cast(p as string))), p, 20)")
        .as("ks"))
      // ks.payload = GetArrayStructFields (codegen'd field pluck) —
      // replaces an interpreted per-row transform() lambda (round 18)
      .select(col("c"),
        array_sort(col("ks").getField("payload")).as("ps"))
    if (checkpoint) Ckpt.df(capped) else capped
  }

  /** Oriented triangle list (s, t1, t2) — the third stored graph
    * artifact. Enumeration is the expensive pass (wedge generation is
    * O(Σ out-deg²) ≈ 41M rows at sf0.1 vs 1.2M edges), and THREE keys
    * consume triangles (per-apex counts, per-edge embeddedness,
    * per-node clustering), so a production stack materializes the list
    * per snapshot exactly like edges/degrees. Orientation low→high by
    * the (degree, node) total order gives each triangle a unique
    * minimum-order apex s — enumerated exactly once, no dedup shuffle.
    * The closure probe hash-builds the edge side (shuffle_hash hint):
    * sort-merge would sort the 41M-row wedge side. */
  private def triangles(s: SparkSession, d: String): DataFrame = {
    val p = Stage.materializeOnce(s, gpath(s, d, "triangles")) {
      val dg = degrees(s, d)
      val wd = edges(s, d)
        .join(dg.select(col("node").as("a"), col("degree").as("da")), "a")
        .join(dg.select(col("node").as("b"), col("degree").as("db")), "b")
      val aLow = col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b"))
      val o = wd.select(
        when(aLow, col("a")).otherwise(col("b")).as("s"),
        when(aLow, col("b")).otherwise(col("a")).as("t"),
        when(aLow, col("db")).otherwise(col("da")).as("tdeg"))
      val o1 = o.select(col("s"), col("t").as("t1"), col("tdeg").as("td1"))
      val o2 = o.select(col("s").as("s2"), col("t").as("t2"),
        col("tdeg").as("td2"))
      val wedges = o1.join(o2, col("s") === col("s2") &&
        (col("td1") < col("td2") ||
          (col("td1") === col("td2") && col("t1") < col("t2"))))
      val o3 = o.select(col("s").as("s3"), col("t").as("t3"))
        .hint("shuffle_hash")
      wedges.join(o3, col("t1") === col("s3") && col("t2") === col("t3"))
        .select(col("s"), col("t1"), col("t2"))
        .write.mode("overwrite").parquet(gpath(s, d, "triangles"))
    }
    s.read.parquet(p)
  }

  val queries: Map[String, Q] = Map(
    "graph_degree_stats" -> ((s, d) => {
      // Degree distribution — the first profile run on any new graph
      // snapshot (hub detection, power-law sanity). Output is
      // degree-cardinality-sized (≪ nodes), always driver-safe.
      degrees(s, d)
        .groupBy("degree")
        .agg(count(lit(1)).as("n_nodes"),
          min("node").as("min_node"), max("node").as("max_node"))
        .orderBy("degree")
    }),

    "graph_pagerank" -> ((s, d) => {
      // Fixed-iteration PageRank (damping 0.85, 3 rounds) for corpus
      // importance weighting. All rank state is BIGINT fixed-point
      // (Q=2³⁰): contribution = fx div degree (exact integer division),
      // damped update = R15 + (85·Σ) div 100 (exact) — bit-identical
      // across engines and accumulation orders. One dst-keyed shuffle
      // per iteration; the deg/und exchanges are identical across
      // iterations, so AQE reuses them instead of rescanning.
      val dg = degrees(s, d)
      val u = und(s, d)
      var r = dg.select(col("node"), col("degree"), lit(Qfx).as("fx"))
      for (_ <- 1 to Iters) r = prStep(dg, u, r)
      r.select(col("node"),
          (col("fx").cast(DoubleType) / Qfx.toDouble).as("pr"))
        .orderBy("node")
    }),

    "graph_triangle_count" -> ((s, d) => {
      // Per-apex triangle counts over the stored oriented triangle
      // list (see `triangles` for the enumeration and its cost model).
      triangles(s, d)
        .groupBy(col("s").as("node"))
        .agg(count(lit(1)).as("n_tri"))
        .orderBy("node")
    }),

    "graph_common_neighbors" -> ((s, d) => {
      // Per-edge embeddedness: |N(a) ∩ N(b)| and the neighbor-set
      // Jaccard cn/(da+db−cn) for every existing edge — the tie-strength
      // / link-quality signal. Computed by exploding each stored
      // triangle into its 3 canonical (min,max) edges and counting:
      // cost O(3·triangles), never the hub-quadratic N(a)⋈N(b)
      // wedge join on x. Zero-triangle edges surface with cn=0 via the
      // left join. Denominator ≥ cn+2 (a,b are each other's neighbors
      // but never common ones), so the division is total.
      val tri = triangles(s, d)
      val cn = tri.select(explode(array(
          struct(least(col("s"), col("t1")).as("a"),
            greatest(col("s"), col("t1")).as("b")),
          struct(least(col("s"), col("t2")).as("a"),
            greatest(col("s"), col("t2")).as("b")),
          struct(least(col("t1"), col("t2")).as("a"),
            greatest(col("t1"), col("t2")).as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("cn"))
      val dg = degrees(s, d)
      edges(s, d)
        .join(dg.select(col("node").as("a"), col("degree").as("da")), "a")
        .join(dg.select(col("node").as("b"), col("degree").as("db")), "b")
        .join(cn, Seq("a", "b"), "left")
        .select(col("a"), col("b"),
          coalesce(col("cn"), lit(0L)).as("cn"),
          round(coalesce(col("cn"), lit(0L)).cast(DoubleType) /
            (col("da") + col("db") - coalesce(col("cn"), lit(0L))), 4)
            .as("jaccard"))
        .orderBy("a", "b")
    }),

    "graph_clustering_coeff" -> ((s, d) => {
      // Local clustering coefficient 2T/(deg·(deg−1)) per node — the
      // community-density profile. T = triangle PARTICIPATION (all 3
      // corners), not apex counts: explode the stored list's corners
      // and count. Nodes in no triangle keep coeff 0.0 via the left
      // join; deg<2 nodes are 0 by definition (guarded division).
      val part = triangles(s, d)
        .select(explode(array(col("s"), col("t1"), col("t2"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("n_tri"))
      degrees(s, d).join(part, Seq("node"), "left")
        .select(col("node"), col("degree"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          when(col("degree") >= 2,
            round(lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
              (col("degree") * (col("degree") - 1)), 4))
            .otherwise(lit(0.0)).as("coeff"))
        .orderBy("node")
    }),

    "graph_kcore" -> ((s, d) => {
      // Bounded k-core peeling (k = ceil(0.7·median degree), 3 rounds) —
      // the degeneracy-based community/quality filter (spam rings and
      // boilerplate farms survive deep cores; long-tail content does
      // not). Each round drops nodes whose CURRENT induced degree < k
      // and recomputes degrees on the induced subgraph. Rounds are
      // FIXED (like PageRank's Iters) so the oracle replays the exact
      // peel depth; full convergence at 100 TB loops the peel step
      // until the dead set is empty.
      //
      // Round-14 restructure (found by the sf10 decade sweep): DELTA
      // peeling — degrees are MAINTAINED, never recomputed. The old
      // shape re-joined the FULL stored edge list against the alive
      // set and re-aggregated all degrees every round; at sf10 (120M
      // edges, the pinned 8g/32-task bench config) those repeated
      // full-E sort-merge joins ran memory-bound (allocation stalls,
      // 104-240 s bimodal walls, e(3→10) ≈ 1.9). The textbook
      // distributed formulation instead subtracts, per round, each
      // survivor's edges INTO the newly-dead set: deg_r(v) =
      // deg_{r-1}(v) − |edges v→dead_{r-1}| restricted to survivors —
      // identical by induction to the induced-subgraph recompute. Per
      // round the edge list is only SCANNED (columnar parquet) and
      // joined against the dead set — which AQE broadcasts once
      // peeling converges (dead sets shrink fast; a huge first-round
      // dead set degrades gracefully to one shuffle join, exactly the
      // dedup_incremental doctrine) — and the evolving checkpointed
      // frame is the NODE-sized degree table, never an edge-sized
      // intermediate. An edge whose endpoints die in the same round
      // needs no correction: both rows leave the degree frame before
      // the subtraction joins back. The threshold is ONE driver-side
      // scalar read (the documented per-round-scalar exception, like
      // the components convergence count) instead of a per-round
      // broadcast crossJoin re-running the percentile job.
      // Round-17 (opt) built a co-partitioned RDD fixpoint; round 18's
      // verdict-driven A/B found its ONE-TIME edge shuffle (the 2|E|
      // re-key, 19.3 MB at sf0.1 → ~2 GB at sf10) REGRESSES the key at
      // every measured scale (sf0.1 ×1.35–1.9, sf1 flat, sf10 SQL 30.4 s
      // vs RDD 113.3 s — git show 79d8cf5:OPTIMIZATION_r18.md), because
      // the delta peel never moves the edge list at all: per round it
      // SCANS the columnar edge parquet and joins it against the (small,
      // shrinking) dead set, which AQE broadcasts. The RDD branch was
      // deleted; only a measured point where a round's dead set outgrows
      // a broadcast would bring it back.
      val e = edges(s, d)
      val dg = degrees(s, d)
      val kth = dg.agg(
        ceil(expr("percentile(degree, 0.5)") * lit(0.7))
          .cast(LongType).as("kth")).head().getLong(0)
      kcorePeel(s, e, dg, kth)
    }),

    "graph_link_predict" -> ((s, d) => {
      // Common-neighbor link prediction — the missing-edge /
      // recommendation primitive: for each probe node, the top-3
      // NON-neighbors ranked by shared-neighbor count (ties by node).
      // Probes are the 20 smallest md5(node) (deterministic,
      // corpus-size-independent — the sim-family technique), so wedge
      // cost is probes × deg² and NEVER the hub-quadratic Σ deg² over
      // the whole graph: exactly the per-user-batch shape a
      // recommender runs at 100 TB (candidates for a user cohort, not
      // all-pairs). Wedge expansion is two node-keyed equi-joins off
      // the stored edge table, existing edges leave via one left-anti
      // join, and the probe frame collapses map-side before the one
      // (u, w) shuffle.
      val u = und(s, d)
      val probes = degrees(s, d)
        .orderBy(md5(col("node").cast(StringType)), col("node"))
        .select(col("node").as("u")).limit(20)
      // uv is probe-batch-bounded (probes × max degree) and has TWO
      // consumers (the wedge-expansion broadcast and the existing-edge
      // anti-join broadcast); round 17 materializes it once (Ckpt.df,
      // fresh per invocation) — unmaterialized, each broadcast build
      // re-ran the full und scan + the probes TakeOrdered
      // (plans/r17/graph_link_predict_{before,after}.txt).
      val uv = Ckpt.df(u.join(broadcast(probes), col("src") === col("u"))
        .select(col("u"), col("dst").as("v")))
      // broadcast(uv): keeps the wedge expansion a broadcast probe
      // over the streamed edge table instead of a full-edge-list
      // shuffle (the planner can't see the bound through the
      // join-derived stats).
      val wedges = broadcast(uv).join(u, col("v") === col("src"))
        .filter(col("dst") =!= col("u"))
        .select(col("u"), col("dst").as("w"))
      val cn = wedges.groupBy("u", "w").agg(count(lit(1)).as("cn"))
      // Existing-edge exclusion anti-joins against the PROBE-INCIDENT
      // edges only (uv again — candidates all have u ∈ probes), a
      // broadcast-sized frame, instead of shuffling the full edge set.
      val nonEdge = cn.join(broadcast(uv.select(col("u"), col("v").as("w"))),
        Seq("u", "w"), "left_anti")
      val wN = Window.partitionBy("u").orderBy(col("cn").desc, col("w"))
      nonEdge.withColumn("rnk", row_number().over(wN).cast(IntegerType))
        .filter(col("rnk") <= 3)
        .orderBy("u", "rnk")
    }),

    "graph_adamic_adar" -> ((s, d) => {
      // Adamic–Adar link prediction — the classic refinement of
      // common-neighbor counting: each shared neighbor v contributes
      // 1/ln(deg(v)), so rare mutual contacts weigh more than hubs
      // everyone shares. Same probe-batch wedge shape (and cost bound)
      // as graph_link_predict; the only addition is one node-keyed
      // join to fetch the wedge MIDDLE's degree. Determinism: the
      // per-wedge weight is one closed-form IEEE expression on an
      // integer degree (the agg_entropy ln discipline) floored into
      // fixed-point, so the (u, w) score sum is an order-free LONG —
      // ranks can never flip on accumulation order; ties break by w.
      val u = und(s, d)
      val probes = degrees(s, d)
        .orderBy(md5(col("node").cast(StringType)), col("node"))
        .select(col("node").as("u")).limit(20)
      // Ckpt: two broadcast consumers, same as link_predict (round 17)
      val uv = Ckpt.df(u.join(broadcast(probes), col("src") === col("u"))
        .select(col("u"), col("dst").as("v")))
      val deg = degrees(s, d).select(col("node").as("v"), col("degree"))
      // broadcast(uv): probe-batch-bounded, same as link_predict
      val wedges = broadcast(uv).join(u, col("v") === col("src"))
        .filter(col("dst") =!= col("u"))
        .select(col("u"), col("v"), col("dst").as("w"))
        .join(deg, "v")
      val aa = wedges.groupBy("u", "w")
        .agg(count(lit(1)).as("cn"),
          sum(floor(lit(1.0) / log(col("degree").cast(DoubleType))
            * graft.Det.FixedPoint)).as("aal"))
      val nonEdge = aa.join(broadcast(uv.select(col("u"), col("v").as("w"))),
        Seq("u", "w"), "left_anti")
      val wN = Window.partitionBy("u").orderBy(col("aal").desc, col("w"))
      nonEdge.withColumn("rnk", row_number().over(wN).cast(IntegerType))
        .filter(col("rnk") <= 3)
        .select(col("u"), col("w"), col("cn"),
          round(col("aal").cast(DoubleType) / graft.Det.FixedPoint, 6)
            .as("aa"), col("rnk"))
        .orderBy("u", "rnk")
    }),

    "graph_bipartite_project" -> ((s, d) => {
      // Bipartite → item-item projection with an explicit HEAVY-KEY
      // CAP — the recommendation / co-curation primitive (customers ×
      // parts from orders⋈lineitem, projected onto parts). The cap is
      // the load-bearing scale decision: projection pair count is
      // Σ_u deg(u)², so ONE user with 10⁵ items would emit 10¹⁰ pairs
      // — every production projector (GraphJet-style) caps or samples
      // heavy keys first. Here each customer keeps their 20
      // md5-smallest parts (deterministic, retry/partition-stable —
      // the sample-family rule), bounding pairs at 190/user; the cap
      // is the declared semantics, not a silent truncation. Weights:
      // raw co-occurrence count plus the cosine normalization
      // cooc/√(deg_a·deg_b) over capped degrees, two degree joins,
      // top-20 with full tiebreak.
      // Physical plan (round 10): the cap is computed by the mergeable
      // bottomk_distinct_by aggregate instead of distinct() + rank
      // window + self-join. The logical semantics are UNCHANGED (the
      // oracle still replays distinct → row_number ≤ 20 → self-join):
      // bottom-20 distinct (md5(p), p) IS that window's selection, and
      // the ≤20-element per-customer array generates the ≤190 pairs
      // map-side with `transform`, so the c-keyed self-join disappears
      // entirely. Shuffle law at 10⁹ customers: the old plan shuffled
      // every distinct (c,p) pair twice (distinct, then the window
      // sort) before pairing; this plan ships ≤ 20 (16B-md5, long)
      // entries per customer per map partition — partial aggregation
      // collapses duplicate (c,p) rows map-side, which is why the
      // upstream distinct() can go too. Measured at sf0.1 driver
      // config: shuffle read 108.1 → 36.9 MB, write 83.7 → 29.3 MB
      // (2.9×; the remainder is the orders⋈lineitem join and the
      // pair-count partial agg); warm 4.3 → 3.3 s. The win is the
      // shuffle law, which is what survives 1000×.
      val capped = bipartiteCapped(s, d)
      // Three consumers (pairs, deg-as-a, deg-as-b) of the capped
      // aggregate: `capped` is checkpointed in bipartiteCapped — see
      // the note there (round 17).
      val deg = capped.select(explode(col("ps")).as("p"))
        .groupBy(col("p")).agg(count(lit(1)).as("dg"))
      // Round 18: the pair generator is two STACKED GENERATORS plus a
      // fused filter instead of the nested transform/slice lambda — the
      // HOF path is CodegenFallback (interpreted eval + an array
      // allocation per (row, i)), while explode×explode fuses into one
      // whole-stage-codegen loop nest with zero allocations. `ps` is
      // array_sort'ed and distinct (bottomk_distinct_by payloads), so
      // {(a, b) : a < b} enumerates exactly the i < j position pairs
      // the old lambda emitted — identical multiset into the aggregate.
      val pairs = capped
        .select(col("ps"), explode(col("ps")).as("a"))
        .select(col("a"), explode(col("ps")).as("b"))
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("cooc"))
      // Round 17 (opt): rank FIRST, attach degrees AFTER (guide §8 —
      // decide on the small proxy, then attach attributes). The final
      // order (cooc DESC, a, b) is a pure function of the pair table,
      // and the degree joins are inner joins that can never drop a
      // pair (every a/b in `pairs` came from the same capped arrays
      // `deg` aggregates over), so taking the top-20 before the joins
      // selects exactly the same rows — while turning two FULL
      // pair-table exchanges (a-keyed + b-keyed SMJ sorts of the
      // Σdeg²-sized co-occurrence table: at 10⁹ customers that table
      // is the biggest frame in the key) into two broadcast probes of
      // a 20-row frame. Measured at sf0.1: shuffle read 42.4 → 16.4
      // MB, med 3.65 → 2.0 s (plans/r17/..._{before,after}.txt).
      val top = pairs
        .orderBy(col("cooc").desc, col("a"), col("b"))
        .limit(20)
      val withDa = broadcast(top)
        .join(deg.select(col("p").as("a"), col("dg").as("da")), "a")
      broadcast(withDa)
        .join(deg.select(col("p").as("b"), col("dg").as("db")), "b")
        .select(col("a"), col("b"), col("cooc"),
          round(col("cooc").cast(DoubleType)
            / sqrt(col("da").cast(DoubleType) * col("db")), 6)
            .as("cosine"))
        .orderBy(col("cooc").desc, col("a"), col("b"))
        .limit(20)
    }),

    "graph_random_walk" -> ((s, d) => {
      // Deterministic random walks — the node2vec/DeepWalk INPUT
      // generator: from each seed, a 3-step walk whose "random"
      // neighbor choice is md5(walk, step, node) mod degree over the
      // dst-sorted adjacency — reproducible across runs, retries and
      // partitionings (the sample-family rule: hash, never RNG). Shape
      // at 10⁹ walks: the walk frontier is walks-sized (one row per
      // active walk); each step is ONE equi-join against the indexed
      // adjacency on (node, picked-index) — no per-node neighbor
      // arrays, no skew beyond the adjacency's own (the indexed-edge
      // row is one tuple regardless of degree). The adjacency index
      // (row_number per src) is a pure function of the stored edge
      // snapshot, so it is STORED like edges/degrees/triangles
      // (build-once/query-many) — the round-10 fingerprint showed the
      // per-run window rebuild was this key's dominant shuffle
      // (~2m-row sort per pass, every pass). Seeds are the 20
      // md5-smallest nodes (probe convention).
      val adjP = Stage.materializeOnce(s, gpath(s, d, "adjidx")) {
        und(s, d).withColumn("idx", row_number().over(
            Window.partitionBy("src").orderBy("dst")) - 1)
          .write.mode("overwrite").parquet(gpath(s, d, "adjidx"))
      }
      val adj = s.read.parquet(adjP)
      val dg = degrees(s, d)
      val seeds = dg
        .orderBy(md5(col("node").cast(StringType)), col("node"))
        .select(col("node")).limit(20)
      var state = seeds.select(col("node").as("walk"),
        col("node").as("cur"), col("node").cast(StringType).as("path"))
      for (t <- 1 to 3) {
        val pick = expr(
          s"${Det.md5SliceExpr(s"concat(walk, ':', $t, ':', cur)", 1, 8)}" +
            " % degree").as("pick")
        // No broadcast() hint on the frontier: at the declared 20-seed
        // probe scale AQE broadcasts it anyway (from runtime sizes —
        // the child session above disables the static decision), and
        // at 10⁹ walks a FORCED frontier broadcast would be exactly
        // the scale-killer this shape is designed to avoid — the step
        // must stay a plain equi-join so the planner can pick
        // shuffle-hash when the frontier is walks-sized.
        state = state
          .join(dg, col("cur") === col("node"))
          .select(col("walk"), col("cur"), col("path"), pick)
          .join(adj, col("cur") === col("src")
            && col("pick") === col("idx"))
          .select(col("walk"), col("dst").as("cur"),
            concat(col("path"), lit("->"),
              col("dst").cast(StringType)).as("path"))
        // Round 17 examined this key's build sides and REVERTED both
        // candidate fixes with measurements
        // (git show 79d8cf5:OPTIMIZATION_r17.md):
        // the static planner broadcasts the ADJACENCY after step 1
        // (join size estimation is multiplicative, so the ≤20-row
        // frontier's estimate explodes), which looks wrong — but (a)
        // a child session with static broadcast off (AQE picks from
        // runtime sizes: frontier broadcast, adjacency streamed)
        // moved the shuffle fingerprint 0.9 KB → 82.8 MB and 8×'d
        // executor time for a ~0.3 s median win, and (b) identity
        // .limit(20) bound re-statements produced the textbook plan
        // (all six joins frontier-built, ZERO adjacency exchange) yet
        // measured NO faster (5-pass solo med 2.57 vs 2.48 committed)
        // because the six broadcast builds serialize into a 6-deep
        // job chain. The key sits near its local floor (3 serial
        // steps × scan+build+plan); at real scale the adjacency
        // estimate exceeds the threshold and the planner takes the
        // frontier-broadcast shape on its own.
      }
      state.select(col("walk"), col("cur").as("final_node"), col("path"))
        .orderBy("walk")
    }),

    "graph_khop" -> ((s, d) => {
      // Bounded-hop reachability (3 hops) from the seed set — the
      // contamination-spread / neighborhood-expansion primitive. It is
      // graph_sssp with unit weights: with w = 1, round k's frontier
      // holds exactly the nodes at distance k-1, so "improved" is
      // "reached and not yet visited" and the label is the first
      // reaching hop. dist stays INT, as the oracle declares it.
      val out = frontierRelax(s, d, edges(s, d).withColumn("w", lit(1L)))
        .mapValues(_.toInt)
      val sess = s
      import sess.implicits._
      out.toDF("node", "dist").orderBy("node")
    }),

    "graph_sssp" -> ((s, d) => {
      // Bounded single-source shortest paths (3 relaxation rounds) from
      // the khop seed set over WEIGHTED co-occurrence edges — khop asks
      // "what is reachable", this asks "how close is it" (nearest-hub
      // routing, influence radius, weighted contamination spread). All
      // integer arithmetic (costs ∈ [1,9], BIGINT sums) so the oracle
      // hash-matches with no float tolerance.
      val out = frontierRelax(s, d, wedges(s, d))
      val sess = s
      import sess.implicits._
      out.toDF("node", "dist").orderBy("node")
    }),

    "graph_lpa" -> ((s, d) => {
      // Synchronous label propagation (3 rounds) — the linear-time
      // community detector (Raghavan et al. 2007): every node adopts
      // the most frequent label among its neighbors, ties broken by
      // smallest label so the rounds are fully deterministic and the
      // oracle can replay them. Per round: one src-keyed equi-join to
      // fan labels across edges, one (dst, label) count aggregate
      // (partial map-side), one node-partitioned row_number to pick the
      // winner — O(m) shuffle bytes per round, no driver state, eager
      // localCheckpoint truncating the per-round lineage exactly like
      // kcore/sssp. Rounds are FIXED so both engines replay the same
      // depth; production runs to convergence with the components
      // change-count discipline (labels stabilize in a handful of
      // rounds on real graphs).
      lpaLabels(s, d).orderBy("node")
    }),

    "graph_modularity" -> ((s, d) => {
      // Newman modularity of the LPA communities — the quality score
      // that tells a pipeline whether detected communities are real
      // structure or noise (Q ≈ 0). Per community c: e_c intra edges,
      // d_c summed degree, contribution (e_c/m − (d_c/2m)²) computed as
      // the exact integer numerator 4·m·e_c − d_c² over the common
      // denominator 4m², with ONE IEEE division at the end (both
      // factors < 2^53, so the doubles are exact and the division is
      // deterministic). m rides along as a broadcast 1-row aggregate —
      // no driver collect. Cost beyond LPA itself: one edge↔label join
      // pair + two label-keyed aggregates.
      val lab = lpaLabels(s, d)
      val e = edges(s, d)
      val ein = e
        .join(lab.select(col("node").as("a"), col("label").as("la")), "a")
        .join(lab.select(col("node").as("b"), col("label").as("lb")), "b")
        .filter(col("la") === col("lb"))
        .groupBy(col("la").as("label")).agg(count(lit(1)).as("e_in"))
      val dsum = degrees(s, d).join(lab, "node")
        .groupBy("label").agg(count(lit(1)).as("n_nodes"),
          sum(col("degree")).as("d_sum"))
      val mdf = e.agg(count(lit(1)).as("m"))
      dsum.join(ein, Seq("label"), "left")
        .na.fill(0L, Seq("e_in"))
        .crossJoin(broadcast(mdf))
        .select(col("label"), col("n_nodes"),
          col("e_in").cast(LongType).as("e_in"), col("d_sum"),
          round((lit(4L) * col("m") * col("e_in")
              - col("d_sum") * col("d_sum")).cast(DoubleType)
            / (lit(4L) * col("m") * col("m")).cast(DoubleType), 6)
            .as("contrib"))
        .orderBy("label")
    }))

  /** Shared oracle prefix: replay the edge build from lineitem (the
    * stored parquet is derived from exactly this). */
  /** Shared oracle edge CTEs. pairs/deg are MATERIALIZED: DuckDB
    * inlines plain CTEs per reference, and the iterative oracles
    * (PageRank rounds, k-core rounds) reference the chain a second
    * time per round — inlining makes the expanded plan (and its spill)
    * grow exponentially in round depth (observed: k-core at sf0.1
    * exhausted 40 GB of temp before the fix; 2.4 s after). */
  private val edgeCtes =
    """li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       pairs AS MATERIALIZED (SELECT DISTINCT x.pk AS a, y.pk AS b
                 FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
       und AS (SELECT a AS src, b AS dst FROM pairs
               UNION ALL SELECT b, a FROM pairs),
       deg AS MATERIALIZED (SELECT src AS node, count(*) AS degree
                 FROM und GROUP BY src)"""

  /** One random-walk oracle round: md5(walk:step:node) mod degree
    * against the dst-sorted adjacency index — mirrors the Spark step
    * term for term. */
  private def rwRound(k: Int): String =
    s"""w$k AS (SELECT w.walk, a.dst AS cur,
         w.path || '->' || CAST(a.dst AS VARCHAR) AS path
       FROM w${k - 1} w
       JOIN deg dg ON dg.node = w.cur
       JOIN adj a ON a.src = w.cur
         AND a.idx = ${Det.md5SliceSql(
           s"w.walk || ':' || $k || ':' || w.cur", 1, 8)} % dg.degree)"""

  /** One PageRank oracle round: sums s$k from r$prev, ranks r$k. */
  private def prRound(k: Int): String = {
    val prev = s"r${k - 1}"
    s"""s$k AS (SELECT u.dst AS node, sum(r.fx // r.degree) AS sc
                FROM und u JOIN $prev r ON u.src = r.node GROUP BY u.dst),
        r$k AS (SELECT d.node, d.degree,
                  CAST($R15 + (85 * coalesce(s$k.sc, 0)) // 100 AS BIGINT) AS fx
                FROM deg d LEFT JOIN s$k ON d.node = s$k.node)"""
  }

  /** One LPA oracle round: counts c$k from l$prev, winners l$k.
    * MATERIALIZED for the same round-depth reason as prRound. */
  private def lpaRound(k: Int): String = {
    val prev = s"l${k - 1}"
    s"""c$k AS (SELECT u.dst AS node, l.label, count(*) AS cnt
                FROM und u JOIN $prev l ON u.src = l.node
                GROUP BY u.dst, l.label),
        l$k AS MATERIALIZED (SELECT node, label FROM (
                SELECT node, label,
                       row_number() OVER (PARTITION BY node
                         ORDER BY cnt DESC, label) AS rn
                FROM c$k) WHERE rn = 1)"""
  }

  /** Unrolled LPA label CTEs ending in l$LpaRounds. */
  private val lpaCtes =
    s"""l0 AS (SELECT node, node AS label FROM deg),
       ${(1 to LpaRounds).map(lpaRound).mkString(",\n")}"""

  /** Oriented-triangle CTEs shared by the three triangle consumers —
    * replays the `triangles` enumeration (orientation, wedge bound,
    * closure) from the pairs/deg CTEs. */
  private val triCtes =
    """wd AS (SELECT p.a, p.b, da.degree AS da, db.degree AS db
              FROM pairs p JOIN deg da ON da.node = p.a
                           JOIN deg db ON db.node = p.b),
       o AS (SELECT CASE WHEN da < db OR (da = db AND a < b)
                         THEN a ELSE b END AS s,
                    CASE WHEN da < db OR (da = db AND a < b)
                         THEN b ELSE a END AS t,
                    CASE WHEN da < db OR (da = db AND a < b)
                         THEN db ELSE da END AS tdeg
             FROM wd),
       tri AS (SELECT e1.s, e1.t AS t1, e2.t AS t2
               FROM o e1 JOIN o e2 ON e1.s = e2.s
                    AND (e1.tdeg < e2.tdeg
                         OR (e1.tdeg = e2.tdeg AND e1.t < e2.t))
               JOIN o e3 ON e3.s = e1.t AND e3.t = e2.t)"""

  /** One k-core peel round: induced edges i$k among a${k-1}, induced
    * degrees d$k, survivors a$k (threshold from the kth CTE). */
  private def kcoreRound(k: Int): String = {
    val prev = s"a${k - 1}"
    s"""i$k AS MATERIALIZED (SELECT p.a, p.b FROM pairs p
                JOIN $prev x ON p.a = x.node
                JOIN $prev y ON p.b = y.node),
        d$k AS MATERIALIZED (SELECT node, count(*) AS degree
                FROM (SELECT a AS node FROM i$k
                      UNION ALL SELECT b FROM i$k) GROUP BY 1),
        a$k AS MATERIALIZED (SELECT node FROM d$k, kth
                WHERE degree >= kth.kth)"""
  }

  val oracles: Map[String, String] = Map(
    "graph_link_predict" ->
      s"""WITH $edgeCtes,
         probes AS (SELECT node AS u FROM deg
                    ORDER BY md5(CAST(node AS VARCHAR)), node LIMIT 20),
         uv AS (SELECT p.u, un.dst AS v FROM und un
                JOIN probes p ON un.src = p.u),
         wedges AS (SELECT uv.u, un.dst AS w FROM uv
                    JOIN und un ON un.src = uv.v
                    WHERE un.dst <> uv.u),
         cn AS (SELECT u, w, count(*) AS cn FROM wedges GROUP BY 1, 2),
         ne AS (SELECT c.u, c.w, c.cn FROM cn c
                WHERE NOT EXISTS (SELECT 1 FROM uv e
                                  WHERE e.u = c.u AND e.v = c.w))
         SELECT u, w, cn, rnk FROM (
           SELECT u, w, cn,
                  CAST(row_number() OVER (PARTITION BY u
                    ORDER BY cn DESC, w) AS INTEGER) AS rnk
           FROM ne) WHERE rnk <= 3 ORDER BY u, rnk""",

    // Same wedge/probe/anti-join chain as link_predict plus the middle-
    // degree join; the 1/ln(degree) weight replays as the identical
    // closed-form IEEE expression floored into the fixed-point long sum.
    "graph_adamic_adar" ->
      s"""WITH $edgeCtes,
         probes AS (SELECT node AS u FROM deg
                    ORDER BY md5(CAST(node AS VARCHAR)), node LIMIT 20),
         uv AS (SELECT p.u, un.dst AS v FROM und un
                JOIN probes p ON un.src = p.u),
         wedges AS (SELECT uv.u, uv.v, un.dst AS w FROM uv
                    JOIN und un ON un.src = uv.v
                    WHERE un.dst <> uv.u),
         wd AS (SELECT we.u, we.w, d.degree FROM wedges we
                JOIN deg d ON d.node = we.v),
         aa AS (SELECT u, w, count(*) AS cn,
                  sum(CAST(floor(1.0 / ln(CAST(degree AS DOUBLE))
                    * 1099511627776.0) AS BIGINT)) AS aal
                FROM wd GROUP BY 1, 2),
         ne AS (SELECT a.u, a.w, a.cn, a.aal FROM aa a
                WHERE NOT EXISTS (SELECT 1 FROM uv e
                                  WHERE e.u = a.u AND e.v = a.w))
         SELECT u, w, cn,
                round(CAST(aal AS DOUBLE) / 1099511627776.0, 6) AS aa, rnk
         FROM (SELECT u, w, cn, aal,
                      CAST(row_number() OVER (PARTITION BY u
                        ORDER BY aal DESC, w) AS INTEGER) AS rnk
               FROM ne) WHERE rnk <= 3 ORDER BY u, rnk""",

    // Same md5-smallest-20 per-user cap, same capped degrees, one
    // closed-form cosine.
    "graph_bipartite_project" ->
      """WITH cp AS (
           SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         capped AS (SELECT c, p FROM (
             SELECT c, p, row_number() OVER (PARTITION BY c
               ORDER BY md5(CAST(p AS VARCHAR)), p) AS rk
             FROM cp) WHERE rk <= 20),
         deg AS (SELECT p, count(*) AS dg FROM capped GROUP BY 1),
         pairs AS (SELECT x.p AS a, y.p AS b, count(*) AS cooc
                   FROM capped x JOIN capped y
                     ON x.c = y.c AND x.p < y.p
                   GROUP BY 1, 2)
         SELECT pr.a, pr.b, CAST(pr.cooc AS BIGINT) AS cooc,
                round(CAST(pr.cooc AS DOUBLE)
                  / sqrt(CAST(da.dg AS DOUBLE) * db.dg), 6) AS cosine
         FROM pairs pr
         JOIN deg da ON da.p = pr.a
         JOIN deg db ON db.p = pr.b
         ORDER BY pr.cooc DESC, pr.a, pr.b LIMIT 20""",

    // Walk replay: identical dst-sorted adjacency index, identical
    // md5(walk:step:node) mod degree pick per step.
    "graph_random_walk" ->
      s"""WITH $edgeCtes,
         adj AS MATERIALIZED (SELECT src, dst,
             row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx
           FROM und),
         probes AS (SELECT node FROM deg
                    ORDER BY md5(CAST(node AS VARCHAR)), node LIMIT 20),
         w0 AS (SELECT node AS walk, node AS cur,
                  CAST(node AS VARCHAR) AS path FROM probes),
         ${(1 to 3).map(rwRound).mkString(",\n         ")}
         SELECT walk, cur AS final_node, path FROM w3 ORDER BY walk""",

    "graph_kcore" ->
      s"""WITH $edgeCtes,
         kth AS MATERIALIZED (SELECT CAST(ceil(quantile_cont(degree, 0.5)
                   * 0.7) AS BIGINT) AS kth FROM deg),
         a0 AS MATERIALIZED (SELECT node FROM deg, kth
                 WHERE degree >= kth.kth),
         ${(1 to KCoreRounds).map(kcoreRound).mkString(",\n")},
         fin AS MATERIALIZED (SELECT p.a, p.b FROM pairs p
                 JOIN a$KCoreRounds x ON p.a = x.node
                 JOIN a$KCoreRounds y ON p.b = y.node)
         SELECT node, count(*) AS core_degree
         FROM (SELECT a AS node FROM fin UNION ALL SELECT b FROM fin)
         GROUP BY 1 ORDER BY node""",
    "graph_degree_stats" ->
      s"""WITH $edgeCtes
         SELECT degree, count(*) AS n_nodes,
                min(node) AS min_node, max(node) AS max_node
         FROM deg GROUP BY degree ORDER BY degree""",

    "graph_pagerank" ->
      s"""WITH $edgeCtes,
         r0 AS (SELECT node, degree, CAST($Qfx AS BIGINT) AS fx FROM deg),
         ${(1 to Iters).map(prRound).mkString(",\n")}
         SELECT node, CAST(fx AS DOUBLE) / $Qfx.0 AS pr
         FROM r$Iters ORDER BY node""",

    "graph_triangle_count" ->
      s"""WITH $edgeCtes,
         $triCtes
         SELECT s AS node, count(*) AS n_tri
         FROM tri GROUP BY s ORDER BY node""",

    "graph_common_neighbors" ->
      s"""WITH $edgeCtes,
         $triCtes,
         tedges AS (SELECT least(s, t1) AS a, greatest(s, t1) AS b FROM tri
                    UNION ALL SELECT least(s, t2), greatest(s, t2) FROM tri
                    UNION ALL SELECT least(t1, t2), greatest(t1, t2) FROM tri),
         cnt AS (SELECT a, b, count(*) AS cn FROM tedges GROUP BY a, b)
         SELECT p.a, p.b,
                CAST(coalesce(cnt.cn, 0) AS BIGINT) AS cn,
                round(CAST(coalesce(cnt.cn, 0) AS DOUBLE) /
                      (da.degree + db.degree - coalesce(cnt.cn, 0)), 4)
                  AS jaccard
         FROM pairs p
         JOIN deg da ON da.node = p.a
         JOIN deg db ON db.node = p.b
         LEFT JOIN cnt ON cnt.a = p.a AND cnt.b = p.b
         ORDER BY p.a, p.b""",

    "graph_clustering_coeff" ->
      s"""WITH $edgeCtes,
         $triCtes,
         corners AS (SELECT s AS node FROM tri
                     UNION ALL SELECT t1 FROM tri
                     UNION ALL SELECT t2 FROM tri),
         pt AS (SELECT node, count(*) AS n_tri FROM corners GROUP BY node)
         SELECT d.node, d.degree,
                CAST(coalesce(pt.n_tri, 0) AS BIGINT) AS n_tri,
                CASE WHEN d.degree >= 2
                     THEN round(2.0 * coalesce(pt.n_tri, 0) /
                                (d.degree * (d.degree - 1)), 4)
                     ELSE 0.0 END AS coeff
         FROM deg d LEFT JOIN pt ON pt.node = d.node
         ORDER BY d.node""",

    "graph_khop" ->
      s"""WITH $edgeCtes,
         seeds AS (SELECT DISTINCT d.node FROM deg d
                   JOIN part p ON p.p_partkey = d.node AND p.p_size = 50),
         d1 AS (SELECT DISTINCT u.dst AS node FROM und u
                JOIN seeds sd ON u.src = sd.node
                WHERE u.dst NOT IN (SELECT node FROM seeds)),
         d2 AS (SELECT DISTINCT u.dst AS node FROM und u
                JOIN d1 ON u.src = d1.node
                WHERE u.dst NOT IN (SELECT node FROM seeds
                                    UNION ALL SELECT node FROM d1)),
         d3 AS (SELECT DISTINCT u.dst AS node FROM und u
                JOIN d2 ON u.src = d2.node
                WHERE u.dst NOT IN (SELECT node FROM seeds
                                    UNION ALL SELECT node FROM d1
                                    UNION ALL SELECT node FROM d2))
         SELECT node, 0 AS dist FROM seeds
         UNION ALL SELECT node, 1 FROM d1
         UNION ALL SELECT node, 2 FROM d2
         UNION ALL SELECT node, 3 FROM d3
         ORDER BY node""",

    // Full (non-frontier) relaxation unrolled 3 rounds — after k rounds
    // both formulations hold the identical invariant label "min cost
    // over ≤k-edge paths", so the frontier optimization on the Spark
    // side never changes the result, only the per-round work set.
    // Weighted pairs re-derive the Spark snapshot: DISTINCT (ok, pk)
    // first so cnt counts orders, then w = 10 - LEAST(cnt, 9).
    "graph_sssp" ->
      s"""WITH $edgeCtes,
         liD AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                 FROM lineitem),
         wpairs AS MATERIALIZED (
           SELECT x.pk AS a, y.pk AS b,
                  CAST(10 - LEAST(count(*), 9) AS BIGINT) AS w
           FROM liD x JOIN liD y ON x.ok = y.ok AND x.pk < y.pk
           GROUP BY x.pk, y.pk),
         wund AS (SELECT a AS src, b AS dst, w FROM wpairs
                  UNION ALL SELECT b, a, w FROM wpairs),
         s0 AS MATERIALIZED (
           SELECT DISTINCT d.node, CAST(0 AS BIGINT) AS dist
           FROM deg d JOIN part p ON p.p_partkey = d.node
                                 AND p.p_size = 50),
         s1 AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
           SELECT node, dist FROM s0
           UNION ALL
           SELECT u.dst, x.dist + u.w FROM s0 x
           JOIN wund u ON u.src = x.node) GROUP BY node),
         s2 AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
           SELECT node, dist FROM s1
           UNION ALL
           SELECT u.dst, x.dist + u.w FROM s1 x
           JOIN wund u ON u.src = x.node) GROUP BY node),
         s3 AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
           SELECT node, dist FROM s2
           UNION ALL
           SELECT u.dst, x.dist + u.w FROM s2 x
           JOIN wund u ON u.src = x.node) GROUP BY node)
         SELECT node, dist FROM s3 ORDER BY node""",

    "graph_lpa" ->
      s"""WITH $edgeCtes,
         $lpaCtes
         SELECT node, label FROM l$LpaRounds ORDER BY node""",

    // Exact integer numerator 4·m·e_c − d_c² over 4m²; every factor
    // < 2^53 so the two DOUBLE casts are exact and the single division
    // is the same IEEE op in both engines.
    "graph_modularity" ->
      s"""WITH $edgeCtes,
         $lpaCtes,
         lab AS (SELECT node, label FROM l$LpaRounds),
         m AS (SELECT count(*) AS m FROM pairs),
         ein AS (SELECT la.label, count(*) AS e_in
                 FROM pairs p
                 JOIN lab la ON la.node = p.a
                 JOIN lab lb ON lb.node = p.b
                 WHERE la.label = lb.label
                 GROUP BY la.label),
         ds AS (SELECT l.label, count(*) AS n_nodes,
                       sum(d.degree) AS d_sum
                FROM deg d JOIN lab l ON l.node = d.node
                GROUP BY l.label)
         SELECT ds.label, ds.n_nodes,
                CAST(coalesce(ein.e_in, 0) AS BIGINT) AS e_in,
                CAST(ds.d_sum AS BIGINT) AS d_sum,
                round(CAST(4 * m.m * coalesce(ein.e_in, 0)
                           - ds.d_sum * ds.d_sum AS DOUBLE)
                      / CAST(4 * m.m * m.m AS DOUBLE), 6) AS contrib
         FROM ds LEFT JOIN ein ON ein.label = ds.label CROSS JOIN m
         ORDER BY ds.label""")
}
