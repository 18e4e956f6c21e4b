package graft

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Lineage truncation for iterative/fixpoint operators — durable when
  * configured, local otherwise.
  *
  * Every fixpoint loop in this engine (connected components, PageRank,
  * k-core, BFS/k-hop, SSSP, LPA, greedy k-center/MMR, Lloyd rounds,
  * BPE merges, power iteration, tf reuse) must truncate per-round
  * lineage: round N's plan otherwise embeds rounds 1..N-1 and work
  * grows quadratically in depth. `localCheckpoint` does that cheaply,
  * but its blocks live ONLY in executor storage — they are not
  * recomputable (lineage is gone) and not replicated, so on a real
  * cluster losing one executor mid-loop kills the job unrecoverably.
  * The round-9 worker-kill probe proved this failure mode is real and
  * that a reliable checkpoint (HDFS/S3A-backed files) survives it.
  *
  * This object is the ONE switch between the two modes:
  *
  *  - default (no conf): eager `localCheckpoint` — right for local[*]
  *    and the driver gate, zero extra I/O;
  *  - `spark.graft.checkpointDir=<cluster-visible path>`: reliable
  *    `checkpoint` through the Hadoop FS, so every truncation point
  *    survives executor loss. The frame is persisted (MEMORY_AND_DISK)
  *    before the checkpoint and unpersisted after: Spark's reliable
  *    checkpoint runs a SEPARATE job that would otherwise recompute
  *    the full lineage a second time (documented RDD.checkpoint
  *    behavior) — the persist makes the checkpoint job read the
  *    just-computed blocks instead.
  *
  * Two entry points: `Ckpt.df` is the one-shot truncation of a single
  * frame; `Ckpt.loop` is the per-loop runtime every fixpoint uses for
  * its evolving generations (see [[Loop]]).
  *
  * `SparkContext.setCheckpointDir` appends a fresh UUID subdirectory
  * on every call and a context holds exactly ONE checkpoint dir, so
  * the dir is re-set only when the requested BASE changes (repeat
  * calls with the same base are no-ops — no per-call UUID spray).
  *
  * Checkpoint-file lifecycle (round-11): Spark never deletes reliable
  * checkpoint files unless `spark.cleaner.referenceTracking
  * .cleanCheckpoints=true` (GC-driven, nondeterministic, and read at
  * context start), so a durable fixpoint loop used to grow the dir by
  * one full snapshot per round per run. A `Loop` bounds that: each
  * generation's truncation deletes generation N-2's files once
  * generation N is materialized. Keep-last-2 (not last-1) is the
  * safety margin for the loops here, where a sibling frame computed
  * lazily from round N-1 may still read N-1's files while round N
  * lands; nothing in any loop reaches two generations back (every
  * frame referencing N-2 was itself materialized during round N-1).
  * Frames whose per-round derivatives are LAZILY accumulated into the
  * final result (BPE's merge rules, greedy decode's steps, k-center's
  * picks) must NOT go through a loop generation — their old files stay
  * referenced until the query finishes; those sites keep plain
  * `Ckpt.df` (their per-round frames are 1-row/vocab-sized, so growth
  * is negligible).
  */
object Ckpt {
  /** The one durable-checkpoint conf. */
  val DirConf = "spark.graft.checkpointDir"

  def dir(s: SparkSession): Option[String] =
    s.conf.getOption(DirConf).filter(_.nonEmpty)

  private val baseFor =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Point the context checkpoint dir at `base` if it isn't already
    * (see header for the change-of-base semantics). A cross-base
    * re-point is legal but warned loudly: it means the checkpoint conf
    * changed within one application, which sprays a UUID subdir per
    * switch and can race under concurrent queries. */
  def ensure(s: SparkSession, base: String): Unit = synchronized {
    val k = s.sparkContext.applicationId
    val cur = baseFor.get(k)
    if (cur != base || s.sparkContext.getCheckpointDir.isEmpty) {
      if (cur != null && cur != base) {
        crossBaseRepoints += 1
        log.warn(
          s"Ckpt: re-pointing the ONE global checkpoint dir '$cur' -> " +
            s"'$base'. $DirConf changed within this application; each " +
            "switch creates a fresh UUID subdir and concurrent queries " +
            "can race the global pointer. Keep ONE base per application.")
      }
      s.sparkContext.setCheckpointDir(base)
      baseFor.put(k, base)
    }
  }

  /** Count of cross-base re-points (test observability for the
    * re-point warning path). */
  @volatile private[graft] var crossBaseRepoints = 0L

  /** Truncate `frame`'s lineage: reliable checkpoint under the
    * configured dir, else eager localCheckpoint. Both branches are
    * eager, so callers may rely on the result being materialized. */
  def df(frame: DataFrame): DataFrame =
    dir(frame.sparkSession) match {
      case Some(b) =>
        ensure(frame.sparkSession, b)
        frame.persist(StorageLevel.MEMORY_AND_DISK)
        val out = frame.checkpoint(eager = true)
        frame.unpersist(blocking = false)
        out
      case None =>
        val out = frame.localCheckpoint(eager = true)
        org.apache.spark.sql.GraftSqlBridge.backingRdd(out)
          .foreach(registerScratch)
        out
    }

  /** Round 18 (suite-context churn, guide §5 "unpersist when done"):
    * a local-mode truncation's blocks stay pinned until the
    * ContextCleaner happens to GC the RDD — across a 279-key × 3-pass
    * bench run that is thousands of dead block sets competing with
    * execution memory, the round-17 "suite-context churn" (identical
    * trees drifting 150→183 s, untouched keys ×1.3–1.6). Every
    * local-mode scratch RDD (and every loop's final generation)
    * registers here, and the key-looping harnesses (Bench, Verify,
    * Explain) release the lot once a key's ONE action has materialized
    * its result (Explain: once the key's frame is built). Callers must
    * not re-read a released frame —
    * localCheckpoint blocks are gone, not recomputable — which holds in
    * every harness (one action per key, frame discarded after; the
    * specs' multi-action frames run under sessions that never call
    * releaseScratch mid-key). Durable mode registers only a loop's final
    * generation: its data lives in checkpoint FILES whose lifecycle the
    * loop manages. */
  private val scratch =
    new java.util.concurrent.ConcurrentLinkedQueue[RDD[_]]()

  private[graft] def registerScratch(rdd: RDD[_]): Unit = {
    scratch.add(rdd)
    ()
  }

  /** Release every scratch block registered since the last call.
    * Non-blocking unpersists: the point is to hand the blocks to the
    * BlockManager for eviction now instead of after an eventual GC. A
    * failed release is logged, never thrown: the key's result is
    * already materialized. */
  def releaseScratch(): Unit = {
    var r = scratch.poll()
    while (r != null) {
      try r.unpersist(blocking = false)
      catch {
        case e: Throwable =>
          log.warn(s"Ckpt: could not release scratch RDD ${r.id}", e)
      }
      r = scratch.poll()
    }
  }

  /** Best-effort recursive delete of a superseded checkpoint's files.
    * Cleanup must never fail the query — a missing path (already
    * cleaned, or localCheckpoint mode) is simply ignored. */
  private def deleteFile(s: SparkSession, file: String): Unit =
    try {
      val p = new org.apache.hadoop.fs.Path(file)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    } catch {
      case e: Exception =>
        log.warn(s"Ckpt: could not delete superseded checkpoint $file", e)
    }

  /** Storage level of every RDD a loop holds across rounds: SERIALIZED
    * (round-17 verdict 5, measured in round-17 of
    * git show 79d8cf5:SCALE.md). A deserialized block holds ~48-64 B of
    * Tuple2/boxed-Long objects per pair where the serialized stream holds
    * a fraction of that, which matters when a constrained heap pins the
    * edge list + two generations at once. sf10 components, solo, 3-pass
    * medians: 8 g SER 122.0 s vs deser 167.2 s (-27%); 16 g SER 155.5 s
    * vs deser 150.3 s (+3%, box noise). localCheckpoint keeps a pre-set
    * level, only adding the disk bit
    * (LocalRDDCheckpointData.transformStorageLevel), so the level holds
    * in both modes. */
  val Level: StorageLevel = StorageLevel.MEMORY_AND_DISK_SER

  /** A fresh per-loop runtime. One per loop invocation; never share
    * across queries. */
  def loop(s: SparkSession): Loop = new Loop(s)

  /** The per-loop runtime: lineage truncation, partitioner sizing and
    * release of superseded generations, for both loop shapes here.
    *
    *  - DataFrame loops (`df`): one evolving frame, each generation an
    *    eager `Ckpt.df`; durable mode deletes generation N-2's files
    *    once N is materialized (keep-last-2, see header).
    *  - RDD loops (`pin`/`done`/`release`/`finish`): co-partitioned
    *    RDD generations at [[Level]] under one shared partitioner.
    *    Default mode: `pin` persists only — the loop body stays LAZY
    *    and a fixed-round lineage stays intact, so one action job
    *    recomputes any lost block; `done` is a no-op (zero per-round
    *    driver barriers). `pin(r, truncate = true)` also marks a
    *    localCheckpoint, for unbounded loops that materialize every
    *    round themselves. Durable mode: `pin` also marks a reliable
    *    checkpoint, `done` materializes the generation (the persist
    *    means the checkpoint job reads blocks, not lineage) and
    *    releases generation N-2 once N lands (keep-last-2). `release`
    *    hands a superseded generation's blocks and checkpoint files
    *    back as soon as its last reader has run; `finish` closes the
    *    loop. */
  final class Loop private[Ckpt] (s: SparkSession) {
    private val base = dir(s)
    base.foreach(ensure(s, _))

    /** Partitioner shared by every generation of an RDD loop:
      * `rowsPerTask` sized, floored at min(8, parallelism) so a tiny
      * graph doesn't pay 32 tasks of scheduling per round, capped at
      * 4x defaultParallelism so a 100 TB graph fans out with the
      * cluster instead of funneling through a fixed count. */
    def partitioner(rows: Long, rowsPerTask: Long): HashPartitioner = {
      val par = s.sparkContext.defaultParallelism
      new HashPartitioner(math.max(
        math.min((rows / rowsPerTask).toInt + 1, par * 4),
        math.min(8, par)))
    }

    private var olderFile: Option[String] = None
    private var prevFile: Option[String] = None

    /** Truncate the loop's evolving frame (one generation). */
    def df(frame: DataFrame): DataFrame = {
      val out = Ckpt.df(frame)
      if (base.isDefined) {
        olderFile.foreach(deleteFile(s, _))
        olderFile = prevFile
        prevFile = org.apache.spark.sql.GraftSqlBridge.checkpointFile(out)
      }
      out
    }

    private val pinned = scala.collection.mutable.LinkedHashSet.empty[RDD[_]]
    private var older: Option[RDD[_]] = None
    private var prev: Option[RDD[_]] = None

    /** Hold `r` as a loop generation (see class doc for the modes). */
    def pin[T](r: RDD[T], truncate: Boolean = false): RDD[T] = {
      r.persist(Level)
      pinned += r
      if (base.isDefined) r.checkpoint()
      else if (truncate) r.localCheckpoint()
      r
    }

    /** Durable mode: materialize `r` and release generation N-2. */
    def done(r: RDD[_]): Unit =
      if (base.isDefined) {
        r.count()
        older.foreach(release)
        older = prev
        prev = Some(r)
      }

    /** Release `r`'s blocks and (durable mode) checkpoint files. Only
      * once every reader of `r` has run. */
    def release(r: RDD[_]): Unit = {
      r.unpersist(false)
      pinned -= r
      if (base.isDefined)
        r.getCheckpointFile.foreach(deleteFile(s, _))
    }

    /** Close the loop on `result`: default mode runs the ONE
      * materializing action unless `result` is already truncated
      * (localCheckpoint keeps `pin`'s level and truncates the whole
      * loop's lineage), then every other generation still held and
      * `alsoRelease` (the loop's inputs) are released — a lazy loop
      * that leaked its generations across bench passes measurably
      * thrashed the heap (git show 79d8cf5:OPTIMIZATION_r17.md). `result`
      * itself is released by the harness after the key's one action
      * ([[releaseScratch]]). */
    def finish[T](result: RDD[T], alsoRelease: RDD[_]*): RDD[T] = {
      if (base.isEmpty && !result.isCheckpointed) {
        result.localCheckpoint()
        result.count()
      }
      pinned.filter(_ ne result).toList.foreach(release)
      alsoRelease.foreach(release)
      registerScratch(result)
      result
    }
  }
}
