package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one place every main (and the test session) gets its Spark
  * wiring from, so harness sessions cannot drift apart:
  *
  *  - [[session]]: master from `SPARK_GRAFT_MASTER`, else
  *    `local[SPARK_GRAFT_CPUS]` (default 4); shuffle partitions from
  *    `SPARK_GRAFT_SHUFFLE` (default cpus). Every session gets Kryo,
  *    UTC, UI off, [[GraftExtensions]] and WARN logging, plus the
  *    caller's extra confs.
  *  - [[select]]: the `SPARK_GRAFT_ONLY` key filter with its guard — a
  *    typo'd or empty list fails loudly instead of running nothing.
  *  - [[warm]]: first-touch of every fixture table, so the first timed
  *    key does not absorb footer reads and codegen.
  *  - [[KeyMetrics]]: per-key jobs/stages/tasks/executor time/job wall
  *    and shuffle read/write/spill from one listener.
  *
  * The key-looping harnesses (Bench, Verify, Explain) call
  * `Ckpt.releaseScratch()` after each key.
  */
object Harness {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
  /** Decouples shuffle partitions from thread count for scale
    * experiments (partitions ∝ input at constant threads). */
  val shuffle: Int = sys.env.get("SPARK_GRAFT_SHUFFLE").map(_.toInt)
    .getOrElse(cpus)
  /** A cluster manager (e.g. spark://host:7077 via spark-submit) for the
    * multi-JVM parity runs. Multi-host clusters also need
    * `spark.graft.stage.dir` on a shared path (see [[Stage.dir]]). */
  val master: String = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
  val only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")

  /** Extra confs of the streaming mains: the RocksDB state store, and
    * its changelog checkpointing switch. */
  val RocksDbProvider: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  val RocksDbChangelog =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  def session(extra: (String, String)*): SparkSession =
    session(master, shuffle, extra)

  def session(master: String, shuffle: Int,
      extra: Seq[(String, String)]): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shuffle.toString)
      // Kryo (round 17): the raw-RDD fixpoint loops serialize boxed
      // pairs through spark.serializer for shuffle and persisted blocks;
      // the Java default measured ~2x slower there. UnsafeRow SQL paths
      // are unaffected.
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // The NTZ→TimestampType cast in Tables.events is session-TZ
      // dependent: an unpinned TZ shifts event-time filters on a
      // non-UTC host.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `all` filtered by a comma-separated key list (None = every key).
    * Order of `all` is kept. */
  def select[V](only: Option[String], all: Map[String, V]): Map[String, V] =
    only match {
      case None => all
      case Some(raw) =>
        val ks = raw.split(",").map(_.trim).filter(_.nonEmpty).toSet
        require(ks.nonEmpty, "SPARK_GRAFT_ONLY is set but selects no keys")
        val unknown = ks -- all.keySet
        require(unknown.isEmpty,
          s"SPARK_GRAFT_ONLY names unknown keys: ${unknown.toSeq.sorted.mkString(", ")}")
        all.filter { case (k, _) => ks(k) }
    }

  /** The declared keys `SPARK_GRAFT_ONLY` selects. */
  def keys(): Map[String, (SparkSession, String) => DataFrame] =
    select(only, SparkEntry.queries)

  def warm(spark: SparkSession, sfDir: String): Unit =
    Tables.names.foreach { t =>
      try {
        val df = if (t == "events") Tables.events(spark, sfDir)
                 else Tables.table(spark, sfDir, t)
        df.limit(1).count()
      } catch { case e: Throwable =>
        log.warn(s"Harness: warm-up read of table $t under $sfDir failed", e)
      }
    }

  /** One key's cost. `rows` is -1 until [[KeyMetrics.measure]] sets it. */
  final case class KeyRecord(jobs: Long, stages: Long, tasks: Long,
      execMs: Long, jobWallMs: Long, shr: Long, shw: Long, spill: Long,
      rows: Long = -1L) {
    def -(o: KeyRecord): KeyRecord = KeyRecord(jobs - o.jobs,
      stages - o.stages, tasks - o.tasks, execMs - o.execMs,
      jobWallMs - o.jobWallMs, shr - o.shr, shw - o.shw, spill - o.spill)
  }

  /** Running totals over every job and stage of the context; a key's
    * record is the difference of two drained snapshots. Listener events
    * post asynchronously, so [[snapshot]] drains the bus first. */
  final class KeyMetrics(sc: SparkContext) extends SparkListener {
    private val jobs, stages, tasks, execMs, jobWallMs, shr, shw, spill =
      new AtomicLong
    private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
    sc.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      jobStart.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(t => jobWallMs.addAndGet(e.time - t))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(e.stageInfo.numTasks)
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        execMs.addAndGet(m.executorRunTime)
        shr.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shw.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }

    def snapshot(): KeyRecord = {
      org.apache.spark.GraftListenerBridge.drain(sc)
      KeyRecord(jobs.get, stages.get, tasks.get, execMs.get, jobWallMs.get,
        shr.get, shw.get, spill.get)
    }

    /** Record of `action`, which returns the key's row count. */
    def measure(action: => Long): KeyRecord = {
      val before = snapshot()
      val rows = action
      (snapshot() - before).copy(rows = rows)
    }

    def close(): Unit = sc.removeSparkListener(this)
  }
}
