package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener}
import java.util.Locale

/** Dev-tool main (round 14, verdict 3): DRIVER-JVM kill/restart
  * recovery for the stateful streaming shapes — the one failure class
  * the executor-SIGKILL probes (StreamProbe, streamrate_kill.sh) never
  * exercised.
  *
  * StreamRate's MemoryStream cannot survive a driver restart (the
  * buffered batches live in the driver heap), so this probe uses the
  * durable replayable pair the production shape would: a FILE source
  * (one parquet file per micro-batch, maxFilesPerTrigger=1) and the
  * transactional FILE sink (exactly-once via the sink metadata log),
  * with the same dedup / session state shapes as StreamRate:
  *  - dedup:   dropDuplicatesWithinWatermark over 90% fresh + 10%
  *             in-horizon duplicate ids, event time +5 min/batch,
  *             10-min watermark;
  *  - session: session_window(5 min) MERGING state, per-user 10-event
  *             bursts 20 min apart, 10-min watermark;
  *  - join / leftjoin (round-15 verdict 7): stream-stream
  *             time-interval join over a FILE PAIR (left + right
  *             source, batch-aligned via maxFilesPerTrigger=1) —
  *             two-sided watermark state; leftjoin's null-padded rows
  *             emit only when the watermark passes the join bound.
  *
  * Crash protocol (tools/streamcrash.sh drives it):
  *  1. CONTROL run: fresh work dir, runs all batches to completion.
  *  2. CRASH run: fresh work dir, SPARK_GRAFT_CRASH_AFTER=k — a query
  *     listener calls Runtime.halt(137) after the k-th progress event:
  *     no shutdown hooks, no sink/checkpoint flush beyond what already
  *     committed — the honest SIGKILL twin, mid-run at rate.
  *  3. RESUME run: the SAME command again; the query restarts from the
  *     durable checkpoint (offsets + RocksDB state), replays the
  *     in-flight batch, and finishes the remaining input.
  *  4. `check`: control output EXCEPT ALL crash+resume output (both
  *     directions) must be empty — byte-equal batch effects across the
  *     kill, i.e. no lost AND no duplicated rows (the file sink's
  *     metadata log discards any uncommitted replay duplicates).
  *
  * Input files are derive-never-draw (pure function of batch index),
  * so control and crash runs read identical bytes. Inputs are
  * generated once per work dir and guarded by a _READY marker; a
  * resume run sees the marker and goes straight to the query.
  *
  * Usage:
  *   runMain graft.StreamCrash run <mode> <rowsPerBatch> <batches> <workDir>
  *   runMain graft.StreamCrash check <ctlDir> <crashDir>
  * Env: SPARK_GRAFT_CRASH_AFTER=k (halt after k progress events),
  *      SPARK_GRAFT_SR_CHANGELOG=1 (RocksDB changelog checkpointing),
  *      SPARK_GRAFT_CPUS.
  * Emits one STREAMCRASH JSON line per completed run/check; the crash
  * run emits none (the JVM halts mid-query, like a real kill).
  */
object StreamCrash {
  private def fmt(v: Double): String = String.format(Locale.ROOT, "%.3f", v)
  private val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  private def session(): SparkSession = {
    val changelog = sys.env.get("SPARK_GRAFT_SR_CHANGELOG").contains("1")
    Harness.session(Harness.RocksDbProvider,
      Harness.RocksDbChangelog -> changelog.toString)
  }

  /** One deterministic input file per batch: b000.parquet.. — written
    * through a staging dir and renamed in batch order, so the file
    * source's (modTime, path) ordering replays event time
    * monotonically, exactly like the live feed it stands in for. */
  private def genInput(spark: SparkSession, mode: String, rowsPerBatch: Int,
      batches: Int, inDir: String): Unit = {
    val fs = Stage.fs(spark, inDir)
    val ready = new org.apache.hadoop.fs.Path(s"$inDir/_READY")
    if (fs.exists(ready)) return
    // No _READY ⇒ either first run or a previous run died mid-gen.
    // Regenerating over leftover bNNN.parquet files would make the
    // renames below fail (rename onto an existing local-fs path
    // returns false), silently keeping stale batches and breaking the
    // control/crash input-identity assumption (round-15 advice) —
    // start from an empty dir instead.
    fs.delete(new org.apache.hadoop.fs.Path(inDir), true)
    fs.delete(new org.apache.hadoop.fs.Path(inDir + "_right"), true)
    val users = math.max(100, rowsPerBatch / 10)
    fs.mkdirs(new org.apache.hadoop.fs.Path(inDir))
    def writeBatch(df: DataFrame, dir: String, b: Int): Unit = {
      val stg = s"$dir/_stg"
      df.coalesce(1).write.mode("overwrite").parquet(stg)
      val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$stg/part-*"))
        .head.getPath
      require(fs.rename(part,
        new org.apache.hadoop.fs.Path(f"$dir/b$b%03d.parquet")),
        s"rename of batch $b input failed — stale file in $dir?")
      fs.delete(new org.apache.hadoop.fs.Path(stg), true)
    }
    (0 until batches).foreach { b =>
      // join modes write a FILE PAIR per batch (left + right source);
      // maxFilesPerTrigger=1 on each source keeps the two streams
      // batch-aligned through control, crash, and resume alike
      if (mode == "join" || mode == "leftjoin") {
        val t0 = base + b * 10L * 60 * 1000
        // left: fresh keys per batch, event times spread over 10 min
        val left = spark.range(rowsPerBatch.toLong).select(
          timestamp_millis(lit(t0) + (col("id") % 600) * lit(1000L)).as("ts"),
          (col("id") + b.toLong * rowsPerBatch).as("k"),
          (col("id") * 7 % 1000).as("lval"))
        // right: 80% of left keys matched IN the 5-min join bound
        // (rts = ts + ≤4 min); the id%5==0 keys have no right row —
        // the outer-null arm the left_outer mode must emit once the
        // watermark closes their window
        val right = spark.range(rowsPerBatch.toLong)
          .filter(col("id") % 5 =!= 0)
          .select(
            timestamp_millis(lit(t0) + (col("id") % 600) * lit(1000L)
              + (col("id") % 240) * lit(1000L)).as("rts"),
            (col("id") + b.toLong * rowsPerBatch).as("rk"),
            (col("id") * 13 % 1000).as("rval"))
        writeBatch(left, inDir, b)
        writeBatch(right, inDir + "_right", b)
      } else {
      val df = mode match {
        case "dedup" =>
          val t = new Timestamp(base + b * 5L * 60 * 1000)
          val fresh = (rowsPerBatch * 9) / 10
          // 90% fresh ids + 10% in-horizon duplicates of the previous
          // batch's ids (batch 0 duplicates itself) — StreamRate's shape
          spark.range(rowsPerBatch.toLong).select(
            lit(t).as("ts"),
            when(col("id") < fresh, col("id") + b.toLong * rowsPerBatch)
              .otherwise(col("id") - fresh +
                math.max(0, b - 1).toLong * rowsPerBatch).as("event_id"))
        case "session" =>
          // one 10-event burst per user, events 20 s apart, bursts
          // 20 min apart — each batch's watermark closes the previous
          // burst's sessions
          val t0 = base + b * 20L * 60 * 1000
          // div (integer) and timestamp_millis: `/` on longs is DOUBLE
          // and a bigint→timestamp cast reads SECONDS, not millis
          spark.range(users.toLong * 10).select(
            timestamp_millis((col("id") % 10) * lit(20000L) + lit(t0)).as("ts"),
            expr("id div 10").as("user_id"))
        case other => sys.error(s"unknown mode $other")
      }
      writeBatch(df, inDir, b)
      }
    }
    fs.create(ready).close()
  }

  private def run(mode: String, rowsPerBatch: Int, batches: Int,
      dir: String): Unit = {
    val crashAfter = sys.env.get("SPARK_GRAFT_CRASH_AFTER").map(_.toInt)
      .getOrElse(0)
    val spark = session()
    genInput(spark, mode, rowsPerBatch, batches, s"$dir/input")
    val stateRows = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        stateRows.add(e.progress.stateOperators.map(_.numRowsTotal).sum)
        if (crashAfter > 0 && seen.incrementAndGet() >= crashAfter) {
          // the honest driver-SIGKILL twin: no shutdown hooks, no
          // stop(), no flush beyond batches already committed
          System.err.println(s"STREAMCRASH halting after $crashAfter batches")
          Runtime.getRuntime.halt(137)
        }
      }
    })
    val in = spark.readStream
      .schema(mode match {
        case "dedup"             => "ts timestamp, event_id bigint"
        case "join" | "leftjoin" => "ts timestamp, k bigint, lval bigint"
        case _                   => "ts timestamp, user_id bigint"
      })
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/input")
    val out = mode match {
      case "dedup" =>
        in.withWatermark("ts", "10 minutes")
          .dropDuplicatesWithinWatermark("event_id")
      case "join" | "leftjoin" =>
        // stream-stream time-interval join — TWO-SIDED watermark state
        // (each side buffers rows until the other side's watermark
        // clears the 5-min bound), the one stateful shape the crash
        // battery had not covered (round-15 verdict 7). left_outer
        // additionally emits null-padded rows only when the watermark
        // PASSES the bound — state-timeout-driven output, the hardest
        // thing to replay exactly-once across a driver kill.
        val right = spark.readStream
          .schema("rts timestamp, rk bigint, rval bigint")
          .option("maxFilesPerTrigger", 1)
          .parquet(s"$dir/input_right")
        in.withWatermark("ts", "10 minutes")
          .join(right.withWatermark("rts", "10 minutes"),
            expr("k = rk AND rts >= ts AND rts <= ts + interval 5 minutes"),
            if (mode == "join") "inner" else "left_outer")
      case _ =>
        in.withWatermark("ts", "10 minutes")
          .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n"))
          .select(col("session_window.start").as("w_start"),
            col("session_window.end").as("w_end"), col("user_id"), col("n"))
    }
    val t0 = System.nanoTime()
    val q = out.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$dir/ckpt")
      .option("path", s"$dir/out")
      .format("parquet").start()
    q.processAllAvailable()
    q.stop()
    val wall = (System.nanoTime() - t0) / 1e9
    val outRows = spark.read.parquet(s"$dir/out").count()
    val st = stateRows.toArray(new Array[java.lang.Long](0)).map(_.toLong)
    println(s"""STREAMCRASH {"phase":"run","mode":"$mode",""" +
      s""""rowsPerBatch":$rowsPerBatch,"batches":$batches,""" +
      s""""progressEvents":${st.length},"wallSec":${fmt(wall)},""" +
      s""""outRows":$outRows,""" +
      s""""stateRows":[${st.mkString(",")}],""" +
      s""""changelog":${sys.env.get("SPARK_GRAFT_SR_CHANGELOG").contains("1")}}""")
    spark.stop()
  }

  /** Exactly-once gate: control and crash+resume outputs must be
    * multiset-equal (EXCEPT ALL both ways — catches both a lost batch
    * and a replayed duplicate). Exit 3 on any difference. */
  private def check(ctlDir: String, crashDir: String): Unit = {
    val spark = session()
    val ctl = spark.read.parquet(s"$ctlDir/out")
    val cr = spark.read.parquet(s"$crashDir/out")
    val onlyCtl = ctl.exceptAll(cr).count()
    val onlyCrash = cr.exceptAll(ctl).count()
    val n = ctl.count()
    println(s"""STREAMCRASH {"phase":"check","ctlRows":$n,""" +
      s""""crashRows":${cr.count()},"onlyCtl":$onlyCtl,""" +
      s""""onlyCrash":$onlyCrash,"exactlyOnce":${
        onlyCtl == 0 && onlyCrash == 0 && n > 0}}""")
    spark.stop()
    if (onlyCtl != 0 || onlyCrash != 0 || n == 0) sys.exit(3)
  }

  def main(args: Array[String]): Unit = args(0) match {
    case "run"   => run(args(1), args(2).toInt, args(3).toInt, args(4))
    case "check" => check(args(1), args(2))
    case other   => sys.error(s"usage: StreamCrash run|check ... (got $other)")
  }
}
