package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.util.Locale

/** Streaming sustained-throughput probe (r11 verdict task 7).
  *
  * The streaming family is recovery-proven (RocksDB soaks, executor
  * kill at batch 30 via StreamProbe) but had no sustained-RATE
  * measurement: the soaks push ~11 rows/batch, which says nothing
  * about rows/s or whether state growth stays bounded under real
  * volume. This main drives the three stateful state shapes as true
  * MemoryStream streams at a FIXED rows-per-batch input rate for a
  * fixed batch count, and reports:
  *   - sustained throughput (input rows / wall seconds, plus the
  *     per-batch latency spread p50/p95/max),
  *   - the state-store row count trajectory (batch 10 / half / final
  *     / max) — bounded state means the final value plateaus at the
  *     watermark-horizon (or key-population) level instead of
  *     tracking cumulative input.
  *
  * Modes (arg 1), each the probe twin of a declared key:
  *  - `session` (stream_session): session_window MERGING state. U =
  *    rowsPerBatch/10 users × 10 events per burst, bursts 20 min
  *    apart, 5-min gap, 10-min watermark → every batch closes the
  *    previous burst's sessions; state bounded at ~2 bursts of
  *    sessions regardless of batch count.
  *  - `dedup` (stream_dedup_watermark): dropDuplicatesWithinWatermark
  *    KEY state. 90% fresh ids + 10% in-horizon duplicates per batch,
  *    event time advances 5 min/batch, 10-min watermark → expired ids
  *    are evicted; state bounded at ~3 batches of keys.
  *  - `tws` (stream_stateful_custom): transformWithState with the
  *    O(1)-per-user session fold. FIXED population of
  *    max(100, rowsPerBatch/10) users → state plateaus at exactly the
  *    user count while input grows without bound.
  *
  * All three run on the RocksDB state store with a durable
  * checkpointLocation (the production configuration SCALE.md claims)
  * and a noop sink, so the measurement is the stateful operator — not
  * driver-side result accumulation.
  *
  * Usage: runMain graft.StreamRate <mode> [rowsPerBatch] [batches] [ckptDir]
  * Env knobs:
  *  - SPARK_GRAFT_SR_CHANGELOG=1 — RocksDB changelog checkpointing
  *    (per-batch delta upload instead of full snapshots; the knob that
  *    matters once per-partition state crosses snapshot-copy cost).
  *    Recorded in the JSON line so runs are self-describing.
  *  - SPARK_GRAFT_MASTER — run against a cluster master (StreamProbe's
  *    kill-harness shape): the probe then also writes a B<n> marker
  *    FILE per batch next to the checkpoint so an external killer can
  *    aim mid-run, and the per-batch latency array in the JSON shows
  *    the recovery spike (kill-batch latency vs p50 = recovery cost).
  * Emits one STREAMRATE JSON line; exits nonzero if the state
  * trajectory is NOT bounded (final > 1.5 × half-way high-water).
  */
object StreamRate {
  private def fmt(v: Double): String = String.format(Locale.ROOT, "%.3f", v)

  def main(args: Array[String]): Unit = {
    val mode = if (args.nonEmpty) args(0) else "session"
    val rowsPerBatch = if (args.length > 1) args(1).toInt else 10000
    val batches = if (args.length > 2) args(2).toInt else 100
    val explicitCkpt = args.length > 3
    val ckpt = if (explicitCkpt) args(3)
      else s"/tmp/graft_streamrate_${mode}_${rowsPerBatch}_$batches"
    val ckptFile = new java.io.File(ckpt)
    if (explicitCkpt) {
      // never silently erase a user-supplied directory: a typo pointing
      // at real data must fail, not recurse-delete. Only the DERIVED
      // /tmp default is auto-cleared (it is ours by construction).
      require(!ckptFile.exists() ||
        Option(ckptFile.list()).forall(_.isEmpty),
        s"explicit ckptDir $ckpt exists and is non-empty — " +
          "remove it yourself or pass a fresh path")
    } else org.apache.commons.io.FileUtils.deleteQuietly(ckptFile)
    val changelog = sys.env.get("SPARK_GRAFT_SR_CHANGELOG").contains("1")
    val master = Harness.master
    // Markers live in a RUN-SCOPED sibling dir (<ckpt>.markers), never
    // the ckpt parent: with a user-supplied ckptDir like /tmp/foo,
    // parent-dir markers would litter /tmp, collide between concurrent
    // cluster runs, and a stale B<k> from a previous run could trigger
    // the killer early. Cleared at startup so only THIS run's batches
    // exist.
    val markerDir =
      if (master.startsWith("local")) None
      else Some(java.nio.file.Paths.get(s"$ckpt.markers").toAbsolutePath)
    markerDir.foreach { d =>
      org.apache.commons.io.FileUtils.deleteQuietly(d.toFile)
      java.nio.file.Files.createDirectories(d)
    }
    val spark = Harness.session(Harness.RocksDbProvider,
      Harness.RocksDbChangelog -> changelog.toString)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val users = math.max(100, rowsPerBatch / 10)

    // one MemoryStream per shape (schemas differ)
    val inTs = MemoryStream[(Timestamp, Long)]
    val inTws = MemoryStream[(Long, Long, Long)]

    val stream = mode match {
      case "session" =>
        inTs.toDF().toDF("ts", "user_id")
          .withWatermark("ts", "10 minutes")
          .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n"))
      case "dedup" =>
        inTs.toDF().toDF("ts", "event_id")
          .withWatermark("ts", "10 minutes")
          .dropDuplicatesWithinWatermark("event_id")
      case "tws" =>
        inTws.toDS().groupByKey(_._1)
          .transformWithState(new graft.streaming.TwsSessionizer(),
            org.apache.spark.sql.streaming.TimeMode.None(),
            OutputMode.Update())
          .toDF("user_id", "n_sessions", "n_events", "longest_s")
      case other => sys.error(s"unknown mode $other")
    }
    val q = stream.writeStream
      .outputMode(if (mode == "tws") OutputMode.Update else OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .format("noop").start()

    def feed(b: Int): Int = mode match {
      case "session" =>
        // one burst per user per batch: 10 events 20s apart inside the
        // 5-min gap; bursts 20 min apart so the watermark closes the
        // previous batch's sessions during this one
        val t0 = base + b * 20L * 60 * 1000
        val rows = for (u <- 0 until users; e <- 0 until 10)
          yield (new Timestamp(t0 + e * 20000L), u.toLong)
        inTs.addData(rows); rows.size
      case "dedup" =>
        val t = new Timestamp(base + b * 5L * 60 * 1000)
        val fresh = (rowsPerBatch * 9) / 10
        val dups = rowsPerBatch - fresh
        val rows = (0 until fresh).map(i => (t, b.toLong * rowsPerBatch + i)) ++
          // in-horizon duplicates: ids from the PREVIOUS batch
          (0 until dups).map(i => (t, math.max(0, b - 1).toLong * rowsPerBatch + i))
        inTs.addData(rows); rows.size
      case _ =>
        // fixed user population; event times advance so the fold keeps
        // opening/extending sessions; event_id increases monotonically
        val rows = (0 until rowsPerBatch).map { i =>
          val u = (i % users).toLong
          (u, b * 3600L + (i / users) * 60L, b.toLong * rowsPerBatch + i)
        }
        inTws.addData(rows); rows.size
    }

    var totalIn = 0L
    var stateMax = 0L
    var stateHalf = 0L
    var state10 = 0L
    var stateFinal = 0L
    var lastSeenBatch = -1L
    val latencies = new Array[Double](batches)
    val t0 = System.nanoTime()
    for (b <- 0 until batches) {
      val bt = System.nanoTime()
      totalIn += feed(b)
      q.processAllAvailable()
      latencies(b) = (System.nanoTime() - bt) / 1e9
      // sample the NEWEST progress event newer than the last sample —
      // not bare lastProgress, which could lag one batch if a mode ever
      // produced multiple progress events per addData (e.g. an empty
      // watermark-commit batch emitted after the data batch). State is
      // a snapshot, so the latest event wins; no summing across events.
      val fresh = q.recentProgress.filter(_.batchId > lastSeenBatch)
      val ev = if (fresh.nonEmpty) fresh.maxBy(_.batchId)
               else q.lastProgress
      val st = Option(ev).toSeq
        .flatMap(_.stateOperators.map(_.numRowsTotal)).sum
      lastSeenBatch = math.max(lastSeenBatch,
        Option(ev).map(_.batchId).getOrElse(-1L))
      stateMax = math.max(stateMax, st)
      if (b == 9) state10 = st
      if (b == batches / 2 - 1) stateHalf = st
      if (b == batches - 1) stateFinal = st
      // kill-harness marker (cluster runs only): one file per batch so
      // the external killer can aim mid-run; file because spark-submit
      // stdout is block-buffered
      markerDir.foreach(d => java.nio.file.Files.write(
        d.resolve(s"B$b"), s"$st\n".getBytes("UTF-8")))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    q.stop()
    spark.stop()
    val sorted = latencies.sorted
    val p50 = sorted(batches / 2)
    val p95 = sorted(math.min(batches - 1, (batches * 95) / 100))
    // bounded-state contract: the second half of the run must not grow
    // the high-water mark materially — state tracks the horizon (or the
    // key population), never cumulative input
    val bounded = stateFinal <= math.max(1, stateHalf) * 1.5
    println(s"""STREAMRATE {"mode":"$mode","rowsPerBatch":$rowsPerBatch,""" +
      s""""batches":$batches,"totalRows":$totalIn,"wallSec":${fmt(wall)},""" +
      s""""rowsPerSec":${fmt(totalIn / wall)},"batchP50":${fmt(p50)},""" +
      s""""batchP95":${fmt(p95)},"batchMax":${fmt(sorted.last)},""" +
      s""""state10":$state10,"stateHalf":$stateHalf,""" +
      s""""stateFinal":$stateFinal,"stateMax":$stateMax,""" +
      s""""changelog":$changelog,""" +
      s""""latencies":[${latencies.map(fmt).mkString(",")}],""" +
      s""""bounded":$bounded}""")
    if (!bounded) sys.exit(2)
  }
}
