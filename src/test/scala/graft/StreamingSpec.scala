package graft

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** True readStream semantics for the §2.9 keys whose batch equivalents
  * can't show them: late-row drops under a watermark, stateful dedup,
  * session-window merging, and the foreachBatch sink (SURVEY.md §5.3).
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Spec.spark
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("watermark drops rows later than the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val agg = in.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("k"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("wm_out").start()
    try {
      in.addData((ts(0), "a"), (ts(1), "a"))
      q.processAllAvailable()
      // advance watermark far past the first window...
      in.addData((ts(40), "a"))
      q.processAllAvailable()
      // ...then send a row 40 min late: must be dropped
      in.addData((ts(2), "a"))
      q.processAllAvailable()
      in.addData((ts(59), "a")) // flush closed windows
      q.processAllAvailable()
      val rows = spark.sql("SELECT k, n FROM wm_out").collect()
      // first 5-min window closed with exactly 2 rows; late row excluded
      assert(rows.map(_.getLong(1)).contains(2L))
      assert(!rows.map(_.getLong(1)).contains(3L))
    } finally q.stop()
  }

  test("stream-static anomaly monitor matches its batch twin window-for-window") {
    implicit val sqlCtx = spark.sqlContext
    // frozen profile (the production deployment shape: trained on
    // history, static during scoring)
    val stats = Seq(("a", 10.0, 2.0), ("b", 50.0, 5.0))
      .toDF("k", "med", "mad")
    val rows = Seq(
      (ts(0), "a", 11.0), (ts(1), "a", 30.0), (ts(2), "b", 48.0),
      (ts(16), "a", 9.5), (ts(17), "b", 100.0), (ts(18), "b", 51.0))
    def score(df: org.apache.spark.sql.DataFrame) = df
      .join(broadcast(stats), "k")
      .withColumn("anom", abs(col("v") - col("med")) > lit(3.0) * col("mad"))
      .groupBy(window(col("ts"), "15 minutes"), col("k"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("anom"), 1L).otherwise(0L)).as("n_anom"))
    val in = MemoryStream[(Timestamp, String, Double)]
    val q = score(in.toDF().toDF("ts", "k", "v"))
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("anom_out").start()
    try {
      in.addData(rows.take(3)); q.processAllAvailable()
      in.addData(rows.drop(3)); q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT window.start, k, n, n_anom FROM anom_out").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
          r.getLong(3))).sortBy(t => (t._1.getTime, t._2))
      val batch = score(rows.toDF("ts", "k", "v"))
        .select(col("window.start"), col("k"), col("n"), col("n_anom"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
          r.getLong(3))).sortBy(t => (t._1.getTime, t._2))
      assert(streamed.toSeq === batch.toSeq)
      // and the anomalies are the right ones: a@30 (|20|>6), b@100 (|50|>15)
      assert(streamed.map(_._4).sum === 2L)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups within the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val dedup = in.toDF().toDF("ts", "event_id")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    val q = dedup.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dd_out").start()
    try {
      in.addData((ts(0), 1L), (ts(1), 1L), (ts(1), 2L))
      q.processAllAvailable()
      in.addData((ts(2), 1L)) // duplicate within horizon → dropped
      q.processAllAvailable()
      val n = spark.sql("SELECT count(*) FROM dd_out").head().getLong(0)
      assert(n === 2L) // ids {1, 2} once each
    } finally q.stop()
  }

  test("session_window merges events within the gap and splits beyond it") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val sess = in.toDF().toDF("ts", "user_id")
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    val q = sess.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sess_out").start()
    try {
      // user 7: 10:00, 10:20 (merge), 11:30 (new session)
      in.addData((ts(0), 7L), (ts(20), 7L),
        (Timestamp.valueOf("2024-01-01 11:30:00"), 7L))
      q.processAllAvailable()
      in.addData((Timestamp.valueOf("2024-01-01 20:00:00"), 7L)) // close all
      q.processAllAvailable()
      val ns = spark.sql("SELECT n FROM sess_out ORDER BY n DESC").as[Long].collect()
      assert(ns.headOption.contains(2L)) // merged first session
      assert(ns.count(_ == 1L) >= 1)     // split second session
    } finally q.stop()
  }

  /** Runs a body under the RocksDB state-store provider — the
    * production setting SCALE.md's streaming section claims; the
    * default-provider soaks prove the watermark/eviction logic, these
    * prove it against the store that actually ships. */
  private def withRocksDb[T](body: => T): T = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  // The scale axis StreamingSpec never exercised: a SUSTAINED input.
  // 100 micro-batches, each advancing event time 5 minutes and
  // re-sending one in-horizon duplicate; with a 10-minute watermark
  // the state store must hold only the horizon's ids — if eviction
  // broke, state would grow with TOTAL ids (1000) and the bound here
  // trips. The bound is read from the engine's own stateOperators
  // metrics, not inferred from output.
  private def dedupSoak(name: String): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val dedup = in.toDF().toDF("ts", "event_id")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    val q = dedup.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName(name).start()
    try {
      var maxState = 0L
      val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      for (b <- 0 until 100) {
        val t = new Timestamp(base + b * 5L * 60 * 1000)
        // 10 fresh ids per batch + 1 duplicate of the previous batch
        val rows = (0 until 10).map(i => (t, b * 10L + i)) :+
          ((t, math.max(0, b - 1) * 10L))
        in.addData(rows: _*)
        q.processAllAvailable()
        val st = Option(q.lastProgress).toSeq
          .flatMap(_.stateOperators.map(_.numRowsTotal)).sum
        maxState = math.max(maxState, st)
      }
      val out = spark.sql(s"SELECT count(*) FROM $name").head().getLong(0)
      assert(out === 1000L, s"dedup dropped wrong rows: $out")
      // horizon covers ~3 batches of 10-11 ids; 100 is a generous roof,
      // 1000 (= no eviction) is the failure mode being guarded
      assert(maxState <= 100L,
        s"dedup state grew to $maxState rows — watermark eviction broken")
    } finally q.stop()
  }

  test("soak: watermarked dedup state stays bounded over 100 batches") {
    dedupSoak("soak_dd")
  }

  test("soak: watermarked dedup state bounded over 100 batches (RocksDB)") {
    withRocksDb(dedupSoak("soak_dd_rdb"))
  }

  private def sessionSoak(name: String): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val sess = in.toDF().toDF("ts", "user_id")
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    val q = sess.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName(name).start()
    try {
      var maxState = 0L
      val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      for (b <- 0 until 100) {
        val t = new Timestamp(base + b * 20L * 60 * 1000) // 20 min apart
        // 5 users active per batch; every batch opens (and, once the
        // watermark passes, closes) one session per user
        in.addData((0 until 5).map(i => (t, i.toLong)): _*)
        q.processAllAvailable()
        val st = Option(q.lastProgress).toSeq
          .flatMap(_.stateOperators.map(_.numRowsTotal)).sum
        maxState = math.max(maxState, st)
      }
      // 5 users × ~2 unexpired sessions is the honest high-water mark;
      // unbounded growth would reach ~500 session rows
      assert(maxState <= 50L,
        s"session state grew to $maxState rows — eviction broken")
      val emitted = spark.sql(s"SELECT count(*) FROM $name")
        .head().getLong(0)
      assert(emitted >= 5L * 98,
        s"only $emitted closed sessions emitted — sessions stuck in state")
    } finally q.stop()
  }

  test("soak: session-window state stays bounded over 100 batches") {
    sessionSoak("soak_sess")
  }

  test("soak: session-window state bounded over 100 batches (RocksDB)") {
    withRocksDb(sessionSoak("soak_sess_rdb"))
  }

  test("stream-stream interval join pairs within the range, incrementally") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[(Timestamp, Long, Long)] // ts, user, pid
    val clicks = MemoryStream[(Timestamp, Long, Long)]    // ts, user, cid
    val p = purchases.toDF().toDF("pts", "user_id", "purchase_id")
      .withWatermark("pts", "10 minutes")
    val c = clicks.toDF().toDF("cts", "c_user", "click_id")
      .withWatermark("cts", "10 minutes")
    val joined = p.join(c,
      col("user_id") === col("c_user")
        && col("cts") >= col("pts") - expr("INTERVAL 30 MINUTES")
        && col("cts") <= col("pts"))
      .select(col("user_id"), col("purchase_id"), col("click_id"))
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ssj_out").start()
    try {
      // clicks arrive in batch 1; the purchase joining them in batch 2 —
      // proves the click state is retained across micro-batches
      clicks.addData((ts(0), 7L, 100L), (ts(10), 7L, 101L), (ts(10), 8L, 102L))
      q.processAllAvailable()
      purchases.addData((ts(20), 7L, 900L))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT purchase_id, click_id FROM ssj_out ORDER BY click_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      // both user-7 clicks are within [19:50-30min, 10:20]; user-8's is not
      assert(got === Seq((900L, 100L), (900L, 101L)))
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join emits null rows after watermark expiry") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[(Timestamp, Long, Long)] // ts, user, pid
    val clicks = MemoryStream[(Timestamp, Long, Long)]    // ts, user, cid
    val p = purchases.toDF().toDF("pts", "user_id", "purchase_id")
      .withWatermark("pts", "10 minutes")
    val c = clicks.toDF().toDF("cts", "c_user", "click_id")
      .withWatermark("cts", "10 minutes")
    val joined = p.join(c,
      col("user_id") === col("c_user")
        && col("cts") >= col("pts") - expr("INTERVAL 30 MINUTES")
        && col("cts") <= col("pts"), "left_outer")
      .select(col("user_id"), col("purchase_id"), col("click_id"))
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ssjl_out").start()
    try {
      // user 7's purchase has a matching click; user 9's has none. The
      // null row for user 9 can only emit once the watermark passes
      // pts + 30min + 10min delay — advance it with a far-future click.
      clicks.addData((ts(0), 7L, 100L))
      q.processAllAvailable()
      purchases.addData((ts(10), 7L, 900L), (ts(10), 9L, 901L))
      q.processAllAvailable()
      val before = spark.sql("SELECT count(*) FROM ssjl_out WHERE click_id IS NULL")
        .head().getLong(0)
      assert(before === 0L, "null row must NOT emit before watermark expiry")
      // Push the watermark past expiry. The GLOBAL watermark is the MIN
      // across both inputs (multipleWatermarkPolicy=min), so BOTH
      // streams must advance; and a watermark computed in batch N only
      // evicts (and emits outer nulls) in batch N+1, so a second nudge
      // batch is required. Nudge users (2/3) never match each other.
      purchases.addData((ts(600), 2L, 902L))
      clicks.addData((ts(600), 3L, 999L))
      q.processAllAvailable()
      purchases.addData((ts(610), 2L, 903L))
      clicks.addData((ts(610), 3L, 998L))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT purchase_id, click_id FROM ssjl_out ORDER BY purchase_id")
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq
      assert(got === Seq((900L, 100L), (901L, -1L)))
    } finally q.stop()
  }

  test("foreachBatch drives the Sink abstraction from a stream") {
    implicit val sqlCtx = spark.sqlContext
    val out = "/tmp/graft_stream_sink_test"
    val in = MemoryStream[(Timestamp, Double)]
    val q = in.toDF().toDF("ts", "v").writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        // the streaming version of the reference's Postgres load:
        // swap ParquetSink for JdbcSink and nothing else changes
        graft.sources.Sink.forUrl(out).write(df)
      }.start()
    try {
      in.addData((ts(0), 1.5), (ts(1), 2.5))
      q.processAllAvailable()
      assert(spark.read.parquet(out).count() === 2L)
    } finally q.stop()
  }

  test("foreachBatch into Postgres is exactly-once under batch redelivery") {
    assume(graft.sources.PgServer.ensure(), "local Postgres unavailable")
    import graft.sources.{PgDdl, PgServer, PgStreamSink}
    import org.apache.spark.sql.types._
    implicit val sqlCtx = spark.sqlContext
    val t = "graft_stream_spec"
    PgServer.psql(s"""DROP TABLE IF EXISTS "$t"""")
    PgServer.psql(s"""DROP TABLE IF EXISTS "${t}__commits"""")
    PgServer.psql(PgDdl.createTable(t, StructType(Seq(
      StructField("user_id", LongType), StructField("v", DoubleType)))))
    PgStreamSink.ensureCommits(PgServer.sockDir, PgServer.port, PgServer.db, t)
    var lastBatch = (-1L, Option.empty[org.apache.spark.sql.DataFrame])
    val in = MemoryStream[(Long, Double)]
    val q = in.toDF().toDF("user_id", "v").writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
        PgStreamSink.writeBatch(PgServer.sockDir, PgServer.port,
          PgServer.db, t, batchId, df)
        lastBatch = (batchId, Some(df))
      }.start()
    try {
      in.addData((1L, 1.5), (2L, 2.5))
      q.processAllAvailable()
      in.addData((3L, 3.5))
      q.processAllAvailable()
      assert(PgServer.psql(s"""SELECT count(*) FROM "$t"""").get.toLong === 3L)
      // simulate the documented foreachBatch failure mode: the same
      // micro-batch redelivered after a crash-before-commit
      val (bid, Some(df)) = lastBatch
      PgStreamSink.writeBatch(PgServer.sockDir, PgServer.port,
        PgServer.db, t, bid, df)
      assert(PgServer.psql(s"""SELECT count(*) FROM "$t"""").get.toLong === 3L)
      // and the ledger holds one row per distinct batch
      assert(PgServer.psql(
        s"""SELECT count(*) FROM "${t}__commits"""").get.toLong === 2L)
    } finally q.stop()
  }

  test("transformWithState keeps running per-key counts across batches") {
    // Spark 4's arbitrary-state API (successor to flatMapGroupsWithState);
    // requires the RocksDB state store.
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[(Long, Double)]
      val counted = in.toDS().groupByKey(_._1)
        .transformWithState(new RunningCountProcessor(),
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update())
      val q = counted.toDF("user_id", "n").writeStream
        .outputMode(OutputMode.Update)
        .format("memory").queryName("tws_out").start()
      try {
        in.addData((1L, 1.0), (1L, 2.0), (2L, 3.0))
        q.processAllAvailable()
        in.addData((1L, 4.0)) // state must survive into batch 2
        q.processAllAvailable()
        val last = spark.sql(
          "SELECT max(n) FROM tws_out WHERE user_id = 1").head().getLong(0)
        assert(last === 3L) // 2 from batch 1 + 1 from batch 2
      } finally q.stop()
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("transformWithState sessionizer matches the fMGWS fold across batches") {
    // Spark 4's successor API running the SAME O(1) session fold
    // (StatefulSessionizer.step): state survives between micro-batches,
    // per-batch rows are sorted only within the bounded batch.
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[(Long, Long, Long)] // (user, sec, event_id)
      val out = in.toDS().groupByKey(_._1)
        .transformWithState(new graft.streaming.TwsSessionizer(),
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update())
      val q = out.toDF("user_id", "n_sessions", "n_events", "longest_s")
        .writeStream.outputMode(OutputMode.Update)
        .format("memory").queryName("tws_sess").start()
      try {
        // batch 1 out of order within the batch; batch 2 extends state
        in.addData((1L, 1200L, 2L), (1L, 1000L, 1L), (2L, 100L, 4L))
        q.processAllAvailable()
        in.addData((1L, 5000L, 3L)) // gap >= 1800 -> second session
        q.processAllAvailable()
        val last = spark.sql(
          """SELECT n_sessions, n_events, longest_s FROM tws_sess
             WHERE user_id = 1 ORDER BY n_events DESC LIMIT 1""").head()
        // same result the fMGWS test pins: 2 sessions, 3 events, 200 s
        assert((last.getInt(0), last.getLong(1), last.getLong(2)) === ((2, 3L, 200L)))
      } finally q.stop()
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("flatMapGroupsWithState sessionizer is arrival-order independent") {
    val rows = Seq( // (user, sec, event_id) deliberately out of order
      (1L, 5000L, 3L), (1L, 1000L, 1L), (1L, 1200L, 2L),
      (2L, 100L, 4L))
    import org.apache.spark.sql.streaming.{GroupStateTimeout}
    val out = rows.toDS().groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        graft.streaming.StatefulSessionizer.handle)
      .collect().sortBy(_._1)
    // user 1: gap 1000→1200 merges, 1200→5000 splits → 2 sessions
    assert(out === Array((1L, 2, 3L, 200L), (2L, 1, 1L, 0L)))
  }

  test("entity dump ingests as a file STREAM with batch-identical flatten") {
    // The dump-as-it-downloads story: the same explicit-schema parse +
    // claims flatten that runs in batch (wd_claims_flatten) also runs
    // as a Structured Streaming file source — each new dump chunk
    // dropped into the directory becomes one micro-batch, so a
    // consumer can load while the download is still in flight. Parity
    // with the batch result is exact because the flatten is stateless
    // (no watermark, no aggregation — pure per-row plan).
    val dir = "/tmp/graft_wd_stream_in"
    val d = new java.io.File(dir)
    org.apache.commons.io.FileUtils.deleteQuietly(d); d.mkdirs()
    val q = spark.readStream
      .schema(graft.wikidata.EntitySchema.entity)
      .option("maxFilesPerTrigger", 1) // chunk = micro-batch
      .json(dir)
      .transform(graft.wikidata.Wd.claimsFlatten)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("wd_stream_out").start()
    try {
      // drop the fixture in as two chunks, mid-stream
      val lines = scala.io.Source.fromInputStream(
        getClass.getResourceAsStream("/wd_entities.ndjson")).getLines().toVector
      val (c1, c2) = lines.splitAt(lines.size / 2)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/chunk1.json"),
        c1.mkString("\n").getBytes("UTF-8"))
      q.processAllAvailable()
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/chunk2.json"),
        c2.mkString("\n").getBytes("UTF-8"))
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT id, pid, statement_id FROM wd_stream_out ORDER BY id, pid, statement_id")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      val batch = graft.wikidata.Wd
        .claimsFlatten(graft.wikidata.Wd.entities(spark))
        .select("id", "pid", "statement_id")
        .orderBy("id", "pid", "statement_id")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      assert(streamed.nonEmpty && (streamed sameElements batch))
    } finally q.stop()
  }
}

/** Running count per key via the Spark 4 StatefulProcessor API. */
class RunningCountProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Double), (Long, Long)] {
  import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.{Encoders}

  @transient private var count: ValueState[Long] = _

  override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    count = getHandle.getValueState[Long]("count", Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
      timerValues: TimerValues): Iterator[(Long, Long)] = {
    val c = (if (count.exists()) count.get() else 0L) + rows.size
    count.update(c)
    Iterator.single((key, c))
  }
}

// TwsSessionizer moved to main (graft.streaming.TwsSessionizer): the
// StreamRate sustained-throughput probe drives the same processor the
// parity test here pins.

/** One shared local session for all suites (guide: one per JVM), built
  * by the harness builder with a fixed shape: the test partitioning does
  * not follow SPARK_GRAFT_CPUS. */
object Spec {
  lazy val spark: SparkSession = Harness.session("local[4]", 4, Seq(
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" -> "/tmp/graft_warehouse"))
  val sf001 = "/root/testdata/sf0.001"
  val sf01 = "/root/testdata/sf0.01"
}
