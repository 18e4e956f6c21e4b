package graft

import java.sql.Timestamp
import java.util.Locale
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener, TimeMode}

/** Streaming soak main: sustained rate, bounded state and recovery of
  * the stateful streaming shapes on the RocksDB state store.
  *
  * Every shape streams a durable replayable pair: a FILE source (one
  * parquet file per micro-batch, maxFilesPerTrigger=1) and the
  * transactional FILE sink (exactly-once through the sink metadata
  * log). That pair survives both an executor kill and a driver restart,
  * so one run serves every check `tools/streamsoak.sh` makes:
  *  - `rate`: one run per shape; the JSON line carries throughput, the
  *    per-batch latency spread and the state trajectory;
  *  - `executor-kill`: a cluster run whose killer aims at the `B<n>`
  *    marker files, then `check` against a control run;
  *  - `driver-crash`: control, crash (`SPARK_GRAFT_CRASH_AFTER=k`
  *    halts the JVM after k progress events: no shutdown hooks, no
  *    flush beyond committed batches), resume (the same command again,
  *    from the durable checkpoint), then `check`.
  *
  * Shapes (the [[shapes]] table), each the soak twin of a declared key:
  *  - `dedup` (stream_dedup_watermark): dropDuplicatesWithinWatermark
  *    over 90% fresh + 10% in-horizon duplicate ids, event time
  *    +5 min/batch, 10-min watermark; state bounded at ~3 batches of ids;
  *  - `session` (stream_session): session_window(5 min) MERGING state,
  *    per-user 10-event bursts 20 min apart, so every batch's watermark
  *    closes the previous burst's sessions;
  *  - `tws` (stream_stateful_custom): transformWithState with the
  *    O(1)-per-user [[graft.streaming.TwsSessionizer]] fold over a fixed
  *    population of max(100, rowsPerBatch/10) users, so state plateaus
  *    at the user count while input grows without bound;
  *  - `join` / `leftjoin`: stream-stream time-interval join over a file
  *    PAIR (left + right source, batch-aligned by maxFilesPerTrigger=1),
  *    two-sided watermark state; leftjoin's null-padded rows emit only
  *    when the watermark passes the join bound.
  *
  * Inputs are a pure function of the batch index, so control and crash
  * runs read identical bytes. They are generated once per work dir,
  * guarded by a _READY marker; a resume run sees it and goes straight
  * to the query. Markers: a `B<n>` file per data batch in the run-scoped
  * `<workDir>/markers` (cleared at every start), because spark-submit
  * stdout is block-buffered.
  *
  * Usage:
  *   runMain graft.StreamSoak run <shape> <rowsPerBatch> <batches> <workDir>
  *   runMain graft.StreamSoak check <ctlDir> <crashDir>
  * Env: SPARK_GRAFT_CRASH_AFTER=k, SPARK_GRAFT_SR_CHANGELOG=1 (RocksDB
  * changelog checkpointing), SPARK_GRAFT_CPUS, SPARK_GRAFT_MASTER.
  * A completed run prints one STREAMSOAK JSON line and exits 2 if the
  * state is not bounded (final > 1.5 × the halfway value); `check`
  * prints one and exits 3 unless control and crash outputs are
  * multiset-equal.
  */
object StreamSoak {
  private def fmt(v: Double): String = String.format(Locale.ROOT, "%.3f", v)
  private val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private val changelog = sys.env.get("SPARK_GRAFT_SR_CHANGELOG").contains("1")

  /** One state shape: the input schema and batch `b` of the (left)
    * input, the right input of the join shapes, and the stateful query
    * over the streamed left input and, for joins, the right one. */
  private final case class Shape(schema: String,
      batch: (SparkSession, Int, Int) => DataFrame,
      right: Option[(String, (SparkSession, Int, Int) => DataFrame)],
      query: (DataFrame, Option[DataFrame]) => DataFrame)

  private def users(rowsPerBatch: Int): Int = math.max(100, rowsPerBatch / 10)

  private def joinShape(how: String) = Shape(
    "ts timestamp, k bigint, lval bigint",
    (s, b, n) => {
      // fresh keys per batch, event times spread over 10 min
      val t0 = base + b * 10L * 60 * 1000
      s.range(n.toLong).select(
        timestamp_millis(lit(t0) + (col("id") % 600) * lit(1000L)).as("ts"),
        (col("id") + b.toLong * n).as("k"),
        (col("id") * 7 % 1000).as("lval"))
    },
    // 80% of left keys matched IN the 5-min join bound (rts = ts + ≤4
    // min); the id%5==0 keys have no right row — the outer-null arm
    Some(("rts timestamp, rk bigint, rval bigint", (s, b, n) => {
      val t0 = base + b * 10L * 60 * 1000
      s.range(n.toLong).filter(col("id") % 5 =!= 0).select(
        timestamp_millis(lit(t0) + (col("id") % 600) * lit(1000L)
          + (col("id") % 240) * lit(1000L)).as("rts"),
        (col("id") + b.toLong * n).as("rk"),
        (col("id") * 13 % 1000).as("rval"))
    })),
    (in, right) => in.withWatermark("ts", "10 minutes")
      .join(right.get.withWatermark("rts", "10 minutes"),
        expr("k = rk AND rts >= ts AND rts <= ts + interval 5 minutes"), how))

  private val shapes: Map[String, Shape] = Map(
    "dedup" -> Shape("ts timestamp, event_id bigint",
      (s, b, n) => {
        val fresh = (n * 9) / 10
        // in-horizon duplicates: ids of the previous batch (batch 0
        // duplicates itself)
        s.range(n.toLong).select(
          lit(new Timestamp(base + b * 5L * 60 * 1000)).as("ts"),
          when(col("id") < fresh, col("id") + b.toLong * n)
            .otherwise(col("id") - fresh + math.max(0, b - 1).toLong * n)
            .as("event_id"))
      }, None,
      (in, _) => in.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("event_id")),
    "session" -> Shape("ts timestamp, user_id bigint",
      (s, b, n) => {
        // one burst per user, events 20 s apart; timestamp_millis and
        // div because `/` on longs is DOUBLE and a bigint→timestamp
        // cast reads SECONDS
        val t0 = base + b * 20L * 60 * 1000
        s.range(users(n).toLong * 10).select(
          timestamp_millis((col("id") % 10) * lit(20000L) + lit(t0)).as("ts"),
          expr("id div 10").as("user_id"))
      }, None,
      (in, _) => in.withWatermark("ts", "10 minutes")
        .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("session_window.start").as("w_start"),
          col("session_window.end").as("w_end"), col("user_id"), col("n"))),
    "tws" -> Shape("user_id bigint, t bigint, event_id bigint",
      (s, b, n) => {
        // event times advance so the fold keeps opening and extending
        // sessions; event ids increase monotonically
        val u = users(n).toLong
        s.range(n.toLong).select((col("id") % u).as("user_id"),
          (lit(b * 3600L) + expr(s"id div $u") * 60L).as("t"),
          (col("id") + b.toLong * n).as("event_id"))
      }, None,
      (in, _) => {
        val l = Encoders.scalaLong
        in.as(Encoders.tuple(l, l, l)).groupByKey(_._1)(l)
          .transformWithState(new graft.streaming.TwsSessionizer(),
            TimeMode.None(), OutputMode.Append())(
            Encoders.tuple(l, Encoders.scalaInt, l, l))
          .toDF("user_id", "n_sessions", "n_events", "longest_s")
      }),
    "join" -> joinShape("inner"),
    "leftjoin" -> joinShape("left_outer"))

  private def session(): SparkSession =
    Harness.session(Harness.RocksDbProvider,
      Harness.RocksDbChangelog -> changelog.toString)

  /** One input file per batch, b000.parquet.., written through a
    * staging dir and renamed in batch order, so the file source's
    * (modTime, path) order replays event time monotonically. */
  private def genInput(spark: SparkSession, shape: Shape, rowsPerBatch: Int,
      batches: Int, inDir: String): Unit = {
    val fs = Stage.fs(spark, inDir)
    val ready = new Path(s"$inDir/_READY")
    if (fs.exists(ready)) return
    // No _READY: a first run, or one that died mid-generation. A rename
    // onto a leftover bNNN.parquet fails, so start from empty dirs.
    val dirs = inDir +: shape.right.toSeq.map(_ => inDir + "_right")
    dirs.foreach { d => fs.delete(new Path(d), true); fs.mkdirs(new Path(d)) }
    def write(df: DataFrame, dir: String, b: Int): Unit = {
      val stg = s"$dir/_stg"
      df.coalesce(1).write.mode("overwrite").parquet(stg)
      val part = fs.globStatus(new Path(s"$stg/part-*")).head.getPath
      require(fs.rename(part, new Path(f"$dir/b$b%03d.parquet")),
        s"rename of batch $b input failed — stale file in $dir?")
      fs.delete(new Path(stg), true)
    }
    (0 until batches).foreach { b =>
      write(shape.batch(spark, b, rowsPerBatch), inDir, b)
      shape.right.foreach { case (_, gen) =>
        write(gen(spark, b, rowsPerBatch), inDir + "_right", b)
      }
    }
    fs.create(ready).close()
  }

  /** Per data batch of this run: its latency and the state row count
    * once it and any following no-data (watermark) batch committed. */
  private final class Trace(crashAfter: Int, markers: java.nio.file.Path)
      extends StreamingQueryListener {
    val latencies, states = scala.collection.mutable.ArrayBuffer.empty[Long]
    var inputRows, events = 0L
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      val st = p.stateOperators.map(_.numRowsTotal).sum
      if (p.numInputRows > 0) {
        java.nio.file.Files.write(markers.resolve(s"B${latencies.size}"),
          s"$st\n".getBytes("UTF-8"))
        latencies += p.batchDuration
        states += st
        inputRows += p.numInputRows
      } else if (states.nonEmpty) states(states.size - 1) = st
      events += 1
      if (crashAfter > 0 && events >= crashAfter) {
        System.err.println(s"STREAMSOAK halting after $crashAfter progress events")
        Runtime.getRuntime.halt(137)
      }
    }
  }

  private def run(name: String, rowsPerBatch: Int, batches: Int,
      dir: String): Unit = {
    val shape = shapes.getOrElse(name,
      sys.error(s"unknown shape $name (${shapes.keys.toSeq.sorted.mkString("|")})"))
    val crashAfter = sys.env.get("SPARK_GRAFT_CRASH_AFTER").map(_.toInt).getOrElse(0)
    val markers = java.nio.file.Paths.get(s"$dir/markers").toAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(markers.toFile)
    java.nio.file.Files.createDirectories(markers)
    val spark = session()
    genInput(spark, shape, rowsPerBatch, batches, s"$dir/input")
    val trace = new Trace(crashAfter, markers)
    spark.streams.addListener(trace)
    def stream(schema: String, path: String): DataFrame = spark.readStream
      .schema(schema).option("maxFilesPerTrigger", 1).parquet(path)
    val out = shape.query(stream(shape.schema, s"$dir/input"),
      shape.right.map { case (schema, _) => stream(schema, s"$dir/input_right") })
    val t0 = System.nanoTime()
    val q = out.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$dir/ckpt")
      .option("path", s"$dir/out")
      .format("parquet").start()
    q.processAllAvailable()
    q.stop()
    val wall = (System.nanoTime() - t0) / 1e9
    org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
    val outRows = spark.read.parquet(s"$dir/out").count()
    spark.stop()
    val (lat, st) = trace.synchronized((trace.latencies.toSeq, trace.states.toSeq))
    val n = lat.size
    val sorted = lat.sorted
    def pct(p: Int): Double =
      if (n == 0) 0.0 else sorted(math.min(n - 1, (n * p) / 100)) / 1e3
    val half = if (n >= 2) st(n / 2 - 1) else 0L
    val last = st.lastOption.getOrElse(0L)
    // bounded-state contract: the second half of the run must not grow
    // the state materially — it tracks the watermark horizon (or the key
    // population), never cumulative input
    val bounded = n < 2 || last <= math.max(1L, half) * 1.5
    println(s"""STREAMSOAK {"phase":"run","shape":"$name",""" +
      s""""rowsPerBatch":$rowsPerBatch,"batches":$batches,""" +
      s""""dataBatches":$n,"inputRows":${trace.inputRows},""" +
      s""""wallSec":${fmt(wall)},"rowsPerSec":${fmt(trace.inputRows / wall)},""" +
      s""""batchP50":${fmt(pct(50))},"batchP95":${fmt(pct(95))},""" +
      s""""batchMax":${fmt(sorted.lastOption.getOrElse(0L) / 1e3)},""" +
      s""""stateHalf":$half,"stateFinal":$last,"stateMax":${st.maxOption.getOrElse(0L)},""" +
      s""""outRows":$outRows,"changelog":$changelog,""" +
      s""""latencies":[${lat.map(ms => fmt(ms / 1e3)).mkString(",")}],""" +
      s""""states":[${st.mkString(",")}],"bounded":$bounded}""")
    if (!bounded) sys.exit(2)
  }

  /** Exactly-once gate: control and crash+resume outputs must be
    * multiset-equal (EXCEPT ALL both ways catches both a lost batch and
    * a replayed duplicate). */
  private def check(ctlDir: String, crashDir: String): Unit = {
    val spark = session()
    val ctl = spark.read.parquet(s"$ctlDir/out")
    val cr = spark.read.parquet(s"$crashDir/out")
    val onlyCtl = ctl.exceptAll(cr).count()
    val onlyCrash = cr.exceptAll(ctl).count()
    val n = ctl.count()
    val ok = onlyCtl == 0 && onlyCrash == 0 && n > 0
    println(s"""STREAMSOAK {"phase":"check","ctlRows":$n,""" +
      s""""crashRows":${cr.count()},"onlyCtl":$onlyCtl,""" +
      s""""onlyCrash":$onlyCrash,"exactlyOnce":$ok}""")
    spark.stop()
    if (!ok) sys.exit(3)
  }

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("run", shape, rpb, batches, dir) =>
      run(shape, rpb.toInt, batches.toInt, dir)
    case Seq("check", ctl, crash) => check(ctl, crash)
    case _ => sys.error("usage: StreamSoak run <shape> <rowsPerBatch> <batches> " +
      "<workDir> | check <ctlDir> <crashDir>")
  }
}
