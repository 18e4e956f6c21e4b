package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Cluster streaming failure-injection probe (round 10).
  *
  * Re-runs StreamingSpec's 100-batch soaks as a spark-submit main
  * against a real cluster manager, with the RocksDB state store and a
  * durable `checkpointLocation` — the production configuration
  * SCALE.md claims. The in-JVM soaks can bound state growth but can
  * never LOSE an executor; this main exists so an external script can
  * `kill -9` an executor mid-soak and the changelog/snapshot recovery
  * path actually executes: the rescheduled state-store tasks must
  * reload from the checkpoint and the stream must emit exactly the
  * intact run's output with the same bounded state high-water mark.
  *
  * Two modes (arg 2, default `dedup`), covering the two state shapes:
  *  - `dedup`  — `dropDuplicatesWithinWatermark` key-value state:
  *    1000 unique ids in, every in-horizon duplicate dropped;
  *    contract out=1000, maxState ≤ 100.
  *  - `session` — `session_window` MERGING state (gap-bounded
  *    sessions that extend/close as the watermark advances): 5 users
  *    × 100 well-separated activity bursts; contract ≥ 490 closed
  *    sessions emitted, maxState ≤ 50.
  *
  * Protocol: touches a `B<n>` marker FILE every 10 batches
  * (spark-submit's redirected stdout is block-buffered, so stdout
  * markers appear only at exit — files are the race-free signal for
  * the external killer), then prints one
  * `PROBE_RESULT out=<rows> maxState=<rows>` line. Exit 0 iff the
  * mode's contract held — the same assertions as the in-JVM soak.
  * Markers go to arg 3 if given, else the checkpoint path's local
  * parent — pass arg 3 explicitly when the checkpointLocation is a
  * non-local URI (hdfs://, s3a://), since the killer script reads
  * markers off the DRIVER's local disk.
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val ckpt = args(0)
    val mode = if (args.length > 1) args(1) else "dedup"
    val markerDir =
      if (args.length > 2) java.nio.file.Paths.get(args(2))
      else java.nio.file.Paths.get(ckpt).toAbsolutePath.getParent
    java.nio.file.Files.createDirectories(markerDir)
    val spark = Harness.session(Harness.RocksDbProvider)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Timestamp, Long)]
    val stream = mode match {
      case "dedup" =>
        in.toDF().toDF("ts", "event_id")
          .withWatermark("ts", "10 minutes")
          .dropDuplicatesWithinWatermark("event_id")
      case "session" =>
        in.toDF().toDF("ts", "user_id")
          .withWatermark("ts", "10 minutes")
          .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n"))
      case other => sys.error(s"unknown mode $other")
    }
    val q = stream.writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("probe_q").start()
    var maxState = 0L
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    for (b <- 0 until 100) {
      val rows = mode match {
        case "dedup" =>
          val t = new Timestamp(base + b * 5L * 60 * 1000)
          // 10 fresh ids per batch + 1 in-horizon duplicate (must drop)
          (0 until 10).map(i => (t, b * 10L + i)) :+
            ((t, math.max(0, b - 1) * 10L))
        case _ =>
          // bursts 20 min apart: each opens (and, once the watermark
          // passes, closes) one session per user
          val t = new Timestamp(base + b * 20L * 60 * 1000)
          (0 until 5).map(i => (t, i.toLong))
      }
      in.addData(rows: _*)
      q.processAllAvailable()
      val st = Option(q.lastProgress).toSeq
        .flatMap(_.stateOperators.map(_.numRowsTotal)).sum
      maxState = math.max(maxState, st)
      if (b % 10 == 0) {
        println(s"PROBE_B$b state=$st")
        java.nio.file.Files.write(markerDir.resolve(s"B$b"),
          s"$st\n".getBytes("UTF-8"))
      }
    }
    val out = spark.sql("SELECT count(*) FROM probe_q").head().getLong(0)
    println(s"PROBE_RESULT mode=$mode out=$out maxState=$maxState")
    q.stop()
    spark.stop()
    val ok = mode match {
      case "dedup" => out == 1000L && maxState <= 100L
      case _       => out >= 5L * 98 && maxState <= 50L
    }
    if (ok) sys.exit(0) else sys.exit(2)
  }
}
