package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation of a workload. `ok` is false when it threw or its
  * output failed a check made inside the JVM. */
final case class Op(name: String, seconds: Double, ok: Boolean,
    error: String = "")

/** What a workload hands back to [[Main]]. `checks` are (key, parquet
  * dir) pairs whose digest the launcher compares with the DuckDB oracle;
  * `layers` are the per-layer metrics of a traced run. */
final case class Outcome(ops: Seq[Op], opS: Double, firstOpS: Double,
    rowsPerOp: Long, retainedMb: Double, checks: Seq[(String, String)] = Nil,
    layers: Seq[(String, Any)] = Nil, extra: Seq[(String, Any)] = Nil)

/** Command-line settings the launcher passes in. Paths are absolute and
  * inside the checkout. */
final case class Conf(workload: String, seed: Long, seconds: Double,
    trace: Boolean, cpus: Int, runDir: String, dataDir: String,
    fixture: String, keys: Seq[String], entities: Long, pgHost: String,
    pgPort: Int) {
  def path(rel: String): String = Paths.get(runDir, rel).toString
}

/** Benchmark JVM: builds the session, runs one workload for a fixed
  * time and writes `result.json` into the run directory.
  *
  * Timed operations materialize each result in full (sort included) into
  * Spark's `noop` sink. `count()` is never used: it lets the optimizer
  * prune the JSON columns and drop the sort, which times a different job.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val c = parse(argv)
    val spark = session(c)
    // Work inside the JVM that set-up time must not include: generating
    // the seed's dump, which is cached per seed.
    var excluded = 0.0
    def excludeFromSetup[T](body: => T): T = {
      val t = System.nanoTime()
      try body finally excluded += (System.nanoTime() - t) / 1e9
    }
    var firstOpEpoch = 0.0
    val markFirstOp = () =>
      if (firstOpEpoch == 0.0) firstOpEpoch = System.currentTimeMillis() / 1e3
    val spans = new Spans(c.trace)
    val out = c.workload match {
      case "wd_load" => WdBench.load(spark, c, spans, excludeFromSetup, markFirstOp)
      case "query_suite" =>
        QuerySuite.run(spark, c, spans, excludeFromSetup, markFirstOp)
      case "gen" => WdBench.genOnly(spark, c)
      case w => sys.error(s"unknown workload $w")
    }
    val result = Seq(
      "first_op_epoch_s" -> firstOpEpoch,
      "excluded_s" -> excluded,
      "ops" -> out.ops.map(o => Seq("name" -> o.name, "s" -> o.seconds,
        "ok" -> o.ok, "error" -> o.error)),
      "op_s" -> out.opS,
      "first_op_s" -> out.firstOpS,
      "rows_per_op" -> out.rowsPerOp,
      "retained_heap_mb" -> out.retainedMb,
      "peak_rss_mb" -> peakRssMb(),
      "checks" -> out.checks.map { case (k, p) => Seq("key" -> k, "path" -> p) },
      // the wd_* oracles read the generated dump in place of the fixture
      "oracle_sql" -> out.checks.map { case (k, _) => k ->
        graft.SparkEntry.oracleSql(k).replace(graft.wikidata.Wd.fixturePath,
          WdBench.plainGlob(c.dataDir)) },
      "layers" -> out.layers,
      "spans" -> spans.all) ++ out.extra
    Files.write(Paths.get(c.path("result.json")), Json(result).getBytes(UTF_8))
    spark.stop()
  }

  private def parse(argv: Array[String]): Conf = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument ${other.mkString(" ")}")
    }.toMap
    Conf(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("cpus").toInt, m("run-dir"), m("data-dir"),
      m.getOrElse("fixture", ""),
      m.getOrElse("keys", "").split(",").toSeq.filter(_.nonEmpty),
      m.getOrElse("entities", "0").toLong,
      m.getOrElse("pg-host", ""), m.getOrElse("pg-port", "0").toInt)
  }

  /** The session every harness main of the engine builds: local[cpus],
    * shuffle partitions = cpus, Kryo, UTC, UI off, the engine's
    * extensions. Scratch and stage directories live in the run dir. */
  private def session(c: Conf): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${c.cpus}]")
      .config("spark.sql.shuffle.partitions", c.cpus.toString)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", c.path("spark-local"))
      .config("spark.sql.warehouse.dir", c.path("warehouse"))
      .config(graft.Stage.DirConf, c.path("stage"))
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // the untimed warm-up: Spark's first query in a JVM costs seconds of
    // class loading that no workload should be charged for
    s.range(1000).selectExpr("sum(id)").collect()
    s
  }

  /** Materialize the whole result, sort included, and discard it. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** Ops after the first: run `op` until `seconds` have passed and it
    * ran at least `minOps` times. The floor keeps the number of samples
    * per run fixed when one op takes longer than the window. */
  def window[T](seconds: Double, minOps: Int)(op: Int => T): Seq[T] = {
    val t0 = System.nanoTime()
    val out = scala.collection.mutable.ArrayBuffer.empty[T]
    while (out.size < minOps || (System.nanoTime() - t0) / 1e9 < seconds)
      out += op(out.size + 1)
    out.toSeq
  }

  /** Operations in the window a traced run adds after the untraced one,
    * with its listener registered: the counters are reported per
    * operation, so two are enough. */
  val TracedOps = 2

  /** Heap the JVM still holds after a full collection, in MB: what the
    * engine keeps alive once the timed operations are done. */
  def retainedHeapMb(): Double = {
    // twice, so objects released by the first collection's cleaners go too
    System.gc()
    Thread.sleep(500)
    System.gc()
    val r = Runtime.getRuntime
    (r.totalMemory - r.freeMemory) / 1048576.0
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def err(t: Throwable): String =
    s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}"

  /** Resident-set high-water mark of this JVM (`VmHWM`), in MB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}
