package graft.perfbench

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}
import graft.sources.{PgCopySink, PgDdl}
import graft.wikidata.{EntitySchema, Etl, GenWd, TypedValues, Wd}
import Main.{err, median, noop, timed}

/** The generated Wikidata dump and the `wd_load` workload over it.
  *
  * The seed offsets the GenWd entity index range: seed n covers indices
  * [n * 10^6, n * 10^6 + entities). `GenWd.entityJson(i, zipf = true)` is
  * a pure function of i, so one seed always gives byte-identical files.
  * Each data dir holds the dump twice: the published array-wrapped bz2
  * layout that `wd_load` ingests, and the plain NDJSON that `query_suite`
  * reads, plus `meta.properties` with content hashes and the reference
  * digests of the load frames. */
object WdBench {
  val Statements = "bench_wd_statements"
  val Redirects = "bench_wd_redirects"

  final case class Dump(dir: String, meta: java.util.Properties) {
    def bz2: String = Paths.get(dir, "bz2").toString
    def plain: String = Paths.get(dir, "plain").toString
    def long(k: String): Long = meta.getProperty(k).toLong
  }

  /** Part files per dump. A fixed property of the input, like the block
    * count of a full-size dump, so that a small dump still spreads over
    * the cores instead of being one split. */
  val Parts = 8

  /** Untimed loads after the first: the second and third loads are still
    * slower than the rest while compilation of the scan and COPY paths
    * finishes. */
  val WarmLoads = 2

  /** Timed loads in every run, however long the window. */
  val MinLoads = 5

  /** The plain dump as a glob DuckDB reads. */
  def plainGlob(dataDir: String): String =
    Paths.get(dataDir, "plain", "part-*.txt").toString

  /** Order-independent digest: row count and the sum of per-row 64-bit
    * hashes over every column in schema order. */
  def digest(df: DataFrame): (Long, String) = {
    val h = xxhash64(df.columns.map(col).toSeq: _*).cast(DecimalType(38, 0))
    val r = df.agg(count(lit(1)), sum(h)).head()
    (r.getLong(0), Option(r.getDecimal(1)).fold("0")(_.toPlainString))
  }

  private def loadMeta(dir: String): java.util.Properties = {
    val meta = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(dir, "meta.properties"))
    try meta.load(in) finally in.close()
    meta
  }

  private def storeMeta(dir: String, meta: java.util.Properties): Unit = {
    val path = Paths.get(dir, "meta.properties")
    val tmp = Paths.get(path.toString + ".tmp")
    val out = Files.newOutputStream(tmp)
    try meta.store(out, "generated dump") finally out.close()
    Files.move(tmp, path, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Generate the seed's dump in both layouts unless the data dir has it.
    * Plain JVM threads, no Spark job: generation must not warm the code
    * the run then times. */
  def ensureDump(s: SparkSession, c: Conf): Dump = {
    if (Files.exists(Paths.get(c.dataDir, "meta.properties")))
      return Dump(c.dataDir, loadMeta(c.dataDir))
    val d = Dump(c.dataDir, new java.util.Properties())
    val first = c.seed * 1000000L
    val n = c.entities
    Seq(d.plain, d.bz2).foreach(p => Files.createDirectories(Paths.get(p)))
    val codec = new org.apache.hadoop.io.compress.BZip2Codec()
    codec.setConf(s.sparkContext.hadoopConfiguration)
    def writePart(p: Int): Unit = {
      def out(path: String) = new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(path), 1 << 20)
      val plain = out(f"${d.plain}/part-$p%05d.txt")
      val bz2 = codec.createOutputStream(out(f"${d.bz2}/part-$p%05d.txt.bz2"))
      try {
        var k = n * p / Parts
        while (k < n * (p + 1) / Parts) {
          val body = GenWd.entityJson(first + k, zipf = true)
          plain.write((body + "\n").getBytes(UTF_8))
          // concatenated in name order, the parts are one strict JSON array
          bz2.write((GenWd.wrapLine(body, k, n) + "\n").getBytes(UTF_8))
          k += 1
        }
      } finally { plain.close(); bz2.close() }
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(c.cpus)
    try (0 until Parts).map(p => pool.submit(new Runnable {
      def run(): Unit = writePart(p)
    })).foreach(_.get())
    finally pool.shutdown()
    d.meta.setProperty("entities", n.toString)
    d.meta.setProperty("first_index", first.toString)
    Seq("plain" -> d.plain, "bz2" -> d.bz2).foreach { case (name, dir) =>
      val (sha, bytes) = contentHash(dir)
      d.meta.setProperty(s"${name}_sha256", sha)
      d.meta.setProperty(s"${name}_bytes", bytes.toString)
    }
    storeMeta(c.dataDir, d.meta)
    d
  }

  /** Reference digests of the two load frames, computed once per seed and
    * kept in the data dir. `wd_load` asks for them after its timed loads,
    * so that computing them warms nothing it times. */
  def reference(s: SparkSession, d: Dump): Dump = {
    if (d.meta.getProperty("statements_digest") == null) {
      s.conf.set("spark.graft.wd.bz2", d.bz2)
      val (sr, sd) = digest(Etl.loadFrame(s))
      val (rr, rd) = digest(Etl.redirectFrame(s))
      d.meta.setProperty("statements", sr.toString)
      d.meta.setProperty("statements_digest", sd)
      d.meta.setProperty("redirects", rr.toString)
      d.meta.setProperty("redirects_digest", rd)
      storeMeta(d.dir, d.meta)
    }
    d
  }

  /** SHA-256 over the dump's part files in name order, and their size. */
  private def contentHash(dir: String): (String, Long) = {
    val md = MessageDigest.getInstance("SHA-256")
    val files = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
      .sortBy(_.getName)
    files.foreach(f => md.update(Files.readAllBytes(f.toPath)))
    (md.digest().map(b => f"$b%02x").mkString, files.map(_.length).sum)
  }

  def genOnly(s: SparkSession, c: Conf): Outcome = {
    val d = reference(s, ensureDump(s, c))
    Outcome(Nil, Double.NaN, Double.NaN, d.long("statements"), Double.NaN)
  }

  /** psql against the benchmark's own server. */
  final case class Pg(host: String, port: Int) {
    def apply(sql: String): String =
      scala.sys.process.Process(Seq("psql", "-w", "-X", "-h", host, "-p",
        port.toString, "-d", "postgres", "-v", "ON_ERROR_STOP=1", "-Atc",
        sql)).!!.trim
    def sink(table: String): PgCopySink =
      PgCopySink(host, port, "postgres", table, perPartition = true)
  }

  private def nullable(st: StructType): StructType =
    StructType(st.fields.map(_.copy(nullable = true)))

  // ---------------------------------------------------------------- wd_load

  def load(s: SparkSession, c: Conf, spans: Spans,
      excl: (=> Dump) => Dump, mark: () => Unit): Outcome = {
    val d = excl(ensureDump(s, c))
    s.conf.set("spark.graft.wd.bz2", d.bz2)
    val pg = Pg(c.pgHost, c.pgPort)
    val stmtSchema = nullable(Etl.loadFrame(s).schema)
    val redirSchema = nullable(Etl.redirectFrame(s).schema)

    final case class Load(op: Op, promoteS: Double, walBytes: Double,
        storedBytes: Double, got: Seq[(Long, String)], tables: String)
    // the digest of one loaded table, read back through a CSV export
    def loaded(table: String, schema: StructType): (Long, String) = {
      val csv = c.path(s"$table.csv")
      pg(s"""\\copy "$table" TO '$csv' WITH (FORMAT csv)""")
      digest(s.read.schema(schema).option("header", "false")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss").csv(csv))
    }
    // order-independent digest of both tables computed by Postgres: cheap
    // enough for every load, and compared with the first load's, whose
    // tables the CSV export checks against the reference
    val tablesDigest = Seq(Statements, Redirects).map(t =>
      s"""(SELECT count(*) || ':' || coalesce(sum(hashtext(r::text)), 0) FROM "$t" r)""")
      .mkString(" || ' ' || ")
    def oneLoad(i: Int): Load = spans("load", Seq("index" -> i)) {
      // isolation: every load starts from dropped tables and a checkpoint
      pg(s"""DROP TABLE IF EXISTS "$Statements", "$Redirects"""")
      pg("CHECKPOINT")
      val lsn0 = pg("SELECT pg_current_wal_lsn()")
      mark()
      var promote = 0.0
      val (res, dt) = timed {
        try {
          spans("copy_statements") {
            pg(PgDdl.createTable(Statements, stmtSchema))
            pg.sink(Statements).write(Etl.loadFrame(s))
            promote += PgCopySink.lastPromoteSec
          }
          spans("copy_redirects") {
            pg(PgDdl.createTable(Redirects, redirSchema))
            pg.sink(Redirects).write(Etl.redirectFrame(s))
            promote += PgCopySink.lastPromoteSec
          }
          None
        } catch { case t: Throwable => Some(err(t)) }
      }
      val got = if (res.isDefined || i > 0) Nil else spans("check") {
        Seq(loaded(Statements, stmtSchema), loaded(Redirects, redirSchema))
      }
      val Array(wal, stored, tables) = pg(
        s"SELECT pg_wal_lsn_diff(pg_current_wal_lsn(), '$lsn0') || '|' || " +
        s"(pg_total_relation_size('$Statements') + " +
        s"pg_total_relation_size('$Redirects')) || '|' || " +
        (if (res.isDefined) "''" else tablesDigest)).split("\\|", -1)
      Load(Op("load", dt, res.isEmpty, res.getOrElse("")), promote,
        wal.toDouble, stored.toDouble, got, tables)
    }
    // the first load's tables must equal the reference digests of the
    // frames, and every later load's tables the first load's
    def verified(first: Load, rest: Seq[Load]): Seq[Load] = {
      def failed(l: Load, why: String) =
        if (!l.op.ok) l else l.copy(op = l.op.copy(ok = false, error = why))
      val want = Seq(
        (d.long("statements"), d.meta.getProperty("statements_digest")),
        (d.long("redirects"), d.meta.getProperty("redirects_digest")))
      val f = if (first.got == want) first
        else failed(first, s"loaded ${first.got} != reference $want")
      f +: rest.map(l =>
        if (!f.op.ok) failed(l, "the first load, which later loads are " +
          "compared with, failed")
        else if (l.tables != f.tables) failed(l,
          s"tables ${l.tables} != first load's ${f.tables}")
        else l)
    }
    val first = oneLoad(0)
    val warm = (1 to WarmLoads).map(oneLoad)
    val loads = Main.window(c.seconds, MinLoads)(i => oneLoad(WarmLoads + i))
    val retained = Main.retainedHeapMb()
    reference(s, d)
    val rows = d.long("statements") + d.long("redirects")
    val opS = median(loads.map(_.op.seconds))
    var tracedLoads = Seq.empty[Load]
    val layers =
      if (!c.trace) Nil
      else {
        val cnt = Counters.register(s.sparkContext)
        val plan = spans("plan") {
          timed {
            Etl.loadFrame(s).queryExecution.executedPlan
            Etl.redirectFrame(s).queryExecution.executedPlan
          }._2
        }
        val before = cnt.snap()
        val traced = spans("traced_loads")(
          Main.window(0, Main.TracedOps)(oneLoad))
        tracedLoads = traced
        val perLoad = (cnt.snap() - before).fields.collect {
          case (k, v: Long) if k != "input_bytes" => s"spark.$k" -> v.toDouble / traced.size
          case (k, v: Double) => s"spark.$k" -> v / traced.size
        }
        val ladder = spans("prefix_ladder")(prefixLadder(s, cnt, d.bz2,
          d.long("bz2_bytes"), withLabels = true)).toMap
        Seq("spark.plan_s" -> plan) ++ perLoad ++ (ladder - "floor_s") ++ Seq(
          "sources.copy_s" -> (opS - ladder("floor_s")),
          "sources.promote_s" -> median(loads.map(_.promoteS)),
          "sources.wal_bytes_per_row" -> median(loads.map(_.walBytes)) / rows,
          "sources.stored_bytes_per_row" ->
            median(loads.map(_.storedBytes)) / rows,
          "trace.overhead_s" -> (median(traced.map(_.op.seconds)) - opS))
      }
    Outcome(verified(first, warm ++ loads ++ tracedLoads).map(_.op),
      opS, first.op.seconds, rows, retained, layers = layers, extra = Seq(
        "dump" -> Seq("entities" -> d.long("entities"),
          "statements" -> d.long("statements"),
          "redirects" -> d.long("redirects"),
          "bz2_bytes" -> d.long("bz2_bytes"),
          "bz2_sha256" -> d.meta.getProperty("bz2_sha256"))))
  }

  /** Prefix runs of the ingest pipeline into `noop`, each rung one more
    * stage than the last; a stage's time is the difference between
    * successive rungs. With `withLabels` the last rungs are the two load
    * frames, whose sum is the load's Spark-side floor (`floor_s`). */
  def prefixLadder(s: SparkSession, cnt: Counters, dump: String,
      dumpBytes: Long, withLabels: Boolean): Seq[(String, Double)] = {
    def ents = Wd.readDump(s, dump, EntitySchema.entity)
    def flat = Wd.claimsFlatten(ents.filter(col("redirect").isNull))
    val rungs: Seq[(String, () => DataFrame)] = Seq(
      "text" -> (() => s.read.text(dump)),
      "scan" -> (() => ents),
      "flatten" -> (() => flat),
      "typed" -> (() => TypedValues.typed(flat))) ++
      (if (withLabels) Seq("labels" -> (() => Etl.loadFrame(s)),
        "redirects" -> (() => Etl.redirectFrame(s))) else Nil)
    val deepest = if (withLabels) "labels" else "typed"
    var readBytes = 0L
    val t = rungs.map { case (name, frame) =>
      val b = cnt.snap()
      val dt = timed(noop(frame()))._2
      if (name == deepest) readBytes = (cnt.snap() - b).bytesRead
      name -> dt
    }.toMap
    Seq(
      "wikidata.decompress_s" -> t("text"),
      "wikidata.json_scan_s" -> (t("scan") - t("text")),
      "wikidata.flatten_s" -> (t("flatten") - t("scan")),
      "wikidata.typed_s" -> (t("typed") - t("flatten")),
      "wikidata.input_bytes_per_dump_byte" -> readBytes.toDouble / dumpBytes) ++
      (if (withLabels) Seq(
        "wikidata.label_join_s" -> (t("labels") - t("typed")),
        "floor_s" -> (t("labels") + t("redirects")))
       else Nil)
  }
}
