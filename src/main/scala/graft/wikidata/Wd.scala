package graft.wikidata

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference tool's signature capability re-expressed Spark-first:
  * stream Wikidata-shaped entity NDJSON, parse with an explicit schema,
  * flatten the nested maps to relational rows (SURVEY.md §2.8
  * `wd_entity_flatten`, §2.1 `scan_ndjson_entities`).
  *
  * At 100 TB: spark.read.json over splittable bz2 gives parallel ingest
  * of the real dump; `from_json` is codegen'd and the explicit schema
  * avoids a schema-inference pass over the corpus. The checked-in
  * fixture (src/main/resources/wd_entities.ndjson, hand-written from the
  * public Wikibase JSON spec) stands in for the dump.
  */
object Wd {
  /** One Wikidata dump family: the checked-in classpath fixture, the
    * literal path its plain copy is staged at (the DuckDB oracle reads
    * the same bytes there), the conf that points the family's keys at
    * another dump, the conf that points its composed ETL at another bz2
    * dump, and the explicit schema. Every read of a family goes through
    * one of these; unset confs mean the fixture, so Verify and driver
    * runs (which set neither) read the oracle's bytes. On a cluster the
    * fixture lands on the default Hadoop FS; under local[*] it is the
    * local file the oracle reads. */
  final case class Family(resource: String, fixturePath: String,
      pathConf: String, bz2Conf: Option[String], schema: StructType) {
    private lazy val bytes: Array[Byte] = {
      val in = getClass.getResourceAsStream(resource)
      require(in != null, s"$resource missing from classpath")
      try in.readAllBytes() finally in.close()
    }

    /** The fixture's non-blank lines, which the array-wrapped twins
      * reshape. */
    def lines: Seq[String] =
      new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
        .split("\n").filter(_.trim.nonEmpty).toSeq

    /** Stage the plain fixture at [[fixturePath]], once per JVM while
      * the staged file is unchanged ([[graft.Stage.writeOnce]]). */
    def stage(s: SparkSession): String =
      graft.Stage.writeOnce(s, fixturePath)(
        graft.Stage.write(s, fixturePath, bytes))

    /** Stage the fixture twice: the bz2 twin the composed ETL ingests,
      * and the plain copy the oracle reads — byte-identical content, so
      * the oracle checks the decompress-and-parse path too. Each is
      * written once while unchanged, so a key that reads the twin twice
      * compresses it once. */
    def stageBz2(s: SparkSession): String = {
      stage(s)
      val bz2 = graft.Stage.p(s, new java.io.File(fixturePath).getName + ".bz2")
      graft.Stage.writeOnce(s, bz2) {
        val out = graft.Stage.createBz2(s, bz2)
        try out.write(bytes) finally out.close()
      }
    }

    /** The family's dump: the `pathConf` override, else the fixture. */
    def read(s: SparkSession): DataFrame =
      readDump(s, s.conf.getOption(pathConf).getOrElse(stage(s)), schema)

    /** The composed ETL's bz2 dump: the `bz2Conf` override, else the
      * staged bz2 twin of the fixture. With `keep` paths it parses only
      * those fields ([[EntitySchema.prune]]); with none, the whole
      * schema. */
    def readBz2(s: SparkSession, keep: String*): DataFrame =
      readDump(s, bz2Conf.flatMap(s.conf.getOption).getOrElse(stageBz2(s)),
        if (keep.isEmpty) schema else EntitySchema.prune(schema, keep))
  }

  /** Items and properties (`latest-all.json`), the paper's dump. */
  val entityDump = Family("/wd_entities.ndjson", "/tmp/graft_wd_entities.ndjson",
    "spark.graft.wd.path", Some("spark.graft.wd.bz2"), EntitySchema.entity)

  /** Lexemes (`latest-lexemes.json`). */
  val lexemeDump = Family("/wd_lexemes.ndjson", "/tmp/graft_wd_lexemes.ndjson",
    "spark.graft.wd.lexemes", None, EntitySchema.lexeme)

  /** Commons structured data (`commons-mediainfo.json`). */
  val mediainfoDump = Family("/wd_mediainfo.ndjson",
    "/tmp/graft_wd_mediainfo.ndjson", "spark.graft.wd.mediainfo",
    Some("spark.graft.wd.mediainfo.bz2"), EntitySchema.mediainfo)

  /** Fixed path so the DuckDB oracle can read the same bytes. */
  val fixturePath = entityDump.fixturePath

  /** Array-wrapped twin of the fixture (round-16 verdict 1): the SAME
    * entity bytes reshaped into the published `latest-all.json` layout
    * — `[` line, one entity per line each terminated by `,` (none on
    * the last), `]` line. Strict JSON, so the DuckDB oracle parses the
    * whole file with format='array' while Spark goes through the
    * wrapper-strip path: a hash match proves strip+parse ≡ strict
    * whole-array parse. */
  val arrayFixturePath = "/tmp/graft_wd_entities_array.json"

  /** Dirty wrapped twin for the malformed-line accounting key: two
    * broken lines injected between valid entities — what a truncated
    * download or a mid-line split corruption looks like. */
  val dirtyArrayFixturePath = "/tmp/graft_wd_entities_array_dirty.json"

  def ensureArrayFixture(s: SparkSession): String =
    graft.Stage.writeOnce(s, arrayFixturePath) {
      val body = "[\n" + entityDump.lines.mkString(",\n") + "\n]\n"
      graft.Stage.write(s, arrayFixturePath,
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }

  def ensureDirtyArrayFixture(s: SparkSession): String =
    graft.Stage.writeOnce(s, dirtyArrayFixturePath) {
      val ls = entityDump.lines.toBuffer
      // two malformed shapes: a mid-object truncation and plain garbage
      ls.insert(3, """{"type":"item","id":"Q9001","labels":{"en":{"langu""")
      ls.insert(7, """!!! not json at all""")
      val body = "[\n" + ls.mkString(",\n") + "\n]\n"
      graft.Stage.write(s, dirtyArrayFixturePath,
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }

  /** Dump file-format detection (round-16 verdict 1). The LIVE export
    * and our fixtures are clean NDJSON, but the published
    * `latest-all.json[.bz2]` is ONE JSON ARRAY: a `[` line, one entity
    * per line each terminated by `,`, a `]` line — fed to a plain
    * per-line JSON parse, every line is malformed and the scan returns
    * all-null rows silently. The format is worked out from the input:
    * the first non-whitespace decompressed byte of the FIRST data file
    * that yields content, in name order (an empty part-00000 — n <
    * partitions at generation — must not silently flip a wrapped dump
    * to the all-null ndjson parse; round-16 advice 4). One driver-side
    * read of ≤256 decompressed bytes per probed file, cached per
    * (path, mtime, length) — a dump REWRITTEN at the same path gets
    * re-detected instead of reusing a stale decision (round-16
    * advice 2). */
  private val fmtCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), java.lang.Boolean]
  private[graft] def isArrayDump(s: SparkSession, path: String): Boolean = {
    // Directory mtime moves on any file add/remove/replace;
    // content-summary length catches same-mtime-resolution rewrites.
    // Cheap driver-side metadata, no data read.
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val len = if (st.isDirectory) fs.getContentSummary(p).getLength
              else st.getLen
    fmtCache.computeIfAbsent((path, st.getModificationTime, len),
      _ => peekIsArray(s, path))
  }

  /** Data files under `path` (or `path` itself), name-ordered — the
    * concatenation order GenWd's arraywrap layout and [[rechunk]]
    * assume. */
  private def dataFiles(s: SparkSession, path: String): Seq[org.apache.hadoop.fs.Path] = {
    val conf = s.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.getFileStatus(p).isDirectory) Seq(p)
    else {
      val parts = fs.listStatus(p).filter { f =>
        val n = f.getPath.getName
        f.isFile && f.getLen > 0 && !n.startsWith("_") && !n.startsWith(".")
      }
      require(parts.nonEmpty, s"no data files under $path")
      parts.map(_.getPath).sortBy(_.getName).toSeq
    }
  }

  private def peekIsArray(s: SparkSession, path: String): Boolean = {
    val conf = s.sparkContext.hadoopConfiguration
    val factory = new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
    // First file whose first 256 decompressed bytes hold a
    // non-whitespace byte decides; parts that decompress to nothing
    // (possible when GenWd gets fewer rows than partitions) are
    // skipped. All-contentless means an empty dump: format immaterial,
    // ndjson (both paths return zero rows).
    dataFiles(s, path).iterator.map { file =>
      val fs = file.getFileSystem(conf)
      val codec = factory.getCodec(file)
      val raw = fs.open(file)
      val in = if (codec == null) raw else codec.createInputStream(raw)
      try {
        val buf = new Array[Byte](256)
        val n = in.read(buf)
        var i = 0
        while (i < n && Character.isWhitespace(buf(i).toChar)) i += 1
        if (i < n) Some(buf(i) == '['.toByte) else None
      } finally in.close()
    }.collectFirst { case Some(b) => b }.getOrElse(false)
  }

  /** The array path's corrupt-record column — unique so it can never
    * collide with a dump field. */
  private val WrapCol = "_graft_wrapper"

  /** Read a dump at `path` with `schema`, handling the public file
    * shapes. Clean NDJSON keeps the native json scan. The array-wrapped
    * format ALSO reads through the native json file source (round-17
    * verdict 2): the scan
    * carries a PERMISSIVE corrupt-record column, so the `[`/`]`
    * wrapper lines parse as corrupt and one codegen'd filter drops
    * exactly them — a genuinely malformed entity line stays visible as
    * a null row, identical to the NDJSON path's PERMISSIVE behavior.
    * Trailing commas need no strip: the file source's Jackson parse
    * consumes one JSON value per line and ignores trailing tokens
    * (same leniency as from_json, pinned by a WdArraySpec test).
    *
    * Why native-scan-with-corrupt-column and not text→from_json: the
    * round-16 text path re-tokenized every line inside pushed-down
    * filters (~1.9× native), and round-17 measured the two candidate
    * fixes — a pushdown fence (one parse, but it hides the json from
    * the optimizer's SCHEMA PRUNING: flat ~4.6 s at 1M entities, 4.3×
    * native on a profile scan) vs this formulation, which keeps the
    * batched reader AND per-query nested pruning: 1.74 s profile /
    * 4.39 s claims at 1M — ~1.0–1.3× the plain-NDJSON scan (round-17 of
    * git show 79d8cf5:SCALE.md). `.gz` dumps decompress transparently on
    * either path but as ONE split per file — see [[rechunk]] for the
    * bounded re-chunk that parallelizes the most-downloaded dump form. At
    * 100 TB both paths are one narrow parse pipeline, zero shuffle.
    * Split size is stock Spark's: a dump much smaller than cpus × 128 MB
    * feeds every core with `spark.sql.files.minPartitionNum` set to
    * about 4 × parallelism. */
  private[graft] def readDump(s: SparkSession, path: String,
      schema: StructType): DataFrame = {
    if (!isArrayDump(s, path))
      s.read.schema(schema).json(path)
    else {
      require(!schema.fieldNames.contains(WrapCol),
        s"dump schema may not contain $WrapCol")
      require(schema.fieldNames.contains("id"),
        "dump schema must carry the entity id")
      val t = trim(col(WrapCol))
      s.read
        .schema(StructType(schema.fields :+ StructField(WrapCol, StringType)))
        .option("columnNameOfCorruptRecord", WrapCol)
        .json(path)
        // wrapper lines (and blank lines) are EXACTLY the corrupt rows
        // whose raw text trims to [ / ] / empty; any other corrupt row
        // is real damage and stays, as a null row, like the NDJSON
        // path. The (vacuous for wrapper lines) `id IS NOT NULL` arm
        // keeps a DATA column in the scan's required schema — Spark
        // refuses a json scan whose only referenced column is the
        // corrupt record (QUERY_ONLY_CORRUPT_RECORD_COLUMN), which a
        // caller's bare count() would otherwise prune down to.
        .filter(col(WrapCol).isNull ||
          (t =!= "[" && t =!= "]" && t =!= "") || col("id").isNotNull)
        .drop(WrapCol)
    }
  }

  /** Bounded one-pass re-chunk of an UNSPLITTABLE dump file (round-17
    * verdict 3): `latest-all.json.gz` — the most-mirrored form of the
    * public dump — decompresses transparently through Hadoop's codec
    * but as ONE split, so a ~140 GB .gz becomes a single silently-
    * serial task. This streams the dump ONCE (driver-side: the gzip
    * stream is inherently serial; someone must pay one sequential
    * decode) and deals lines round-robin into `parts` output files —
    * plain text (splittable by file) or bz2 (`codec="bz2"`, block-
    * splittable AND per-file parallel). Constant memory: one line in
    * flight, `parts` open buffered streams. Array-wrapped dumps
    * re-chunk VERBATIM: the `[` line lands in part-00000 (so
    * auto-detection still sees it), `]` and trailing commas are
    * handled by the array read path as usual — row identity is pinned
    * by GzSpec and measured at 1M entities in round-17 of
    * git show 79d8cf5:SCALE.md.
    * Returns the line count dealt. */
  def rechunk(s: SparkSession, inPath: String, outDir: String,
      parts: Int, codec: String = "none"): Long = {
    require(parts > 0, s"rechunk parts=$parts")
    val conf = s.sparkContext.hadoopConfiguration
    val factory = new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
    val outP = new org.apache.hadoop.fs.Path(outDir)
    val outFs = outP.getFileSystem(conf)
    outFs.mkdirs(outP)
    val ext = codec match {
      case "none" => ""
      case "bz2" => ".bz2"
      case other => sys.error(s"rechunk codec=$other (want none|bz2)")
    }
    val writers = Array.tabulate(parts) { i =>
      val f = new org.apache.hadoop.fs.Path(outP, f"part-$i%05d$ext").toString
      if (ext.isEmpty) new java.io.BufferedOutputStream(graft.Stage.create(s, f), 1 << 16)
      else graft.Stage.createBz2(s, f)
    }
    var n = 0L
    try {
      val nl = Array('\n'.toByte)
      dataFiles(s, inPath).foreach { file =>
        val fs = file.getFileSystem(conf)
        val in = Option(factory.getCodec(file))
          .map(_.createInputStream(fs.open(file)): java.io.InputStream)
          .getOrElse(fs.open(file))
        val rd = new java.io.BufferedReader(
          new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8),
          1 << 16)
        try {
          var line = rd.readLine()
          while (line != null) {
            val w = writers((n % parts).toInt)
            w.write(line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            w.write(nl)
            n += 1
            line = rd.readLine()
          }
        } finally rd.close()
      }
    } finally writers.foreach(_.close())
    n
  }

  /** The entity surface: redirect stubs routed OUT (they carry no
    * labels/claims and must not appear as empty entities — round-15
    * verdict 3; the raw `entityDump.read` keeps them for the redirect
    * relation). The filter is a codegen'd null check on the scan,
    * free at any scale; explode-based keys were already stub-blind
    * (null maps produce no rows), per-entity keys now agree. */
  def entities(s: SparkSession): DataFrame =
    entityDump.read(s).filter(col("redirect").isNull)

  /** Claims flatten core (unsorted): one row per statement mainsnak,
    * raw JSON payload preserved. Parameterized on the entity frame so
    * the standalone key and the composed ETL chain share one plan
    * shape regardless of which source (plain or bz2 NDJSON) fed it. */
  def claimsFlatten(ents: DataFrame): DataFrame =
    ents
      .select(col("id"), explode(col("claims")).as(Seq("pid", "stmts")))
      .select(col("id"), col("pid"), explode(col("stmts")).as("st"))
      .select(
        col("id"), col("pid"),
        col("st.id").as("statement_id"),
        col("st.rank").as("rank"),
        col("st.mainsnak.snaktype").as("snaktype"),
        col("st.mainsnak.datavalue.type").as("dv_type"),
        col("st.mainsnak.datavalue.value").as("dv_raw"),
        coalesce(size(col("st.qualifiers")), lit(0)).as("n_qualifier_props"),
        coalesce(size(col("st.references")), lit(0)).as("n_refs"))

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // Per-entity structural profile; proves the full nested schema
    // reads. The optimizer's json schema pruning trims the scan to the
    // fields this profile touches on BOTH dump layouts (the array path
    // reads through the native file source too — round-17 verdict 2).
    "scan_ndjson_entities" -> ((s, _) => {
      entities(s).select(
        col("id"), col("type"),
        coalesce(size(col("labels")), lit(0)).as("n_labels"),
        coalesce(size(col("claims")), lit(0)).as("n_claim_props"),
        coalesce(size(col("sitelinks")), lit(0)).as("n_sitelinks"),
        col("lastrevid"))
        .orderBy("id")
    }),

    // The REAL dump file format (round-16 verdict 1): the published
    // latest-all.json is one JSON ARRAY — `[` line, entity lines each
    // terminated by `,`, `]` line — which a per-line parse silently
    // nulls. This key reads the array-wrapped twin of the fixture
    // through the wrapper-strip path (auto-detected from the first
    // byte, so spark.graft.wd.path aimed at a real dump Just Works)
    // and must profile identically to scan_ndjson_entities; the
    // oracle re-parses the twin as STRICT whole-file JSON.
    "wd_scan_arraydump" -> ((s, _) =>
      readDump(s, ensureArrayFixture(s), EntitySchema.entity)
        .filter(col("redirect").isNull)
        .select(
          col("id"), col("type"),
          coalesce(size(col("labels")), lit(0)).as("n_labels"),
          coalesce(size(col("claims")), lit(0)).as("n_claim_props"),
          coalesce(size(col("sitelinks")), lit(0)).as("n_sitelinks"),
          col("lastrevid"))
        .orderBy("id")),

    // Malformed-line accounting — the ingest DQ gate: a truncated
    // download or corrupt block must SURFACE as counted bad lines,
    // never as silently-nulled rows. Per-class line counts (wrapper /
    // entity / malformed) over a dirty wrapped dump; try_parse_json
    // is the validity probe (NULL for broken JSON) — one narrow text
    // scan, one output-sized groupBy, trivially linear at 100 TB.
    "wd_arraydump_stats" -> ((s, _) => {
      val t = trim(col("value"))
      s.read.textFile(ensureDirtyArrayFixture(s)).toDF()
        .filter(t =!= "")
        .select(
          when(t.isin("[", "]"), "wrapper")
            .when(try_parse_json(
              regexp_replace(col("value"), ",\\s*$", "")).isNull, "malformed")
            .otherwise("entity").as("cls"))
        .groupBy("cls").agg(count(lit(1)).as("n"))
        .orderBy("cls")
    }),

    // The signature transform: one row per (entity, language, label).
    "wd_entity_flatten" -> ((s, _) => {
      entities(s)
        .select(col("id"), col("type"),
          coalesce(size(col("claims")), lit(0)).as("n_claim_props"),
          explode(col("labels")).as(Seq("lang", "lv")))
        .select(col("id"), col("type"), col("lang"),
          col("lv.value").as("label"), col("n_claim_props"))
        .orderBy("id", "lang")
    }),

    // Typed extraction from the polymorphic datavalue: every statement's
    // mainsnak as one row, with the raw JSON payload preserved.
    "wd_claims_flatten" -> ((s, _) =>
      claimsFlatten(entities(s)).orderBy("id", "pid", "statement_id")),

    // Redirect relation (round-15 verdict 3): the (from, to) mapping an
    // importer resolves ids through. One filtered projection of the raw
    // dump scan — no shuffle but the output sort; at 100 TB this is the
    // cheapest key in the family (redirects are ~5% of dump lines).
    "wd_redirects" -> ((s, _) =>
      entityDump.read(s)
        .filter(col("redirect").isNotNull)
        .select(col("id"), col("redirect").as("target"), col("lastrevid"))
        .orderBy("id")),

    // Redirect RESOLUTION — what an importer actually does with the
    // mapping: every entity-valued statement whose target id is a
    // redirect stub is rewritten to the stub's target (single hop:
    // Wikibase forbids double redirects in the live data; a dump-race
    // chain would surface as was_redirect on the next refresh). One
    // left join of the statement surface against the redirect
    // relation; at 100 TB the redirect side is ~5% of entities
    // (~10M rows for the real dump) — AQE picks broadcast when it
    // fits, degrades to a shuffle join on the target id otherwise.
    "wd_statements_resolved" -> ((s, _) => {
      val cf = claimsFlatten(entities(s))
        .filter(col("dv_type") === "wikibase-entityid")
        .withColumn("target_raw", get_json_object(col("dv_raw"), "$.id"))
      val redir = entityDump.read(s).filter(col("redirect").isNotNull)
        .select(col("id").as("r_from"), col("redirect").as("r_to"))
      cf.join(redir, col("target_raw") === col("r_from"), "left")
        .select(col("id"), col("pid"), col("statement_id"),
          col("target_raw"),
          coalesce(col("r_to"), col("target_raw")).as("target_resolved"),
          col("r_to").isNotNull.as("was_redirect"))
        .orderBy("id", "pid", "statement_id")
    }),

    // Property-datatype conformance (round-16 verdict 4): P-entities
    // declare a datatype, and every mainsnak observed under that pid
    // must agree — the importer DQ gate that quarantines miscoded
    // statements (the wd twin of etl_quarantine). The registry comes
    // from the SAME dump (type='property' rows): ~12k properties in
    // the real dump, always broadcast-able, so the statement surface
    // never shuffles on the registry's account; the groupBy output is
    // (pid × datatype-pair)-sized, driver-safe at any corpus scale.
    "wd_datatype_check" -> ((s, _) => {
      val obs = entities(s)
        .select(explode(col("claims")).as(Seq("pid", "stmts")))
        .select(col("pid"), explode(col("stmts")).as("st"))
        .select(col("pid"), col("st.mainsnak.datatype").as("observed"))
      val registry = entities(s).filter(col("type") === "property")
        .select(col("id").as("pid"), col("datatype").as("declared"))
      obs.join(broadcast(registry), Seq("pid"), "left")
        .groupBy(col("pid"), col("declared"), col("observed"))
        .agg(count(lit(1)).as("n_statements"))
        .withColumn("mismatch",
          col("declared").isNotNull && col("observed").isNotNull &&
            col("declared") =!= col("observed"))
        .orderBy(col("pid"), coalesce(col("declared"), lit("")),
          coalesce(col("observed"), lit("")))
    }),

    "wd_property_stats" -> ((s, _) => {
      // Per-property dump profile — the warehouse stats page a Wikidata
      // consumer reads first: statement volume, entity coverage,
      // datavalue-type spread, qualifier/reference density. One
      // output-sized aggregation over the flattened claims (pid
      // cardinality is ~12k properties in the real dump — always
      // driver-safe). min(dv_type) is the deterministic representative
      // (null snaktypes carry no dv_type and drop out of both engines'
      // aggregates identically).
      val cf = claimsFlatten(entities(s))
      cf.groupBy(col("pid"))
        .agg(count(lit(1)).as("n_statements"),
          countDistinct(col("id")).as("n_entities"),
          countDistinct(col("dv_type")).as("n_dv_types"),
          min(col("dv_type")).as("rep_dv_type"),
          sum(col("n_qualifier_props").cast(LongType)).as("total_qualifier_props"),
          sum(col("n_refs").cast(LongType)).as("total_refs"))
        .orderBy("pid")
    }),

    // Truthy statement selection — the rank semantics every Wikidata
    // consumer applies before using claims: per (entity, property),
    // keep preferred statements if any exist, else the normal ones;
    // deprecated never surfaces. One max-over-partition window on the
    // already-flattened statements (no second scan, no join).
    "wd_statements_truthy" -> ((s, _) => {
      val cf = claimsFlatten(entities(s))
      val rv = when(col("rank") === "preferred", 2)
        .when(col("rank") === "normal", 1).otherwise(0)
      val w = Window.partitionBy("id", "pid")
      cf.withColumn("rv", rv)
        .withColumn("best", max(col("rv")).over(w))
        .filter(col("rv") === col("best") && col("rv") > 0)
        .select(col("id"), col("pid"), col("statement_id"), col("rank"),
          col("dv_type"), col("dv_raw"))
        .orderBy("id", "pid", "statement_id")
    }),

    // Reference surface: one row per reference snak — position of the
    // reference within the statement AND of the snak within its
    // property's list both preserved, so provenance reconstructs
    // exactly from the relational form.
    "wd_references_flatten" -> ((s, _) =>
      entities(s)
        .select(col("id"), explode(col("claims")).as(Seq("pid", "stmts")))
        .select(col("id"), col("pid"), explode(col("stmts")).as("st"))
        .select(col("id"), col("pid"), col("st.id").as("statement_id"),
          posexplode(col("st.references")).as(Seq("refpos", "ref")))
        .select(col("id"), col("pid"), col("statement_id"), col("refpos"),
          col("ref.hash").as("ref_hash"),
          explode(col("ref.snaks")).as(Seq("rprop", "rsnaks")))
        .select(col("id"), col("pid"), col("statement_id"), col("refpos"),
          col("ref_hash"), col("rprop"),
          posexplode(col("rsnaks")).as(Seq("rpos", "rs")))
        .select(col("id"), col("pid"), col("statement_id"), col("refpos"),
          col("ref_hash"), col("rprop"), col("rpos"),
          col("rs.snaktype").as("snaktype"),
          col("rs.datavalue.type").as("dv_type"),
          col("rs.datavalue.value").as("dv_raw"))
        .orderBy("id", "pid", "statement_id", "refpos", "rprop", "rpos")),

    // Display-label resolution: per entity, pick ONE label by the
    // consumer's language-preference chain (en → de → fr), falling back
    // to the lexicographically smallest remaining language so every
    // labeled entity resolves deterministically — the lookup every
    // Wikidata UI/warehouse does before showing an entity. One explode
    // + one row_number window, no joins against the big surface; the
    // left join only reattaches label-less entities (as NULLs) so the
    // output stays one row per entity.
    "wd_diff" -> ((s, _) => {
      // Snapshot-to-snapshot dump diff — the incremental-update story:
      // a consumer refreshing from a new dump needs (added, removed,
      // changed, unchanged) per entity, not a full reload. Content
      // identity is a SORTED lang:label signature (never to_json of a
      // map — serialization order isn't a contract), so the diff is a
      // full outer join on id + one string compare: at 100 TB this is
      // one co-partitioned join of two entity scans, no nested data
      // crossing the shuffle. The two snapshots derive deterministically
      // from the fixture (old = revid%3≠0, new = revid%7≠0, with
      // revid%2=0 entities re-labelled in the new snapshot) so every
      // diff class is exercised.
      val sig = coalesce(array_join(array_sort(expr(
        "transform(map_entries(labels), x -> concat(x.key, ':', x.value.value))")),
        ","), lit(""))
      val base = entities(s).select(col("id"), col("lastrevid"), sig.as("sig"))
      val v1 = base.filter(col("lastrevid") % 3 =!= 0)
        .select(col("id"), col("sig").as("sig1"))
      val v2 = base.filter(col("lastrevid") % 7 =!= 0)
        .select(col("id"), concat(col("sig"),
          when(col("lastrevid") % 2 === 0, lit("|r2")).otherwise(lit("")))
          .as("sig2"))
      v1.join(v2, Seq("id"), "full")
        .select(col("id"),
          when(col("sig1").isNull, "added")
            .when(col("sig2").isNull, "removed")
            .when(col("sig1") =!= col("sig2"), "changed")
            .otherwise("unchanged").as("change"))
        .orderBy("id")
    }),

    "wd_claims_widen" -> ((s, _) => {
      // EAV → wide: the per-property columns the reference's fixed-DDL
      // Postgres tables hard-code (instance-of, birth date, coords).
      // Conditional aggregation over the flattened claims — ONE
      // output-sized shuffle on id, no join per property (the naive
      // widen is k self-joins) — with min() as the deterministic
      // single-value rule for multi-valued properties (production
      // ranks truthy-first; wd_statements_truthy holds that logic).
      // JSON parses live INSIDE the pid guards: on a real dump with
      // ~12k properties, >99.9% of statements match none of the
      // selected columns and must not pay three discarded parses
      val cf = claimsFlatten(entities(s))
      cf.groupBy(col("id"))
        .agg(
          min(when(col("pid") === "P31",
            get_json_object(col("dv_raw"), "$.id"))).as("p31_class"),
          min(when(col("pid") === "P569",
            get_json_object(col("dv_raw"), "$.time"))).as("p569_dob"),
          min(when(col("pid") === "P625",
            get_json_object(col("dv_raw"), "$.latitude").cast(DoubleType)))
            .as("p625_lat"),
          count(lit(1)).as("n_statements"))
        .orderBy("id")
    }),

    "etl_incremental_refresh" -> ((s, _) => {
      // wd_diff COMPOSED with the CDC-apply shape — the incremental
      // consumption story end to end: instead of reloading the new
      // dump, the stored v1 table gets the diff applied (delete
      // `removed`, upsert `added`/`changed` from the new snapshot),
      // and the refreshed table must be INDISTINGUISHABLE from a full
      // v2 rebuild — which is exactly what the oracle states. At
      // 100 TB the applied delta is diff-sized (typically <1% of a
      // dump-to-dump change), not table-sized: one co-partitioned
      // diff join + one anti join + a union, all keyed on id.
      val sig = coalesce(array_join(array_sort(expr(
        "transform(map_entries(labels), x -> concat(x.key, ':', x.value.value))")),
        ","), lit(""))
      val base = entities(s).select(col("id"), col("lastrevid"), sig.as("sig"))
      val v1 = base.filter(col("lastrevid") % 3 =!= 0)
        .select(col("id"), col("sig"))
      val v2 = base.filter(col("lastrevid") % 7 =!= 0)
        .select(col("id"), concat(col("sig"),
          when(col("lastrevid") % 2 === 0, lit("|r2")).otherwise(lit("")))
          .as("sig"))
      val joined = v1.select(col("id"), col("sig").as("sig1"))
        .join(v2.select(col("id"), col("sig").as("sig2")), Seq("id"), "full")
      val deletes = joined.filter(col("sig2").isNull).select(col("id"))
      val upserts = joined.filter(col("sig2").isNotNull &&
          (col("sig1").isNull || col("sig1") =!= col("sig2")))
        .select(col("id"), col("sig2").as("sig"))
      val touched = deletes.union(upserts.select(col("id")))
      v1.join(touched, Seq("id"), "left_anti")
        .union(upserts)
        .orderBy("id")
    }),

    "wd_labels_fallback" -> ((s, _) => {
      val pref = when(col("lang") === "en", 0)
        .when(col("lang") === "de", 1)
        .when(col("lang") === "fr", 2)
        .otherwise(3)
      val w = Window.partitionBy("id").orderBy(pref, col("lang"))
      val best = entities(s)
        .select(col("id"), explode(col("labels")).as(Seq("lang", "lv")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("id"), col("lang").as("label_lang"),
          col("lv.value").as("label"))
      entities(s).select(col("id"))
        .join(best, Seq("id"), "left")
        .orderBy("id")
    }),

    // Description surface: one row per (entity, language) description —
    // labels' sibling map, same flatten.
    "wd_descriptions_flatten" -> ((s, _) =>
      entities(s)
        .select(col("id"), explode(col("descriptions")).as(Seq("lang", "dv")))
        .select(col("id"), col("lang"), col("dv.value").as("description"))
        .orderBy("id", "lang")),

    // Alias surface: aliases are a map of language → ARRAY of values;
    // posexplode keeps each alias's position within its language list.
    "wd_aliases_flatten" -> ((s, _) =>
      entities(s)
        .select(col("id"), explode(col("aliases")).as(Seq("lang", "avs")))
        .select(col("id"), col("lang"), posexplode(col("avs")).as(Seq("apos", "av")))
        .select(col("id"), col("lang"), col("apos"), col("av.value").as("alias"))
        .orderBy("id", "lang", "apos")),

    // Sitelink surface: one row per (entity, wiki) — the join table a
    // warehouse needs to resolve cross-wiki titles.
    "wd_sitelinks_flatten" -> ((s, _) =>
      entities(s)
        .select(col("id"), explode(col("sitelinks")).as(Seq("wiki", "sl")))
        .select(col("id"), col("wiki"), col("sl.site").as("site"),
          col("sl.title").as("title"),
          coalesce(size(col("sl.badges")), lit(0)).as("n_badges"))
        .orderBy("id", "wiki")),

    // Qualifier surface: one row per qualifier snak, positioned within
    // its property's snak list (posexplode) so multi-snak qualifiers
    // keep their dump order — same raw-JSON preservation as claims.
    "wd_qualifiers_flatten" -> ((s, _) =>
      entities(s)
        .select(col("id"), explode(col("claims")).as(Seq("pid", "stmts")))
        .select(col("id"), col("pid"), explode(col("stmts")).as("st"))
        .select(col("id"), col("pid"), col("st.id").as("statement_id"),
          explode(col("st.qualifiers")).as(Seq("qprop", "qsnaks")))
        .select(col("id"), col("pid"), col("statement_id"), col("qprop"),
          posexplode(col("qsnaks")).as(Seq("qpos", "q")))
        .select(col("id"), col("pid"), col("statement_id"), col("qprop"),
          col("qpos"),
          col("q.snaktype").as("snaktype"),
          col("q.datavalue.type").as("dv_type"),
          col("q.datavalue.value").as("dv_raw"))
        .orderBy("id", "pid", "statement_id", "qprop", "qpos"))
  )

  /** wd_entity_flatten gets a real oracle: DuckDB reads the same fixture
    * bytes (written to a fixed path by the query itself during Verify,
    * which always runs before the driver's DuckDB pass). */
  val oracles: Map[String, String] = Map(
    "scan_ndjson_entities" ->
      """SELECT id, type,
             CAST(coalesce(len(json_keys(labels)), 0) AS INTEGER) AS n_labels,
             CAST(coalesce(len(json_keys(claims)), 0) AS INTEGER) AS n_claim_props,
             CAST(coalesce(len(json_keys(sitelinks)), 0) AS INTEGER) AS n_sitelinks,
             lastrevid
         FROM read_json('/tmp/graft_wd_entities.ndjson',
                        format='newline_delimited',
                        columns={id: 'VARCHAR', type: 'VARCHAR',
                                 labels: 'JSON', claims: 'JSON',
                                 sitelinks: 'JSON', lastrevid: 'BIGINT',
                                 redirect: 'VARCHAR'})
         WHERE redirect IS NULL
         ORDER BY id""",

    "wd_scan_arraydump" ->
      """SELECT id, type,
             CAST(coalesce(len(json_keys(labels)), 0) AS INTEGER) AS n_labels,
             CAST(coalesce(len(json_keys(claims)), 0) AS INTEGER) AS n_claim_props,
             CAST(coalesce(len(json_keys(sitelinks)), 0) AS INTEGER) AS n_sitelinks,
             lastrevid
         FROM read_json('/tmp/graft_wd_entities_array.json',
                        format='array',
                        columns={id: 'VARCHAR', type: 'VARCHAR',
                                 labels: 'JSON', claims: 'JSON',
                                 sitelinks: 'JSON', lastrevid: 'BIGINT',
                                 redirect: 'VARCHAR'})
         WHERE redirect IS NULL
         ORDER BY id""",

    // Line classification replayed over the raw file text: read_text +
    // split on newlines, the same trim/wrapper/strip/validity rules
    // (TRY_CAST to JSON ≡ try_parse_json: NULL iff the text is not
    // valid JSON; every injected bad line is unambiguously broken).
    "wd_arraydump_stats" ->
      """WITH lines AS (
           SELECT unnest(string_split(content, chr(10))) AS line
           FROM read_text('/tmp/graft_wd_entities_array_dirty.json')),
         nz AS (SELECT line FROM lines WHERE trim(line) <> '')
         SELECT CASE WHEN trim(line) IN ('[', ']') THEN 'wrapper'
                     WHEN TRY_CAST(regexp_replace(line, ',\s*$', '') AS JSON)
                       IS NULL THEN 'malformed'
                     ELSE 'entity' END AS cls,
                count(*) AS n
         FROM nz GROUP BY cls ORDER BY cls""",

    "wd_redirects" ->
      """SELECT id, redirect AS target, lastrevid
         FROM read_json('/tmp/graft_wd_entities.ndjson',
                        format='newline_delimited',
                        columns={id: 'VARCHAR', redirect: 'VARCHAR',
                                 lastrevid: 'BIGINT'})
         WHERE redirect IS NOT NULL
         ORDER BY id""",

    "wd_statements_resolved" ->
      """WITH raw AS (
           SELECT id, claims, redirect
           FROM read_json('/tmp/graft_wd_entities.ndjson',
             format='newline_delimited',
             columns={id: 'VARCHAR', claims: 'JSON', redirect: 'VARCHAR'})),
         ent AS (SELECT id, claims FROM raw WHERE redirect IS NULL),
         redir AS (SELECT id AS r_from, redirect AS r_to FROM raw
                   WHERE redirect IS NOT NULL),
         pids AS (SELECT id, unnest(json_keys(claims)) AS pid, claims FROM ent),
         st AS (SELECT id, pid,
                  unnest(CAST(json_extract(claims, '$.' || pid) AS JSON[])) AS stj
                FROM pids),
         flat AS (SELECT id, pid,
             json_extract_string(stj, '$.id') AS statement_id,
             json_extract_string(stj, '$.mainsnak.datavalue.type') AS dv_type,
             json_extract_string(stj, '$.mainsnak.datavalue.value.id') AS target_raw
           FROM st)
         SELECT f.id, f.pid, f.statement_id, f.target_raw,
             coalesce(r.r_to, f.target_raw) AS target_resolved,
             (r.r_to IS NOT NULL) AS was_redirect
         FROM flat f LEFT JOIN redir r ON f.target_raw = r.r_from
         WHERE f.dv_type = 'wikibase-entityid'
         ORDER BY f.id, f.pid, f.statement_id""",

    "wd_claims_widen" ->
      """WITH ent AS (
           SELECT id, claims FROM read_json('/tmp/graft_wd_entities.ndjson',
             format='newline_delimited', columns={id: 'VARCHAR', claims: 'JSON'})),
         pids AS (SELECT id, unnest(json_keys(claims)) AS pid, claims FROM ent),
         st AS (SELECT id, pid,
                  unnest(CAST(json_extract(claims, '$.' || pid) AS JSON[])) AS stj
                FROM pids),
         ext AS (SELECT id, pid,
             json_extract_string(stj, '$.mainsnak.datavalue.value.id') AS j_ent,
             json_extract_string(stj, '$.mainsnak.datavalue.value.time') AS j_time,
             json_extract_string(stj, '$.mainsnak.datavalue.value.latitude') AS j_lat
           FROM st)
         SELECT id,
             min(CASE WHEN pid = 'P31' THEN j_ent END) AS p31_class,
             min(CASE WHEN pid = 'P569' THEN j_time END) AS p569_dob,
             min(CASE WHEN pid = 'P625' THEN CAST(j_lat AS DOUBLE) END) AS p625_lat,
             count(*) AS n_statements
         FROM ext GROUP BY id ORDER BY id""",

    // The oracle is the DIRECT v2 rebuild — stating that applying the
    // diff to v1 reproduces it exactly is the whole point of the key.
    "etl_incremental_refresh" ->
      """SELECT id,
             coalesce(array_to_string(list_sort(
               [k || ':' || json_extract_string(labels, '$.' || k || '.value')
                FOR k IN json_keys(labels)]), ','), '')
             || (CASE WHEN lastrevid % 2 = 0 THEN '|r2' ELSE '' END) AS sig
         FROM read_json('/tmp/graft_wd_entities.ndjson',
                        format='newline_delimited',
                        columns={id: 'VARCHAR', labels: 'JSON',
                                 lastrevid: 'BIGINT',
                                 redirect: 'VARCHAR'})
         WHERE lastrevid % 7 <> 0 AND redirect IS NULL
         ORDER BY id""",

    // Same sorted lang:value signature built through DuckDB's JSON
    // functions; list comprehension over json_keys replays
    // transform(map_entries(...)) exactly (langs are ASCII, both sorts
    // are binary-lexicographic).
    "wd_diff" ->
      """WITH base AS (
           SELECT id, lastrevid,
                  coalesce(array_to_string(list_sort(
                    [k || ':' || json_extract_string(labels, '$.' || k || '.value')
                     FOR k IN json_keys(labels)]), ','), '') AS sig
           FROM read_json('/tmp/graft_wd_entities.ndjson',
                          format='newline_delimited',
                          columns={id: 'VARCHAR', labels: 'JSON',
                                   lastrevid: 'BIGINT',
                                   redirect: 'VARCHAR'})
           WHERE redirect IS NULL),
         v1 AS (SELECT id, sig AS sig1 FROM base WHERE lastrevid % 3 <> 0),
         v2 AS (SELECT id, sig || (CASE WHEN lastrevid % 2 = 0
                                        THEN '|r2' ELSE '' END) AS sig2
                FROM base WHERE lastrevid % 7 <> 0)
         SELECT coalesce(v1.id, v2.id) AS id,
                CASE WHEN sig1 IS NULL THEN 'added'
                     WHEN sig2 IS NULL THEN 'removed'
                     WHEN sig1 <> sig2 THEN 'changed'
                     ELSE 'unchanged' END AS change
         FROM v1 FULL OUTER JOIN v2 ON v1.id = v2.id
         ORDER BY id""",

    // dv_raw parity holds because BOTH sides minify: Spark's JSON parser
    // re-serializes object-valued StringType fields compactly, and
    // DuckDB's JSON type stores minified text.
    "wd_claims_flatten" ->
      """WITH ent AS (
           SELECT id, claims FROM read_json('/tmp/graft_wd_entities.ndjson',
             format='newline_delimited', columns={id: 'VARCHAR', claims: 'JSON'})),
         pids AS (SELECT id, unnest(json_keys(claims)) AS pid, claims FROM ent),
         st AS (SELECT id, pid,
                  unnest(CAST(json_extract(claims, '$.' || pid) AS JSON[])) AS stj
                FROM pids)
         SELECT id, pid,
             json_extract_string(stj, '$.id') AS statement_id,
             json_extract_string(stj, '$.rank') AS rank,
             json_extract_string(stj, '$.mainsnak.snaktype') AS snaktype,
             json_extract_string(stj, '$.mainsnak.datavalue.type') AS dv_type,
             json_extract_string(stj, '$.mainsnak.datavalue.value') AS dv_raw,
             CAST(coalesce(len(json_keys(json_extract(stj, '$.qualifiers'))), 0) AS INTEGER)
               AS n_qualifier_props,
             CAST(coalesce(json_array_length(stj, '$.references'), 0) AS INTEGER) AS n_refs
         FROM st ORDER BY id, pid, statement_id""",

    // Null-safe ORDER BY via coalesce('') on BOTH sides — Spark sorts
    // nulls first, DuckDB last, and the gate compares rows in order.
    "wd_datatype_check" ->
      """WITH ent AS (
           SELECT id, type, claims, datatype
           FROM read_json('/tmp/graft_wd_entities.ndjson',
             format='newline_delimited',
             columns={id: 'VARCHAR', type: 'VARCHAR', claims: 'JSON',
                      datatype: 'VARCHAR', redirect: 'VARCHAR'})
           WHERE redirect IS NULL),
         pids AS (SELECT id, unnest(json_keys(claims)) AS pid, claims FROM ent),
         st AS (SELECT pid,
                  unnest(CAST(json_extract(claims, '$.' || pid) AS JSON[])) AS stj
                FROM pids),
         obs AS (SELECT pid,
                   json_extract_string(stj, '$.mainsnak.datatype') AS observed
                 FROM st),
         reg AS (SELECT id AS pid, datatype AS declared FROM ent
                 WHERE type = 'property')
         SELECT o.pid, r.declared, o.observed, count(*) AS n_statements,
             (r.declared IS NOT NULL AND o.observed IS NOT NULL
              AND r.declared <> o.observed) AS mismatch
         FROM obs o LEFT JOIN reg r ON o.pid = r.pid
         GROUP BY o.pid, r.declared, o.observed
         ORDER BY o.pid, coalesce(r.declared, ''), coalesce(o.observed, '')""",

    "wd_property_stats" ->
      """WITH ent AS (
           SELECT id, claims FROM read_json('/tmp/graft_wd_entities.ndjson',
             format='newline_delimited', columns={id: 'VARCHAR', claims: 'JSON'})),
         pids AS (SELECT id, unnest(json_keys(claims)) AS pid, claims FROM ent),
         st AS (SELECT id, pid,
                  unnest(CAST(json_extract(claims, '$.' || pid) AS JSON[])) AS stj
                FROM pids),
         flat AS (SELECT id, pid,
             json_extract_string(stj, '$.mainsnak.datavalue.type') AS dv_type,
             CAST(coalesce(len(json_keys(json_extract(stj, '$.qualifiers'))), 0) AS BIGINT)
               AS n_qualifier_props,
             CAST(coalesce(json_array_length(stj, '$.references'), 0) AS BIGINT) AS n_refs
           FROM st)
         SELECT pid, count(*) AS n_statements,
             count(DISTINCT id) AS n_entities,
             count(DISTINCT dv_type) AS n_dv_types,
             min(dv_type) AS rep_dv_type,
             CAST(sum(n_qualifier_props) AS BIGINT) AS total_qualifier_props,
             CAST(sum(n_refs) AS BIGINT) AS total_refs
         FROM flat GROUP BY pid ORDER BY pid""",

    "wd_statements_truthy" ->
      """WITH ent AS (
           SELECT id, claims FROM read_json('/tmp/graft_wd_entities.ndjson',
             format='newline_delimited', columns={id: 'VARCHAR', claims: 'JSON'})),
         pids AS (SELECT id, unnest(json_keys(claims)) AS pid, claims FROM ent),
         st AS (SELECT id, pid,
                  unnest(CAST(json_extract(claims, '$.' || pid) AS JSON[])) AS stj
                FROM pids),
         flat AS (SELECT id, pid,
             json_extract_string(stj, '$.id') AS statement_id,
             json_extract_string(stj, '$.rank') AS rank,
             json_extract_string(stj, '$.mainsnak.datavalue.type') AS dv_type,
             json_extract_string(stj, '$.mainsnak.datavalue.value') AS dv_raw,
             CASE json_extract_string(stj, '$.rank')
               WHEN 'preferred' THEN 2 WHEN 'normal' THEN 1 ELSE 0 END AS rv
           FROM st),
         best AS (SELECT *, max(rv) OVER (PARTITION BY id, pid) AS b FROM flat)
         SELECT id, pid, statement_id, rank, dv_type, dv_raw
         FROM best WHERE rv = b AND rv > 0
         ORDER BY id, pid, statement_id""",

    "wd_references_flatten" ->
      """WITH ent AS (
           SELECT id, claims FROM read_json('/tmp/graft_wd_entities.ndjson',
             format='newline_delimited', columns={id: 'VARCHAR', claims: 'JSON'})),
         pids AS (SELECT id, unnest(json_keys(claims)) AS pid, claims FROM ent),
         st AS (SELECT id, pid,
                  unnest(CAST(json_extract(claims, '$.' || pid) AS JSON[])) AS stj
                FROM pids),
         refs AS (SELECT id, pid,
                    json_extract_string(stj, '$.id') AS statement_id,
                    unnest(CAST(json_extract(stj, '$.references') AS JSON[])) AS refj,
                    unnest(range(0, CAST(coalesce(json_array_length(stj, '$.references'), 0) AS BIGINT))) AS refpos
                  FROM st),
         rp AS (SELECT id, pid, statement_id, refpos,
                  json_extract_string(refj, '$.hash') AS ref_hash, refj,
                  unnest(json_keys(json_extract(refj, '$.snaks'))) AS rprop
                FROM refs),
         rs AS (SELECT id, pid, statement_id, refpos, ref_hash, rprop,
                  unnest(CAST(json_extract(refj, '$.snaks.' || rprop) AS JSON[])) AS rsj,
                  unnest(range(0, CAST(json_array_length(refj, '$.snaks.' || rprop) AS BIGINT))) AS rpos
                FROM rp)
         SELECT id, pid, statement_id, CAST(refpos AS INTEGER) AS refpos,
                ref_hash, rprop, CAST(rpos AS INTEGER) AS rpos,
                json_extract_string(rsj, '$.snaktype') AS snaktype,
                json_extract_string(rsj, '$.datavalue.type') AS dv_type,
                json_extract_string(rsj, '$.datavalue.value') AS dv_raw
         FROM rs ORDER BY id, pid, statement_id, refpos, rprop, rpos""",

    "wd_labels_fallback" ->
      """WITH ent AS (
           SELECT id, labels FROM read_json('/tmp/graft_wd_entities.ndjson',
             format='newline_delimited',
             columns={id: 'VARCHAR', labels: 'JSON', redirect: 'VARCHAR'})
           WHERE redirect IS NULL),
         ranked AS (
           SELECT id, lang,
                  json_extract_string(labels, '$.' || lang || '.value') AS label,
                  row_number() OVER (PARTITION BY id ORDER BY
                    CASE lang WHEN 'en' THEN 0 WHEN 'de' THEN 1
                              WHEN 'fr' THEN 2 ELSE 3 END, lang) AS rn
           FROM (SELECT id, labels, unnest(json_keys(labels)) AS lang FROM ent))
         SELECT e.id, r.lang AS label_lang, r.label
         FROM ent e LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r
           ON e.id = r.id
         ORDER BY e.id""",

    "wd_descriptions_flatten" ->
      """SELECT id, lang,
             json_extract_string(descriptions, '$.' || lang || '.value') AS description
         FROM (
           SELECT id, descriptions, unnest(json_keys(descriptions)) AS lang
           FROM read_json('/tmp/graft_wd_entities.ndjson',
                          format='newline_delimited',
                          columns={id: 'VARCHAR', descriptions: 'JSON'})
         ) ORDER BY id, lang""",

    "wd_aliases_flatten" ->
      """WITH langs AS (
           SELECT id, aliases, unnest(json_keys(aliases)) AS lang
           FROM read_json('/tmp/graft_wd_entities.ndjson',
                          format='newline_delimited',
                          columns={id: 'VARCHAR', aliases: 'JSON'})),
         avs AS (
           SELECT id, lang,
                  unnest(CAST(json_extract(aliases, '$.' || lang) AS JSON[])) AS av,
                  unnest(range(0, CAST(json_array_length(aliases, '$.' || lang) AS BIGINT))) AS apos
           FROM langs)
         SELECT id, lang, CAST(apos AS INTEGER) AS apos,
                json_extract_string(av, '$.value') AS alias
         FROM avs ORDER BY id, lang, apos""",

    "wd_sitelinks_flatten" ->
      """SELECT id, wiki,
             json_extract_string(sitelinks, '$.' || wiki || '.site') AS site,
             json_extract_string(sitelinks, '$.' || wiki || '.title') AS title,
             CAST(coalesce(json_array_length(sitelinks, '$.' || wiki || '.badges'), 0)
               AS INTEGER) AS n_badges
         FROM (
           SELECT id, sitelinks, unnest(json_keys(sitelinks)) AS wiki
           FROM read_json('/tmp/graft_wd_entities.ndjson',
                          format='newline_delimited',
                          columns={id: 'VARCHAR', sitelinks: 'JSON'})
         ) ORDER BY id, wiki""",

    // positional zip of the snak array with range() replays posexplode;
    // dv_raw parity: both engines minify (see wd_claims_flatten note)
    "wd_qualifiers_flatten" ->
      """WITH ent AS (
           SELECT id, claims FROM read_json('/tmp/graft_wd_entities.ndjson',
             format='newline_delimited', columns={id: 'VARCHAR', claims: 'JSON'})),
         pids AS (SELECT id, unnest(json_keys(claims)) AS pid, claims FROM ent),
         st AS (SELECT id, pid,
                  unnest(CAST(json_extract(claims, '$.' || pid) AS JSON[])) AS stj
                FROM pids),
         qp AS (SELECT id, pid,
                  json_extract_string(stj, '$.id') AS statement_id, stj,
                  unnest(json_keys(json_extract(stj, '$.qualifiers'))) AS qprop
                FROM st),
         q AS (SELECT id, pid, statement_id, qprop,
                 unnest(CAST(json_extract(stj, '$.qualifiers.' || qprop) AS JSON[])) AS qj,
                 unnest(range(0, CAST(json_array_length(stj, '$.qualifiers.' || qprop) AS BIGINT))) AS qpos
               FROM qp)
         SELECT id, pid, statement_id, qprop, CAST(qpos AS INTEGER) AS qpos,
             json_extract_string(qj, '$.snaktype') AS snaktype,
             json_extract_string(qj, '$.datavalue.type') AS dv_type,
             json_extract_string(qj, '$.datavalue.value') AS dv_raw
         FROM q ORDER BY id, pid, statement_id, qprop, qpos""",

    "wd_entity_flatten" ->
      """SELECT id, type, lang,
             json_extract_string(labels, '$.' || lang || '.value') AS label,
             CAST(coalesce(len(json_keys(claims)), 0) AS INTEGER) AS n_claim_props
         FROM (
           SELECT id, type, labels, claims, unnest(json_keys(labels)) AS lang
           FROM read_json('/tmp/graft_wd_entities.ndjson',
                          format='newline_delimited',
                          columns={id: 'VARCHAR', type: 'VARCHAR',
                                   labels: 'JSON', claims: 'JSON'})
         ) ORDER BY id, lang"""
  )
}
