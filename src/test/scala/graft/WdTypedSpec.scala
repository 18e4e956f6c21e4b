package graft

import org.scalatest.funsuite.AnyFunSuite

/** Goldens for typed datavalue extraction + Postgres DDL generation. */
class WdTypedSpec extends AnyFunSuite {
  lazy val spark = Spec.spark

  test("wd_values_typed extracts each dv-type; out-of-range stays raw") {
    val rows = SparkEntry.queries("wd_values_typed")(spark, Spec.sf001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // wikibase-entityid
    assert(rows(("Q1", "P31")).getString(5) === "Q36906466")
    // in-range time parses to a timestamp
    assert(!rows(("Q42", "P569")).isNullAt(7))
    // year-12000: raw survives, best-effort ts is null
    val far = rows(("Q4", "P585"))
    assert(far.getString(6).contains("+12000") && far.isNullAt(7))
    // arbitrary-precision quantity: raw survives, decimal overflows to null
    val big = rows(("Q4", "P1114"))
    assert(big.getString(8).startsWith("+1234567890123456789012345678901234567890"))
    assert(big.isNullAt(12)) // v_amount
    // normal quantity parses (decimal's canonical string at scale 6)
    assert(rows(("Q2", "P2044")).getString(12) === "6371.000000")
    // coords + monolingual
    assert(rows(("Q2", "P625")).getDouble(9) === 0.0)
    assert(rows(("Q5", "P1476")).getString(11) === "a title in english")
  }

  private val equivN = 300L

  /** A 300-entity GenWd zipf dump as bz2, plain NDJSON or array-wrapped;
    * its path. */
  private def zipfDump(layout: String, wrap: Boolean): String = {
    import graft.wikidata.GenWd
    val path = Stage.p(spark, s"graft_wd_etl_equiv_$layout.json.bz2")
    val out = Stage.createBz2(spark, path)
    try (0L until equivN).foreach { i =>
      val body = GenWd.entityJson(i, zipf = true)
      val line = if (wrap) GenWd.wrapLine(body, i, equivN) else body
      out.write((line + "\n").getBytes("UTF-8"))
    } finally out.close()
    path
  }

  private def sameRows(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame, clue: String): Unit = {
    assert(a.exceptAll(b).count() === 0, clue)
    assert(b.exceptAll(a).count() === 0, clue)
  }

  test("Etl.loadFrame's single scan is row-identical to the two-scan label " +
      "join (GenWd zipf dump, plain and array-wrapped bz2)") {
    import org.apache.spark.sql.functions._
    import graft.wikidata.{EntitySchema, Etl, TypedValues, Wd}
    val n = equivN
    // The entity ETL before its label became a pass-through column: a
    // second dump scan for the en labels, left-joined on id. Kept here
    // only as the reference.
    def twoScan(path: String) = {
      val ents = Wd.readDump(spark, path, EntitySchema.entity)
        .filter(col("redirect").isNull)
      val en = ents.select(col("id"),
        col("labels").getItem("en").getField("value").as("en_label"))
      TypedValues.typed(Wd.claimsFlatten(ents)).join(en, Seq("id"), "left")
    }
    Seq("plain" -> false, "array" -> true).foreach { case (layout, wrap) =>
      val path = zipfDump(layout, wrap)
      spark.conf.set("spark.graft.wd.bz2", path)
      try {
        val single = Etl.loadFrame(spark)
        val ref = twoScan(path).select(single.columns.map(col).toSeq: _*)
        // not vacuous: statements of labelled and label-less entities
        assert(single.filter(col("en_label").isNotNull).count() > n, layout)
        assert(single.filter(col("en_label").isNull).count() > 0, layout)
        sameRows(single, ref, layout)
      } finally spark.conf.unset("spark.graft.wd.bz2")
    }
  }

  test("the load frames' pruned dump read is row-identical to the " +
      "full-EntitySchema read (GenWd zipf dump, plain and array-wrapped " +
      "bz2; mediainfo fixture)") {
    import org.apache.spark.sql.functions._
    import graft.wikidata.{EntitySchema, Etl, Mediainfo, Wd}
    Seq("plain" -> false, "array" -> true).foreach { case (layout, wrap) =>
      val path = zipfDump(layout, wrap)
      spark.conf.set("spark.graft.wd.bz2", path)
      try {
        val pruned = Etl.loadFrame(spark)
        val full = Etl.statementRows(
          Wd.readDump(spark, path, EntitySchema.entity).filter(col("redirect").isNull),
          "claims", "en_label")
        assert(pruned.count() > equivN, layout)
        sameRows(pruned, full, layout)
      } finally spark.conf.unset("spark.graft.wd.bz2")
    }
    val pruned = Mediainfo.loadFrame(spark)
    val full = Etl.statementRows(Wd.mediainfoDump.readBz2(spark),
      "statements", "en_caption")
    assert(pruned.count() === 7)
    sameRows(pruned, full, "mediainfo")
  }

  test("PgDdl maps Spark schemas to Postgres DDL") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("label", StringType),
      StructField("price", DecimalType(38, 4)),
      StructField("tags", ArrayType(StringType)),
      StructField("claims", MapType(StringType, StringType)),
      StructField("ts", TimestampType)))
    val ddl = graft.sources.PgDdl.createTable("entities", schema, Seq("id"))
    assert(ddl.contains("\"id\" BIGINT NOT NULL"))
    assert(ddl.contains("\"label\" TEXT"))
    assert(ddl.contains("\"price\" NUMERIC(38,4)"))
    assert(ddl.contains("\"tags\" TEXT[]"))
    assert(ddl.contains("\"claims\" JSONB"))
    assert(ddl.contains("\"ts\" TIMESTAMP"))
    assert(ddl.contains("PRIMARY KEY (\"id\")"))
  }

  test("GenWd synthesizes deterministic, schema-complete entities") {
    import org.apache.spark.sql.functions._
    import graft.wikidata.{EntitySchema, GenWd}
    // derive-never-draw: the generator is a pure function of the index
    assert(GenWd.entityJson(42L) === GenWd.entityJson(42L))
    assert(GenWd.entityJson(0L) !== GenWd.entityJson(1L))
    // a 500-entity sample parses completely under the explicit schema
    // (id null would mean a malformed line) and exercises every
    // structural feature the flatteners consume
    import spark.implicits._
    val lines = spark.createDataset((0L until 500L).map(GenWd.entityJson))
    val df = spark.read.schema(EntitySchema.entity).json(lines)
    assert(df.count() === 500)
    assert(df.filter(col("id").isNull).count() === 0)
    // label-less entities exist (every 97th) — the fallback-path food.
    // Redirect stubs (every 23rd, round-15) are also label-less by
    // construction, so count them separately from the real entities.
    assert(df.filter(col("labels").isNull && col("redirect").isNull)
      .count() === 500L / 97 + 1)
    // redirect stubs: deterministic fraction, targets always earlier
    // (numerically smaller) entities — never self, never dangling
    val redir = df.filter(col("redirect").isNotNull)
      .select(col("id"), col("redirect")).collect()
    assert(redir.length === 22) // |{i in [0,500) : i % 23 == 7}|
    assert(redir.forall { r =>
      val from = r.getString(0).drop(1).toLong
      val to = r.getString(1).drop(1).toLong
      to >= 1 && to < from
    })
    // lexeme twin: deterministic, parses completely under the lexeme
    // schema, exercises forms/senses presence and absence
    assert(GenWd.lexemeJson(42L) === GenWd.lexemeJson(42L))
    val lexLines = spark.createDataset((0L until 300L).map(GenWd.lexemeJson))
    val ldf = spark.read.schema(EntitySchema.lexeme).json(lexLines)
    assert(ldf.count() === 300)
    assert(ldf.filter(col("id").isNull).count() === 0)
    assert(ldf.filter(col("lemmas").isNull).count() === 0) // every lexeme has a lemma
    assert(ldf.filter(size(col("forms")) > 0).count() > 0)
    assert(ldf.filter(size(col("forms")) === 0).count() > 0)
    assert(ldf.filter(size(col("senses")) > 0).count() > 0)
    val st = df
      .select(explode(col("claims")).as(Seq("pid", "sts")))
      .select(explode(col("sts")).as("st"))
      .select(col("st.rank").as("rank"),
        col("st.mainsnak.snaktype").as("snaktype"),
        col("st.mainsnak.datavalue.type").as("dv_type"),
        col("st.qualifiers").isNotNull.as("has_q"),
        col("st.references").isNotNull.as("has_r"))
      .cache()
    def distinctOf(c: String) =
      st.select(c).filter(col(c).isNotNull).distinct()
        .collect().map(_.getString(0)).toSet
    assert(distinctOf("rank") === Set("normal", "preferred", "deprecated"))
    assert(distinctOf("snaktype") === Set("value", "somevalue", "novalue"))
    // url datatype carries a plain string datavalue, so 6 dv shapes
    assert(distinctOf("dv_type") === Set("wikibase-entityid", "time",
      "quantity", "string", "globecoordinate", "monolingualtext"))
    assert(st.filter(col("has_q")).count() > 0)
    assert(st.filter(col("has_r")).count() > 0)
    st.unpersist()
  }

  test("GenWd zipf mode: deterministic power-law property skew") {
    import org.apache.spark.sql.functions._
    import graft.wikidata.{EntitySchema, GenWd}
    // still derive-never-draw, and a distinct dump from the default mode
    assert(GenWd.entityJson(42L, zipf = true) === GenWd.entityJson(42L, zipf = true))
    assert(GenWd.entityJson(42L, zipf = true) !== GenWd.entityJson(42L))
    import spark.implicits._
    val lines = spark.createDataset(
      (0L until 2000L).map(i => GenWd.entityJson(i, zipf = true)))
    val freq = spark.read.schema(EntitySchema.entity).json(lines)
      .select(explode(col("claims")).as(Seq("pid", "sts")))
      .select(col("pid"), size(col("sts")).as("n"))
      .groupBy("pid").agg(sum(col("n")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = freq.values.sum.toDouble
    // Zipf(1.1, 2000): p(P1) ≈ 0.13 — the head property rides a large
    // share of ALL statements (vs ~8.9% for each of the default mode's
    // 9 hot pids), and the ranks decay monotonically in expectation
    assert(freq("P1") / total > 0.10, s"P1 share ${freq("P1") / total}")
    assert(freq("P1") > freq.getOrElse("P5", 0L))
    assert(freq.getOrElse("P2", 0L) > freq.getOrElse("P50", 0L))
    // the tail is still long — hundreds of distinct pids at 2k entities
    assert(freq.size > 200, s"only ${freq.size} distinct pids")
  }

  test("dump-family fixtures stage once per unchanged file, and restage " +
      "when the file changes") {
    import graft.wikidata.{Etl, Wd}
    val fam = Wd.entityDump
    val fs = Stage.fs(spark, fam.fixturePath)
    def mtime(path: String): Long =
      fs.getFileStatus(new org.apache.hadoop.fs.Path(path)).getModificationTime
    // a rewrite would move the mtime: every wait below is longer than
    // the local FS's millisecond mtime resolution
    fam.read(spark)
    val plain0 = mtime(fam.fixturePath)
    Thread.sleep(50)
    fam.read(spark)
    assert(mtime(fam.fixturePath) === plain0, "second read rewrote the fixture")

    Etl.loadFrame(spark)
    val bz2 = fam.stageBz2(spark)
    val bz20 = mtime(bz2)
    Thread.sleep(50)
    Etl.redirectFrame(spark)
    assert(mtime(bz2) === bz20, "redirectFrame re-compressed the bz2 twin")
    assert(mtime(fam.fixturePath) === plain0)

    // someone else's bytes at the oracle's path: the next read restages
    Stage.write(spark, fam.fixturePath, "{}\n".getBytes("UTF-8"))
    fam.read(spark)
    val in = fs.open(new org.apache.hadoop.fs.Path(fam.fixturePath))
    val staged = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(staged.split("\n").filter(_.trim.nonEmpty).toSeq === fam.lines)
  }
}
