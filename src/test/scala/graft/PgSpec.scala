package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{PgCopySink, PgDdl, PgServer}

/** End-to-end Postgres load (the reference tool's whole job) against a
  * throwaway local Postgres 15 instance — COPY in, verified by SQL in
  * Postgres itself. Cancels (not fails) where no server can start.
  */
class PgSpec extends AnyFunSuite {
  lazy val spark = Spec.spark

  test("bulk load lands rows in Postgres and values match Spark") {
    assume(PgServer.ensure(), "local Postgres unavailable")
    import org.apache.spark.sql.types._
    val t = "graft_pgspec_docs"
    val agg = Tables.documents(spark, Spec.sf001)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        Det.sumMoney(col("n_chars")).as("sum_chars"))
    val schema = StructType(Seq(
      StructField("lang", StringType),
      StructField("n_docs", LongType),
      StructField("sum_chars", DoubleType)))
    PgServer.psql(s"""DROP TABLE IF EXISTS "$t"""")
    PgServer.psql(PgDdl.createTable(t, schema))
    PgCopySink(PgServer.sockDir, PgServer.port, PgServer.db, t).write(agg)

    val pgCount = PgServer.psql(s"""SELECT count(*) FROM "$t"""").get.toLong
    assert(pgCount === agg.count())
    val en = agg.filter(col("lang") === "en").head()
    val pgEn = PgServer.psql(
      s"""SELECT n_docs || ',' || sum_chars FROM "$t" WHERE lang = 'en'""").get
    val Array(pgN, pgSum) = pgEn.split(",")
    assert(pgN.toLong === en.getLong(1))
    assert(pgSum.toDouble === en.getDouble(2)) // PG prints 56684, Java 56684.0
    // idempotent re-load after truncate (the batch-overwrite pattern)
    PgServer.psql(s"""TRUNCATE "$t"""")
    PgCopySink(PgServer.sockDir, PgServer.port, PgServer.db, t).write(agg)
    assert(PgServer.psql(s"""SELECT count(*) FROM "$t"""").get.toLong === pgCount)
  }

  test("COPY fan-out loads every row with CSV fidelity and never promotes a stale epoch") {
    assume(PgServer.ensure(), "local Postgres unavailable")
    import org.apache.spark.sql.types._
    val t = "graft_pgspec_parallel"
    // multi-partition input with NULLs, quotes and commas in play
    val df = Tables.part(spark, Spec.sf001)
      .select(col("p_partkey"),
        when(col("p_partkey") % 7 === 0, null).otherwise(col("p_name")).as("p_name"),
        concat(col("p_brand"), lit(",\"x\"")).as("tricky"))
      .repartition(4)
    val schema = StructType(Seq(
      StructField("p_partkey", LongType),
      StructField("p_name", StringType),
      StructField("tricky", StringType)))
    PgServer.psql(s"""DROP TABLE IF EXISTS "$t"""")
    PgServer.psql(PgDdl.createTable(t, schema))
    // stale old-epoch staging from a (simulated) aborted earlier run of
    // this target: reaped by the promote, never promoted (promote
    // filters on this run's epoch, so even a zombie re-creating this
    // table mid-run could not get it promoted)
    PgServer.psql(s"""DROP TABLE IF EXISTS "${t}__stg_deadbeef_p99"""")
    PgServer.psql(s"""CREATE TABLE "${t}__stg_deadbeef_p99"
      (p_partkey BIGINT, p_name TEXT, tricky TEXT)""")
    PgServer.psql(s"""INSERT INTO "${t}__stg_deadbeef_p99" VALUES (-1, 'stale', 'junk')""")
    PgCopySink(PgServer.sockDir, PgServer.port, PgServer.db, t).write(df)
    assert(PgServer.psql(s"""SELECT count(*) FROM "$t"""").get.toLong === df.count())
    // the stale row never reached the target...
    assert(PgServer.psql(
      s"""SELECT count(*) FROM "$t" WHERE p_partkey = -1""").get.toLong === 0L)
    // ...and promote left no staging tables behind (any epoch)
    assert(PgServer.psql(
      s"""SELECT count(*) FROM pg_tables
          WHERE tablename LIKE '$t\\_\\_stg\\_%'""").get.toLong === 0L)
    // re-running the whole load after TRUNCATE lands identical counts
    // (the batch-overwrite pattern)
    PgServer.psql(s"""TRUNCATE "$t"""")
    PgCopySink(PgServer.sockDir, PgServer.port, PgServer.db, t).write(df)
    assert(PgServer.psql(s"""SELECT count(*) FROM "$t"""").get.toLong === df.count())
    assert(PgServer.psql(
      s"""SELECT count(*) FROM "$t" WHERE p_name IS NULL""").get.toLong
      === df.filter(col("p_name").isNull).count())
    // quote/comma fidelity on one sampled row
    val k = df.select(min(col("p_partkey"))).head().getLong(0)
    val sparkVal = df.filter(col("p_partkey") === k).head().getString(2)
    assert(PgServer.psql(
      s"""SELECT tricky FROM "$t" WHERE p_partkey = $k""").get === sparkVal)
  }

  /** Staging tables of exactly `target`, any epoch. */
  private def stagingOf(target: String): Long = PgServer.psql(
    s"""SELECT count(*) FROM pg_tables
        WHERE starts_with(tablename, '${target}__stg_')""").get.toLong

  test("the promote's reap matches the target name literally: a look-alike " +
      "target's staging survives") {
    assume(PgServer.ensure(), "local Postgres unavailable")
    // `_` is a LIKE wildcard: an unescaped pattern for a_b matches aXb
    val (t, lookAlike) = ("graft_pgspec_a_b", "graft_pgspec_aXb")
    val other = s"${lookAlike}__stg_deadbeef_p0"
    Seq(t, lookAlike, other).foreach(x =>
      PgServer.psql(s"""DROP TABLE IF EXISTS "$x" CASCADE"""))
    Seq(t, lookAlike, other).foreach(x =>
      PgServer.psql(s"""CREATE TABLE "$x" (k BIGINT)"""))
    PgServer.psql(s"""INSERT INTO "$other" VALUES (7)""")
    PgCopySink(PgServer.sockDir, PgServer.port, PgServer.db, t)
      .write(spark.range(0, 10, 1, 2).toDF("k"))
    assert(PgServer.psql(s"""SELECT count(*) FROM "$t"""").get.toLong === 10L)
    assert(stagingOf(t) === 0L)
    // another target's in-flight staging is not this write's to reap
    assert(PgServer.psql(s"""SELECT count(*) FROM "$other"""").get.toLong === 1L)
    Seq(t, lookAlike, other).foreach(x =>
      PgServer.psql(s"""DROP TABLE IF EXISTS "$x" CASCADE"""))
  }

  test("a write whose task throws mid-partition leaves the target " +
      "unchanged, and the next write reaps its staging") {
    assume(PgServer.ensure(), "local Postgres unavailable")
    val t = "graft_pgspec_task_fail"
    PgServer.psql(s"""DROP TABLE IF EXISTS "$t"""")
    PgServer.psql(s"""CREATE TABLE "$t" (k BIGINT)""")
    PgServer.psql(s"""INSERT INTO "$t" VALUES (-1)""")
    // partition 1 streams 19 rows, then throws; partition 0 commits its
    // staging table well inside the pause
    val boom = udf { (k: Long) =>
      if (k == 39L) { Thread.sleep(1500); throw new IllegalStateException("boom") }
      k
    }
    val sink = PgCopySink(PgServer.sockDir, PgServer.port, PgServer.db, t)
    intercept[org.apache.spark.SparkException](
      sink.write(spark.range(0, 40, 1, 2).select(boom(col("id")).as("k"))))
    assert(PgServer.psql(s"""SELECT string_agg(k::text, ',') FROM "$t"""").get === "-1")
    assert(stagingOf(t) >= 1L, "no partition staged before the failure")
    sink.write(spark.range(0, 40, 1, 2).toDF("k"))
    assert(PgServer.psql(s"""SELECT count(*) FROM "$t"""").get.toLong === 41L)
    assert(stagingOf(t) === 0L)
    PgServer.psql(s"""DROP TABLE "$t"""")
  }

  test("the ledger guard drops an already-committed batch's staging, target unchanged") {
    assume(PgServer.ensure(), "local Postgres unavailable")
    import graft.sources.PgStreamSink
    val t = "graft_pgspec_guard"
    PgServer.psql(s"""DROP TABLE IF EXISTS "$t", "${t}__commits"""")
    PgServer.psql(s"""CREATE TABLE "$t" (k BIGINT)""")
    PgStreamSink.ensureCommits(PgServer.sockDir, PgServer.port, PgServer.db, t)
    def rows() = PgServer.psql(
      s"""SELECT string_agg(k::text, ',' ORDER BY k) FROM "$t"""").get
    def ledger() = PgServer.psql(
      s"""SELECT string_agg(batch_id::text, ',') FROM "${t}__commits"""").get
    val sink = PgCopySink(PgServer.sockDir, PgServer.port, PgServer.db, t)
    val batch = spark.range(0, 6, 1, 2).toDF("k")
    sink.stageAndPromote(batch, Some(7L))
    assert(rows() === "0,1,2,3,4,5")
    assert(ledger() === "7")
    // batch 7 redelivered past writeBatch's fast-path check: it stages
    // again, and the promote transaction's guard discards it
    sink.stageAndPromote(batch, Some(7L))
    assert(PgCopySink.lastPromoted === 0)
    assert(rows() === "0,1,2,3,4,5")
    assert(ledger() === "7")
    assert(stagingOf(t) === 0L)
    assert(PgServer.psql(s"""SELECT count(*) FROM pg_tables
        WHERE starts_with(tablename, '${t}__b')""").get.toLong === 0L)
    PgServer.psql(s"""DROP TABLE "$t", "${t}__commits"""")
  }

  test("etl_wikidata_pg composes the full dump->Postgres pipeline") {
    val rows = SparkEntry.queries("etl_wikidata_pg")(spark, Spec.sf001).collect()
    // one row per statement in the fixture (incl. somevalue/novalue snaks)
    assert(rows.length === 17)
    val byId = rows.groupBy(_.getString(0))
    assert(byId("Q42").forall(_.getString(1) === "Douglas Adams"))
    // entity without labels: en_label survives as NULL through the load
    assert(byId("Q6").forall(_.isNullAt(1)))
    // typed columns: the two in-range times parsed, coordinates landed
    assert(rows.count(r => !r.isNullAt(8)) === 2) // v_ts: Q42 P569, Q1 P580pref
    assert(rows.count(r => !r.isNullAt(10)) === 1) // v_lat: Q2 P625
    // the >38-digit quantity stayed NULL after try_cast, raw preserved
    val q4amt = rows.filter(r => r.getString(0) == "Q4" && r.getString(2) == "P1114")
    assert(q4amt.forall(_.isNullAt(9)))
    // redirect split: stubs (Q8, Q9) never appear as statement rows...
    assert(!rows.exists(r => Set("Q8", "Q9")(r.getString(0))))
    // ...and when the live server ran, they landed in the redirects
    // side-table with their targets intact
    if (graft.sources.PgServer.ensure()) {
      assert(graft.sources.PgServer.psql(
        """SELECT id || '>' || target FROM graft_wd_redirects
           ORDER BY id""").get.linesIterator.toSeq === Seq("Q8>Q2", "Q9>Q42"))
    }
  }

  test("etl_mediainfo_pg composes the mediainfo dump->Postgres pipeline") {
    val rows = SparkEntry.queries("etl_mediainfo_pg")(spark, Spec.sf001).collect()
    assert(rows.length === 7) // one row per fixture statement
    val byId = rows.groupBy(_.getString(0))
    // caption enrichment: M1 carries its en caption, M3 has none
    assert(byId("M1").forall(_.getString(1) === "Sunset over the harbor"))
    assert(byId("M3").forall(_.isNullAt(1)))
    // typed arms: the 1891 time parsed, the POV coordinate landed,
    // somevalue snak (M3 P7482) keeps every value column NULL
    assert(rows.count(r => !r.isNullAt(8)) === 1)  // v_ts
    assert(rows.count(r => !r.isNullAt(10)) === 1) // v_lat
    val m3 = byId("M3").head
    assert((5 to 12).forall(m3.isNullAt))
  }

  test("etl_wikidata_pg ingests the array-wrapped public dump layout " +
      "end-to-end (round-16 verdict 8)") {
    // stage a bz2 twin of the ARRAY-WRAPPED fixture — the literal shape
    // of latest-all.json.bz2 — and run the composed ETL against it via
    // the dump override; rows must be identical to the plain-NDJSON run
    val src = graft.wikidata.Wd.ensureArrayFixture(spark)
    val wrapped = Stage.p(spark, "graft_wd_entities_array.json.bz2")
    val out = Stage.createBz2(spark, wrapped)
    try out.write(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(src)))
    finally out.close()
    val plain = SparkEntry.queries("etl_wikidata_pg")(spark, Spec.sf001)
      .collect().map(_.toString).sorted.toSeq
    spark.conf.set("spark.graft.wd.bz2", wrapped)
    try {
      val viaWrap = SparkEntry.queries("etl_wikidata_pg")(spark, Spec.sf001)
        .collect().map(_.toString).sorted.toSeq
      assert(viaWrap === plain)
      assert(plain.size === 17)
    } finally spark.conf.unset("spark.graft.wd.bz2")
  }

  test("round trips are loud: a failed export or DDL throws, never a stale CSV") {
    assume(PgServer.ensure(), "local Postgres unavailable")
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.types._
    val t = "graft_pgspec_loud"
    val schema = StructType(Seq(StructField("k", LongType)))
    val frame = spark.range(3).toDF("k")
    def load(): Unit =
      PgCopySink(PgServer.sockDir, PgServer.port, PgServer.db, t).write(frame)
    // a previous run's export sits at the scratch path
    val scratch = Paths.get(PgServer.scratchCsv(spark, t))
    Files.write(scratch, "41\n42\n".getBytes("UTF-8"))
    val e = intercept[IllegalStateException](
      PgServer.roundTrip(spark, t, schema, Seq("k"), frame,
        from = """SELECT * FROM "graft_pgspec_no_such_table"""")(load()))
    assert(e.getMessage.contains("psql failed"), e.getMessage)
    // (psql may leave an empty file behind; the stale rows are gone)
    assert(!Files.exists(scratch) || Files.readString(scratch).isEmpty,
      "stale export survived a failed round trip")
    // DDL failure: DROP TABLE on a view errors in Postgres
    val v = "graft_pgspec_loud_view"
    PgServer.exec(s"""CREATE OR REPLACE VIEW "$v" AS SELECT 1 AS one""")
    try intercept[IllegalStateException](
      PgServer.roundTrip(spark, t, schema, Seq("k"), frame, drop = Seq(v))(load()))
    finally PgServer.exec(s"""DROP VIEW "$v"""")
    // the same target round-trips exactly the written rows once it can
    val back = PgServer.roundTrip(spark, t, schema, Seq("k"), frame)(load())
      .collect().map(_.getLong(0)).toSeq
    assert(back === Seq(0L, 1L, 2L))
    PgServer.exec(s"""DROP TABLE "$t"""")
  }

  test("sink_pg_copy query round-trips through Postgres (or its twin)") {
    val rows = SparkEntry.queries("sink_pg_copy")(spark, Spec.sf001).collect()
    assert(rows.length === 3) // order statuses F, O, P
    assert(rows.map(_.getString(0)).toSeq === Seq("F", "O", "P"))
  }

  test("JdbcSink option surface proven live through the COPY twin: " +
       "numPartitions, batchsize, truncate, isolation") {
    assume(PgServer.ensure(), "local Postgres unavailable")
    import org.apache.spark.sql.types._
    val t = "graft_pgspec_options"
    val df = Tables.nation(spark, Spec.sf001)
      .select(col("n_nationkey"), col("n_name")).repartition(8)
    val n = df.count()
    val names = df.orderBy("n_nationkey").collect()
      .map(_.getString(1)).mkString(",")
    val schema = StructType(Seq(
      StructField("n_nationkey", LongType),
      StructField("n_name", StringType)))
    PgServer.psql(s"""DROP TABLE IF EXISTS "$t"""")
    PgServer.psql(PgDdl.createTable(t, schema))
    def count() =
      PgServer.psql(s"""SELECT count(*) FROM "$t"""").get.toLong
    def sortedNames() = PgServer.psql(
      s"""SELECT string_agg(n_name, ',' ORDER BY n_nationkey) FROM "$t"""").get

    // numPartitions: the 8-partition frame must open exactly 2 COPY
    // connections (JDBC numPartitions semantics) — observed as exactly
    // 2 staged partitions promoted
    PgCopySink(PgServer.sockDir, PgServer.port, PgServer.db, t,
      numPartitions = 2).write(df)
    assert(PgCopySink.lastPromoted === 2)
    assert(count() === n)

    // batchsize twin (3-row COPY statements) + truncate=true: the
    // reload REPLACES the previous load and is content-identical
    PgCopySink(PgServer.sockDir, PgServer.port, PgServer.db, t,
      batchRows = 3, truncate = true).write(df)
    assert(count() === n)
    assert(sortedNames() === names)

    // default append mode (JDBC SaveMode.Append): second load doubles
    PgCopySink(PgServer.sockDir, PgServer.port, PgServer.db, t).write(df)
    assert(count() === 2 * n)

    // isolationLevel: explicit SERIALIZABLE promote transaction
    PgCopySink(PgServer.sockDir, PgServer.port, PgServer.db, t,
      truncate = true, isolation = "SERIALIZABLE").write(df)
    assert(count() === n)
    assert(sortedNames() === names)

    // one write path: perPartition stays an accepted argument, true only
    intercept[IllegalArgumentException](PgCopySink(PgServer.sockDir,
      PgServer.port, PgServer.db, t, perPartition = false))
  }

  test("truncate=true on EMPTY input still clears the target " +
       "(JDBC SaveMode.Overwrite parity)") {
    assume(PgServer.ensure(), "local Postgres unavailable")
    val t = "graft_pgspec_empty_trunc"
    PgServer.psql(s"""DROP TABLE IF EXISTS "$t"""")
    PgServer.psql(s"""CREATE TABLE "$t" (n_nationkey BIGINT, n_name TEXT)""")
    PgServer.psql(s"""INSERT INTO "$t" VALUES (1, 'stale')""")
    val empty = Tables.nation(spark, Spec.sf001)
      .select(col("n_nationkey"), col("n_name")).filter(lit(false))
    // no partition stages rows, the promote still TRUNCATEs — JDBC
    // truncate=true clears the table even on empty input
    PgCopySink(PgServer.sockDir, PgServer.port, PgServer.db, t,
      truncate = true).write(empty)
    assert(PgServer.psql(s"""SELECT count(*) FROM "$t"""").get.toLong === 0L)
    PgServer.psql(s"""DROP TABLE "$t"""")
  }

  test("sharded COPY fan-out: deterministic routing, total rows " +
       "preserved, per-shard-atomic concurrent promote") {
    assume(PgServer.ensure(), "local Postgres unavailable")
    import org.apache.spark.sql.types._
    val t = "graft_pgspec_sharded"
    val nSh = 3
    val df = Tables.orders(spark, Spec.sf001)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      .repartition(4)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType)))
    (Seq(t) ++ (0 until nSh).map(i => s"${t}_s$i")).foreach { x =>
      PgServer.psql(s"""DROP TABLE IF EXISTS "$x"""")
    }
    PgServer.psql(PgDdl.createTable(t, schema))
    def shardCount(i: Int) =
      PgServer.psql(s"""SELECT count(*) FROM "${t}_s$i"""").get.toLong
    def shardDigest(i: Int) = PgServer.psql(
      s"""SELECT md5(string_agg(o_orderkey || '|' || o_custkey || '|' ||
          o_orderstatus, ',' ORDER BY o_orderkey)) FROM "${t}_s$i"""").get

    PgCopySink(PgServer.sockDir, PgServer.port, PgServer.db, t,
      shards = nSh, shardCol = "o_custkey").write(df)
    val counts = (0 until nSh).map(shardCount)
    // every input row lands in exactly one shard
    assert(counts.sum === df.count())
    // the base table is the DDL template, never a data target here
    assert(PgServer.psql(s"""SELECT count(*) FROM "$t"""").get.toLong === 0L)
    // routing IS the declared pure function of the key: per-shard counts
    // equal pmod(xxhash64(o_custkey), N) computed independently in Spark
    val expected = df
      .withColumn("sh", pmod(xxhash64(col("o_custkey")), lit(nSh)))
      .groupBy("sh").count().collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    (0 until nSh).foreach(i => assert(counts(i) === expected.getOrElse(i, 0L)))
    // all rows of one key share one shard (co-location, the production
    // contract: an entity's statements never split across targets)
    val k = df.select(min(col("o_custkey"))).head().getLong(0)
    val hits = (0 until nSh).count(i => PgServer.psql(
      s"""SELECT count(*) FROM "${t}_s$i" WHERE o_custkey = $k""").get.toLong > 0)
    assert(hits === 1)
    // deterministic across runs: a truncate reload reproduces identical
    // per-shard CONTENT (md5 over the sorted rows), and the concurrent
    // per-shard promotes leave no staging behind on any shard
    val digests = (0 until nSh).map(shardDigest)
    PgCopySink(PgServer.sockDir, PgServer.port, PgServer.db, t,
      shards = nSh, shardCol = "o_custkey", truncate = true).write(df)
    assert((0 until nSh).map(shardCount) === counts)
    assert((0 until nSh).map(shardDigest) === digests)
    assert(PgServer.psql(
      s"""SELECT count(*) FROM pg_tables
          WHERE tablename LIKE '$t\\_s%\\_\\_stg\\_%'""").get.toLong === 0L)
    (Seq(t) ++ (0 until nSh).map(i => s"${t}_s$i")).foreach { x =>
      PgServer.psql(s"""DROP TABLE IF EXISTS "$x"""")
    }
  }

  test("attach promote: zero-rewrite segment children read, truncate " +
       "and append like one table") {
    assume(PgServer.ensure(), "local Postgres unavailable")
    import org.apache.spark.sql.types._
    val t = "graft_pgspec_attach"
    val df = Tables.nation(spark, Spec.sf001)
      .select(col("n_nationkey"), col("n_name")).repartition(4)
    val n = df.count()
    val names = df.orderBy("n_nationkey").collect()
      .map(_.getString(1)).mkString(",")
    val schema = StructType(Seq(
      StructField("n_nationkey", LongType),
      StructField("n_name", StringType)))
    PgServer.psql(s"""DROP TABLE IF EXISTS "$t" CASCADE""")
    PgServer.psql(PgDdl.createTable(t, schema))
    def count() = PgServer.psql(s"""SELECT count(*) FROM "$t"""").get.toLong
    val sink = PgCopySink(PgServer.sockDir, PgServer.port, PgServer.db, t,
      attachPromote = true)
    sink.write(df)
    // reads see every row through the parent, content-identical...
    assert(count() === n)
    assert(PgServer.psql(
      s"""SELECT string_agg(n_name, ',' ORDER BY n_nationkey) FROM "$t"""").get
      === names)
    // ...but the parent itself holds ZERO pages — the COPY'd staging
    // tables became the segments, nothing was rewritten
    assert(PgServer.psql(
      s"""SELECT count(*) FROM ONLY "$t"""").get.toLong === 0L)
    val segs = PgServer.psql(
      s"""SELECT count(*) FROM pg_tables
          WHERE tablename LIKE '$t\\_\\_seg\\_%'""").get.toLong
    assert(segs > 0)
    assert(PgServer.psql(
      s"""SELECT count(*) FROM pg_tables
          WHERE tablename LIKE '$t\\_\\_stg\\_%'""").get.toLong === 0L)
    // truncate=true cascades to prior segments (overwrite), append appends
    sink.copy(truncate = true).write(df)
    assert(count() === n)
    sink.write(df)
    assert(count() === 2 * n)
    PgServer.psql(s"""DROP TABLE "$t" CASCADE""")
  }

  test("JdbcSink user/password leg: scram-authenticated role through " +
       "the COPY twin") {
    import scala.sys.process._
    assume(PgServer.ensure(), "local Postgres unavailable")
    assume(PgServer.ensurePasswordRole("graft_pw", "graft-secret"),
      "password role setup unavailable")
    // -w (never prompt): without it psql BLOCKS waiting for a password
    // prompt when any input channel looks interactive — a forked test
    // JVM hangs forever, it does not fail
    val base = Seq("psql", "-w", "-h", PgServer.sockDir, "-p",
      PgServer.port.toString, "-d", PgServer.db, "-U", "graft_pw",
      "-Atc", "SELECT current_user")
    // the hba rule actually bites: no password -> connection refused
    assert(Process(base, None).!(ProcessLogger(_ => ())) !== 0)
    // with the password the role connects and identifies itself
    assert(Process(base, None, "PGPASSWORD" -> "graft-secret").!!.trim
      === "graft_pw")
    // and the full per-partition sink works end-to-end as that role
    // (role-owned target; staging tables land via its CREATE grant)
    val t = "graft_pgspec_authed"
    def asRole(sql: String): String = Process(
      Seq("psql", "-h", PgServer.sockDir, "-p", PgServer.port.toString,
        "-d", PgServer.db, "-U", "graft_pw", "-v", "ON_ERROR_STOP=1",
        "-Atc", sql),
      None, "PGPASSWORD" -> "graft-secret").!!.trim
    asRole(s"""DROP TABLE IF EXISTS "$t"""")
    asRole(s"""CREATE TABLE "$t" (r_regionkey BIGINT, r_name TEXT)""")
    val df = Tables.region(spark, Spec.sf001)
      .select(col("r_regionkey"), col("r_name"))
    PgCopySink(PgServer.sockDir, PgServer.port, PgServer.db, t,
      user = "graft_pw", password = "graft-secret").write(df)
    assert(asRole(s"""SELECT count(*) FROM "$t"""").toLong === df.count())
    assert(asRole(s"""SELECT tableowner FROM pg_tables
        WHERE tablename = '$t'""") === "graft_pw")
  }

  test("pure-JVM wire COPY writer twins the psql writer byte-identically") {
    assume(PgServer.ensure(), "local Postgres unavailable")
    import org.apache.spark.sql.types._
    // every CSV edge the writers must agree on: NULL vs empty string,
    // embedded comma/quote/newline, the literal end-of-data marker \.
    val df = Tables.part(spark, Spec.sf001)
      .select(col("p_partkey"),
        when(col("p_partkey") % 7 === 0, null)
          .when(col("p_partkey") % 13 === 0, lit(""))
          .otherwise(col("p_name")).as("p_name"),
        when(col("p_partkey") % 11 === 0, lit("\\."))
          .otherwise(concat(col("p_brand"), lit(",\"x\"\nnl"))).as("tricky"))
      .repartition(4)
    val schema = StructType(Seq(
      StructField("p_partkey", LongType),
      StructField("p_name", StringType),
      StructField("tricky", StringType)))
    def digest(t: String) = PgServer.psql(
      s"""SELECT count(*) || ':' || md5(string_agg(
            p_partkey || '|' || coalesce(p_name, '<N>') || '|' || tricky,
            ',' ORDER BY p_partkey)) FROM "$t"""").get
    val digests = Seq(false, true).map { w =>
      val t = if (w) "graft_pgspec_wire_jvm" else "graft_pgspec_wire_psql"
      PgServer.psql(s"""DROP TABLE IF EXISTS "$t"""")
      PgServer.psql(PgDdl.createTable(t, schema))
      // batchRows exercises the COPY end/re-open inside one transaction
      PgCopySink(PgServer.sockDir, PgServer.port, PgServer.db, t,
        batchRows = 100, wire = w).write(df)
      digest(t)
    }
    assert(digests.head === digests(1))
    assert(digests.head.startsWith(df.count().toString + ":"))
    // the sharded fan-out matches across transports too: two shards
    // unbatched, and three shards whose every (partition, shard) stream
    // re-opens its COPY each 5 rows
    def dropAll(t: String, nSh: Int): Unit =
      (Seq(t) ++ (0 until nSh).map(i => s"${t}_s$i")).foreach { x =>
        PgServer.psql(s"""DROP TABLE IF EXISTS "$x" CASCADE""")
      }
    Seq((2, 0), (3, 5)).foreach { case (nSh, br) =>
      val shardDigests = Seq(false, true).map { w =>
        val t = s"graft_pgspec_wire_sh${nSh}_${if (w) "jvm" else "psql"}"
        dropAll(t, nSh)
        PgServer.psql(PgDdl.createTable(t, schema))
        PgCopySink(PgServer.sockDir, PgServer.port, PgServer.db, t,
          shards = nSh, shardCol = "p_partkey", batchRows = br,
          wire = w).write(df)
        val got = (0 until nSh).map(i => digest(s"${t}_s$i"))
        dropAll(t, nSh)
        got
      }
      assert(shardDigests.head === shardDigests(1))
      assert(shardDigests.head.map(_.takeWhile(_ != ':').toLong).sum
        === df.count())
    }
    Seq("graft_pgspec_wire_jvm", "graft_pgspec_wire_psql").foreach(dropAll(_, 0))
  }

  test("wire client authenticates via SCRAM-SHA-256 over TCP and the " +
       "full sink works through it (flat + sharded)") {
    assume(PgServer.ensure(), "local Postgres unavailable")
    assume(PgServer.ensureTcpScram("graft_pw", "graft-secret"),
      "tcp+scram setup unavailable")
    import graft.sources.PgWire
    // the hba rule actually bites over TCP: a wrong password must fail
    // the SASL exchange, not fall through to trust
    intercept[Exception] {
      new PgWire("127.0.0.1", PgServer.port, PgServer.db,
        "graft_pw", "wrong-secret").close()
    }
    // right password: the full RFC 7677 exchange (SASL → continue →
    // final with server-signature verification) completes and the
    // connection is usable for DDL/DML
    val w = new PgWire("127.0.0.1", PgServer.port, PgServer.db,
      "graft_pw", "graft-secret")
    w.exec("SELECT 1")
    w.close()
    // the unix-socket leg hits the same scram rule (local hba entry
    // from ensurePasswordRole) — same exchange, different transport
    val wl = new PgWire(PgServer.sockDir, PgServer.port, PgServer.db,
      "graft_pw", "graft-secret")
    wl.exec("SELECT 1")
    wl.close()
    // end-to-end: the pure-JVM wire sink over TCP+scram twins the
    // psql writer byte-identically, flat and sharded — the
    // default-configured-remote-server deployment the client exists for
    val df = Tables.nation(spark, Spec.sf001)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("n_nationkey", LongType),
      StructField("n_name", StringType),
      StructField("n_regionkey", LongType)))
    def digest(t: String) = PgServer.psql(
      s"""SELECT count(*) || ':' || md5(string_agg(
            n_nationkey || '|' || n_name || '|' || n_regionkey,
            ',' ORDER BY n_nationkey)) FROM "$t"""").get
    // flat: wire/TCP/scram vs psql/socket/trust
    val flatDigests = Seq(
      ("graft_pgspec_scram_wire", true), ("graft_pgspec_scram_psql", false))
      .map { case (t, wire) =>
        PgServer.psql(s"""DROP TABLE IF EXISTS "$t"""")
        PgServer.psql(PgDdl.createTable(t, schema))
        PgServer.psql(s"""GRANT ALL ON TABLE "$t" TO graft_pw""")
        if (wire)
          PgCopySink("127.0.0.1", PgServer.port, PgServer.db, t,
            wire = true, user = "graft_pw", password = "graft-secret").write(df)
        else
          PgCopySink(PgServer.sockDir, PgServer.port, PgServer.db, t).write(df)
        digest(t)
      }
    assert(flatDigests.head === flatDigests(1))
    assert(flatDigests.head.startsWith(df.count().toString + ":"))
    // sharded fan-out through the scram-authenticated wire multiplexer
    val nSh = 2
    val shardDigests = Seq(
      ("graft_pgspec_scram_sh_wire", true),
      ("graft_pgspec_scram_sh_psql", false)).map { case (t, wire) =>
      (Seq(t) ++ (0 until nSh).map(i => s"${t}_s$i")).foreach { x =>
        PgServer.psql(s"""DROP TABLE IF EXISTS "$x" CASCADE""")
      }
      PgServer.psql(PgDdl.createTable(t, schema))
      PgServer.psql(s"""GRANT ALL ON TABLE "$t" TO graft_pw""")
      if (wire)
        PgCopySink("127.0.0.1", PgServer.port, PgServer.db, t,
          shards = nSh, shardCol = "n_nationkey",
          wire = true, user = "graft_pw", password = "graft-secret").write(df)
      else
        PgCopySink(PgServer.sockDir, PgServer.port, PgServer.db, t,
          shards = nSh, shardCol = "n_nationkey").write(df)
      (0 until nSh).map(i => digest(s"${t}_s$i"))
    }
    assert(shardDigests.head === shardDigests(1))
    Seq("graft_pgspec_scram_wire", "graft_pgspec_scram_psql",
      "graft_pgspec_scram_sh_wire", "graft_pgspec_scram_sh_psql").foreach { t =>
      PgServer.psql(s"""DROP TABLE IF EXISTS "$t" CASCADE""")
      (0 until nSh).foreach(i =>
        PgServer.psql(s"""DROP TABLE IF EXISTS "${t}_s$i" CASCADE"""))
    }
  }
}
