package graft.sources

import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Det, Stage, Tables}
import Det._

/** Source/sink operators (SURVEY.md §2.1). Sample inputs are literal
  * constants materialized to fixed paths at query time — never derived
  * from nondeterministic state — so the DuckDB oracle can read the same
  * bytes. All staging goes through [[graft.Stage]] (Hadoop FS API) so
  * the fixtures are cluster-visible on a real deployment.
  */
object Sources {
  type Q = (SparkSession, String) => DataFrame

  /** The date-partitioned lineitem twin (ship_year directory layout),
    * materialized once per scale dir. Shared by scan_partitioned
    * (static pruning), join_dpp (dynamic pruning), and
    * sink_parquet_partitioned's baseline. */
  def ensurePartitionedLineitem(s: SparkSession, d: String): String =
    synchronized {
      // All derived lineitem/orders twins fold Stage.inputStamp into the
      // path: fixture regeneration rotates the cache instead of serving
      // a stale _SUCCESS-marked copy.
      val path = Stage.p(s, "graft_part_" +
        d.replaceAll("[^A-Za-z0-9]", "_") +
        "_" + Stage.inputStamp(s, s"$d/lineitem.parquet"))
      if (!Stage.exists(s, s"$path/_SUCCESS")) {
        Tables.lineitem(s, d)
          .withColumn("ship_year", year(col("l_shipdate")))
          .write.mode("overwrite").partitionBy("ship_year").parquet(path)
      }
      path
    }

  /** Range-clustered lineitem twin, materialized once per scale dir:
    * repartitionByRange(16, l_partkey) + sortWithinPartitions means
    * every output file covers a narrow, disjoint l_partkey range, so
    * the parquet row-group min/max stats let a selective scan decode
    * only the qualifying groups. At 100 TB this layout choice — made
    * once at write time — is the difference between a point-range query
    * reading gigabytes and reading the whole table; PlanSpec proves the
    * pruning from the scan's runtime numOutputRows metric. */
  def ensureSortedLineitem(s: SparkSession, d: String): String = {
    val path = Stage.p(s, "graft_sorted_" +
      d.replaceAll("[^A-Za-z0-9]", "_") +
      "_" + Stage.inputStamp(s, s"$d/lineitem.parquet"))
    Stage.materializeOnce(s, path) {
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
          "l_extendedprice")
        .repartitionByRange(16, col("l_partkey"))
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite").parquet(path)
    }
  }

  /** Z-ordered lineitem twin: both filter dimensions are quantized to a
    * shared 8-bit grid (bounds from a broadcast 1-row aggregate — no
    * driver collect) and bit-interleaved into a 16-bit z-value; range
    * partitioning + sorting on z gives every file a bounded rectangle
    * of (l_partkey, l_suppkey) space, so per-column row-group stats
    * prune selective scans on EITHER dimension — the property a plain
    * sort only provides for its leading column. The interleave is 16
    * codegen'd shift/and/or terms, no UDF. */
  def ensureZorderLineitem(s: SparkSession, d: String): String = {
    val path = Stage.p(s, "graft_zorder_" +
      d.replaceAll("[^A-Za-z0-9]", "_") +
      "_" + Stage.inputStamp(s, s"$d/lineitem.parquet"))
    Stage.materializeOnce(s, path) {
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
          "l_extendedprice")
      val bounds = li.agg(
        min("l_partkey").as("pmin"), max("l_partkey").as("pmax"),
        min("l_suppkey").as("smin"), max("l_suppkey").as("smax"))
      val wb = li.crossJoin(broadcast(bounds))
        .withColumn("pb", ((col("l_partkey") - col("pmin")) * 255 /
          greatest(col("pmax") - col("pmin"), lit(1))).cast(IntegerType))
        .withColumn("sb", ((col("l_suppkey") - col("smin")) * 255 /
          greatest(col("smax") - col("smin"), lit(1))).cast(IntegerType))
      val z = (0 until 8).map { i =>
        shiftleft(shiftright(col("pb"), i).bitwiseAND(lit(1)), 2 * i + 1)
          .bitwiseOR(
            shiftleft(shiftright(col("sb"), i).bitwiseAND(lit(1)), 2 * i))
      }.reduce(_ bitwiseOR _)
      wb.withColumn("zv", z)
        .repartitionByRange(16, col("zv"))
        .sortWithinPartitions("zv")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
          "l_extendedprice")
        .write.mode("overwrite").parquet(path)
    }
  }

  private val csvPath = "/tmp/graft_sample.csv"
  private val csvContent =
    """id,name,val,note
      |1,alpha,1.5,
      |2,beta,,x
      |3,gamma,2.25,y
      |4,delta,-0.75,
      |5,,3.5,z
      |""".stripMargin
  private val csvSchema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("name", StringType),
    StructField("val", DoubleType),
    StructField("note", StringType)))

  private def ensureCsv(s: SparkSession): String =
    Stage.write(s, csvPath, csvContent.getBytes(StandardCharsets.UTF_8))

  private def bz2Path(s: SparkSession): String =
    Stage.p(s, "graft_dump.txt.bz2")
  private val dumpLines = Seq(
    "[",
    """{"id":"Q1","type":"item"},""",
    """{"id":"Q2","type":"item"},""",
    """{"id":"P31","type":"property"}""",
    "]")

  /** Write the fake dump through Hadoop's BZip2 codec — the same codec
    * Spark uses to split real .bz2 dumps across tasks (unlike the
    * reference's single-process `bzcat` pipe). */
  private def ensureBz2(s: SparkSession): String = synchronized {
    val out = Stage.createBz2(s, bz2Path(s))
    try out.write(dumpLines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    bz2Path(s)
  }

  private def badJsonPath(s: SparkSession): String =
    Stage.p(s, "graft_bad.ndjson")
  private val badJsonLines = Seq(
    """{"id":1,"name":"alpha"}""",
    """{"id":2,"name":"beta"}""",
    """{"id":3,"name":"gamma"}""",
    """{"id":"not-a-number","name":"delta"}""",
    """{broken json line""")

  private def ensureBadJson(s: SparkSession): String =
    Stage.write(s, badJsonPath(s),
      badJsonLines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))

  val queries: Map[String, Q] = Map(
    "scan_json_corrupt" -> ((s, _) => {
      // PERMISSIVE NDJSON scan: malformed lines land in the corrupt-
      // record column instead of failing the job — the production
      // posture for a 100 TB dump scan, where one bad line in billions
      // must quarantine, not kill the read. Explicit schema (no
      // sampling pass), so the scan is single-pass and deterministic;
      // both failure modes are exercised (syntax error, type mismatch —
      // each nulls the typed fields and preserves the raw line).
      val schema = StructType(Seq(
        StructField("id", LongType),
        StructField("name", StringType),
        StructField("_corrupt_record", StringType)))
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(ensureBadJson(s))
        .select(col("id"), col("name"), col("_corrupt_record").as("raw_bad"))
        .orderBy(asc_nulls_last("id"), asc_nulls_last("raw_bad"))
    }),

    "scan_csv_malformed" -> ((s, d) => {
      // PERMISSIVE CSV — the sibling of scan_json_corrupt for the
      // other dominant interchange format: a deterministic CSV is
      // CONSTRUCTED from supplier with every 7th key's acctbal
      // replaced by a non-numeric token, then read back with an
      // explicit schema + corrupt-record column. The oracle replays
      // the CONSTRUCTION (not the file), proving the permissive read
      // recovers exactly the planted corruption: bad rows preserve
      // the raw line, good rows parse to the exact decimal. Per-row
      // malformedness quarantines; the scan never dies — the 100 TB
      // ingest posture.
      val path = Stage.p(s, "graft_csv_malformed_" +
        d.replaceAll("[^A-Za-z0-9]", "_") + "_" +
        graft.Stage.inputStamp(s, s"$d/supplier.parquet"))
      graft.Stage.materializeOnce(s, path) {
        Tables.supplier(s, d)
          .select(concat_ws(",", col("s_suppkey"), col("s_name"),
            when(pmod(col("s_suppkey"), lit(7)) === 0, lit("notanumber"))
              .otherwise(col("s_acctbal").cast(StringType))).as("value"))
          .write.mode("overwrite").text(path)
      }
      val schema = StructType(Seq(
        StructField("k", LongType),
        StructField("name", StringType),
        StructField("bal", DoubleType),
        StructField("_corrupt_record", StringType)))
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
        .select(col("k"), col("name"), col("bal"),
          col("_corrupt_record").isNotNull.as("quarantined"))
        .orderBy("k")
    }),

    "scan_csv" -> ((s, _) => {
      // Explicit schema + header + nullValue: the deterministic CSV
      // ingest contract (inferSchema is banned — SURVEY §1.3).
      s.read.schema(csvSchema)
        .option("header", "true")
        .option("nullValue", "")
        .csv(ensureCsv(s))
        .orderBy("id")
    }),

    "scan_bz2_text" -> ((s, _) => {
      // Transparent decompress-on-scan; bz2 is block-splittable so a
      // 100 GB dump fans out across tasks with zero extra code.
      ensureBz2(s)
      s.read.text(bz2Path(s))
        .select(col("value"), length(col("value")).as("len"))
        .orderBy("value")
    }),

    "scan_partitioned" -> ((s, d) => {
      // The 100 TB at-rest layout: fact data date-partitioned so a time
      // filter prunes whole directories at plan time (PartitionFilters,
      // zero I/O for other years). Materialized once per sf dir.
      s.read.parquet(ensurePartitionedLineitem(s, d))
        .filter(col("ship_year") === 1996)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sumMoney(col("l_quantity")).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    "scan_schema_merge" -> ((s, d) => {
      // Schema evolution on read: a 100 TB lake's files were written
      // over years by evolving jobs — newer files carry columns older
      // ones lack. mergeSchema reconciles them at plan time (footer
      // union, no data rewrite); rows from pre-evolution files surface
      // the new column as NULL. Two generations materialized once per
      // sf dir: v1 (key, name), v2 adds r_len. mergeSchema is opt-in
      // because footer-merging 10⁶ files costs a driver pass — enable
      // it per-read like this, not globally.
      val path = Stage.p(s,
        "graft_schemamerge_" + d.replaceAll("[^A-Za-z0-9]", "_"))
      if (!Stage.exists(s, s"$path/v2/_SUCCESS")) {
        Tables.region(s, d)
          .select(lit(1).cast(IntegerType).as("v"),
            col("r_regionkey"), col("r_name"))
          .write.mode("overwrite").parquet(s"$path/v1")
        Tables.region(s, d)
          .select(lit(2).cast(IntegerType).as("v"),
            col("r_regionkey"), col("r_name"),
            length(col("r_name")).cast(IntegerType).as("r_len"))
          .write.mode("overwrite").parquet(s"$path/v2")
      }
      s.read.option("mergeSchema", "true").parquet(s"$path/v1", s"$path/v2")
        .orderBy("v", "r_regionkey")
    }),

    "scan_orc" -> ((s, d) => {
      // Second columnar format: vectorized ORC scan with predicate
      // pushdown — the same scan contract as parquet. The sample is
      // materialized ONCE per sf dir (behind _SUCCESS, same policy as
      // scan_partitioned) so this key times the scan it names, not a
      // rewrite on every invocation.
      val out = Stage.p(s, "graft_orc_" + d.replaceAll("[^A-Za-z0-9]", "_"))
      if (!Stage.exists(s, s"$out/_SUCCESS")) {
        Tables.nation(s, d).write.mode("overwrite").orc(out)
      }
      s.read.orc(out)
        .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name")).agg(count(lit(1)).as("n_nations"))
        .orderBy("r_name")
    }),

    "scan_xml" -> ((s, d) => {
      // Third text interchange format: Spark 4 ships a NATIVE XML
      // datasource (XmlFileFormat — no external package), so the XML
      // feeds/dumps a warehouse still receives scan in parallel tasks
      // like CSV/JSON. Sample materialized once per sf dir (scan_orc
      // policy); the read carries an explicit schema + rowTag —
      // inferSchema stays banned for the same determinism reasons as
      // CSV (SURVEY §1.3). Doubles survive the text round trip because
      // Spark writes the shortest round-tripping decimal.
      val out = Stage.p(s, "graft_xml_" + d.replaceAll("[^A-Za-z0-9]", "_"))
      if (!Stage.exists(s, s"$out/_SUCCESS")) {
        Tables.supplier(s, d)
          .write.mode("overwrite").format("xml")
          .option("rowTag", "supplier").save(out)
      }
      s.read.format("xml")
        .schema(StructType(Seq(
          StructField("s_suppkey", LongType),
          StructField("s_name", StringType),
          StructField("s_nationkey", IntegerType),
          StructField("s_acctbal", DoubleType))))
        .option("rowTag", "supplier")
        .load(out)
        .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          sumMoney(col("s_acctbal")).as("total_bal"))
        .orderBy("n_name")
    }),

    "sink_parquet" -> ((s, d) => {
      // Materialize-and-reread round trip: the result IS the sink's
      // output, so the oracle (direct SQL) proves write fidelity.
      val out = Stage.p(s, "graft_sink_parquet")
      val agg = Tables.nation(s, d)
        .join(Tables.customer(s, d), col("n_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          sumMoney(col("c_acctbal")).as("total_bal"))
      ParquetSink(out).write(agg)
      s.read.parquet(out).orderBy("n_name")
    }),

    "sink_csv_roundtrip" -> ((s, d) => {
      // CSV sink + schema'd re-read: the interchange path for systems
      // that can't read parquet. Doubles survive because Spark writes
      // the shortest round-tripping decimal and the explicit read
      // schema (inferSchema stays banned) parses it back to the same
      // IEEE double; the 4-dp money values here make that exact by
      // construction.
      val out = Stage.p(s, "graft_sink_csv")
      val agg = Tables.region(s, d)
        .join(Tables.nation(s, d), col("r_regionkey") === col("n_regionkey"))
        .join(Tables.supplier(s, d), col("n_nationkey") === col("s_nationkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          sumMoney(col("s_acctbal")).as("total_bal"))
      agg.write.mode("overwrite").option("header", "true").csv(out)
      s.read.schema(StructType(Seq(
          StructField("r_name", StringType),
          StructField("n_suppliers", LongType),
          StructField("total_bal", DoubleType))))
        .option("header", "true")
        .csv(out)
        .orderBy("r_name")
    }),

    "etl_compact" -> ((s, d) => {
      // Small-file compaction — the lake-hygiene job every streaming
      // ingest needs: a fragmented table (128 commit-sized files here)
      // is rewritten into few size-targeted files, so readers pay one
      // task per ~128 MB instead of one per commit. coalesce(), not
      // repartition(): compaction must MERGE co-located files without
      // a shuffle (at 100 TB production would coalesce per partition
      // directory, or AQE-rebalance, and size by maxRecordsPerFile).
      // Both stages materialize once per scale dir; the read-back
      // aggregate proves content survived the rewrite byte-exactly.
      val tag = d.replaceAll("[^A-Za-z0-9]", "_") + "_" +
        Stage.inputStamp(s, s"$d/orders.parquet")
      val fragP = Stage.p(s, s"graft_frag_$tag")
      val frag = Stage.materializeOnce(s, fragP) {
        Tables.orders(s, d).repartition(128)
          .write.mode("overwrite").parquet(fragP)
      }
      val compP = Stage.p(s, s"graft_compacted_$tag")
      val compacted = Stage.materializeOnce(s, compP) {
        s.read.parquet(frag).coalesce(4)
          .write.mode("overwrite").parquet(compP)
      }
      s.read.parquet(compacted)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sumMoney(col("o_totalprice")).as("total_price"))
        .orderBy("o_orderstatus")
    }),

    "sink_parquet_partitioned" -> ((s, d) => {
      // Partitioned write + DYNAMIC partition overwrite — the lake's
      // incremental-refresh primitive: a daily job rewrites ONLY the
      // partitions it produced; every other partition's files are
      // untouched (static overwrite mode would delete the whole
      // table first). Here the 1996 partition is replaced by a
      // repriced copy; read-back proves 1996 changed and its
      // neighbors didn't. The rewrite cost is one partition's data,
      // not the table — the property that makes daily refresh of a
      // 100 TB table affordable. Baseline table materializes once per
      // scale dir; the dynamic overwrite is idempotent (derived from
      // the immutable source), so re-invocations converge.
      val base = ensurePartitionedLineitem(s, d)
      val dynTag = d.replaceAll("[^A-Za-z0-9]", "_") + "_" +
        Stage.inputStamp(s, s"$d/lineitem.parquet")
      val dynP = Stage.p(s, s"graft_dynpart_$dynTag")
      val out = Stage.materializeOnce(s, dynP) {
        s.read.parquet(base).write.mode("overwrite")
          .partitionBy("ship_year")
          .parquet(dynP)
      }
      val repriced = s.read.parquet(base)
        .filter(col("ship_year") === 1996)
        .withColumn("l_extendedprice", col("l_extendedprice") * lit(0.9))
      repriced.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ship_year").parquet(out)
      s.read.parquet(out)
        // partition-column discovery infers int, but pin it: the
        // oracle's year() is BIGINT-typed and the schema gate is exact
        .groupBy(col("ship_year").cast(IntegerType).as("ship_year"))
        .agg(count(lit(1)).as("n"),
          sumMoney(col("l_extendedprice")).as("revenue"))
        .orderBy("ship_year")
    }),

    "sink_parquet_sorted" -> ((s, d) => {
      // Write-time clustering: the read-back box scan decodes only the
      // row groups whose l_partkey range intersects [101, 150] (layout
      // built by ensureSortedLineitem; pruning proven in PlanSpec from
      // runtime scan metrics). The RESULT is layout-invariant — the
      // oracle replays the same filter+agg over the unsorted source.
      s.read.parquet(ensureSortedLineitem(s, d))
        .filter(col("l_partkey").between(101, 150))
        .groupBy(expr("l_partkey div 10").as("bucket"))
        .agg(count(lit(1)).as("n"),
          sumMoney(col("l_extendedprice")).as("revenue"))
        .orderBy("bucket")
    }),

    "sink_parquet_zorder" -> ((s, d) => {
      // Two-dimensional clustering: the box filter touches both z
      // dimensions; either predicate alone also prunes (PlanSpec
      // contrasts the z-layout's suppkey-only scan against the
      // partkey-sorted twin, where that filter decodes everything).
      s.read.parquet(ensureZorderLineitem(s, d))
        .filter(col("l_partkey").between(101, 150) &&
          col("l_suppkey").between(2, 5))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n"),
          sumMoney(col("l_extendedprice")).as("revenue"))
        .orderBy("l_suppkey")
    }),

    "sink_pg_copy" -> ((s, d) => {
      // The reference's REAL ingest path, runnable offline: DDL from
      // PgDdl, bulk load via psql \copy into a local Postgres 15, then
      // read back out of Postgres (COPY OUT → CSV → Spark) so the
      // result proves the full round trip. Falls back to the
      // ParquetSink twin when no server can start — the oracle holds
      // on both paths.
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("o_orderstatus", StringType),
        StructField("n_orders", LongType),
        StructField("total_price", DoubleType)))
      val agg = Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sumMoney(col("o_totalprice")).as("total_price"))
      val t = "graft_order_stats"
      // per-partition fan-out: each partition COPYs from its executor
      // (the 100 TB shape); the round trip verifies it. Its scratch CSV
      // goes through Stage.posixP: psql's \copy TO runs in the
      // DRIVER-host psql process while the read-back runs on executors
      // — on a multi-host cluster set spark.graft.stage.dir to a POSIX
      // path shared by driver and executors (NFS; an HDFS URI won't
      // work here — psql writes through the OS filesystem, not Hadoop).
      PgServer.roundTrip(s, t, schema, Seq("o_orderstatus"), agg) {
        PgCopySink(PgServer.sockDir, PgServer.port, PgServer.db, t).write(agg)
      }
    }),

    "sink_pg_wire" -> ((s, d) => {
      // The SAME round trip as sink_pg_copy, but every executor-side
      // COPY stream speaks the v3 wire protocol directly (PgWire —
      // no psql subprocess on executors), declared as its own
      // oracle-gated key so the hash gate proves the transport is a
      // pure mechanism choice: identical logical content either way.
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("o_orderstatus", StringType),
        StructField("n_orders", LongType),
        StructField("total_price", DoubleType)))
      val agg = Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sumMoney(col("o_totalprice")).as("total_price"))
      val t = "graft_order_stats_wire"
      PgServer.roundTrip(s, t, schema, Seq("o_orderstatus"), agg) {
        PgCopySink(PgServer.sockDir, PgServer.port, PgServer.db, t,
          wire = true).write(agg)
      }
    }),

    "sink_pg_sharded" -> ((s, d) => {
      // Hash-sharded COPY fan-out as DECLARED surface (r12 verdict
      // task 1): the same load routed across 3 shard tables by
      // pmod(xxhash64(o_custkey), 3), read back as the UNION of the
      // shards — the oracle is the unsharded aggregate, so the hash
      // gate proves sharding is a pure physical layout choice (no row
      // lost, duplicated, or altered by the routing/multiplexed COPY/
      // concurrent per-shard promote). numPartitions caps the
      // connection fan-out (partitions × shards streams otherwise).
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("o_custkey", LongType),
        StructField("n_orders", LongType),
        StructField("total_price", DoubleType)))
      val agg = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sumMoney(col("o_totalprice")).as("total_price"))
      val t = "graft_order_by_cust"
      val shards = (0 until 3).map(i => s"${t}_s$i")
      PgServer.roundTrip(s, t, schema, Seq("o_custkey"), agg, drop = shards,
          from = shards.map(x => s"""SELECT * FROM "$x"""").mkString(" UNION ALL ")) {
        PgCopySink(PgServer.sockDir, PgServer.port, PgServer.db, t,
          numPartitions = 8, shards = 3, shardCol = "o_custkey").write(agg)
      }
    }),

    "sink_pg_attach" -> ((s, d) => {
      // Attach-promote COPY sink as DECLARED surface: the staged
      // tables become inheritance children (zero-rewrite promote —
      // round-13 of git show 79d8cf5:SCALE.md measures the rewrite it
      // removes at 166-257s per 39M rows), and the read-back goes through
      // the PARENT, so the oracle proves segment reads are
      // indistinguishable from a single physical table.
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("o_custkey", LongType),
        StructField("n_orders", LongType),
        StructField("total_price", DoubleType)))
      val agg = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sumMoney(col("o_totalprice")).as("total_price"))
      val t = "graft_order_by_cust_att"
      PgServer.roundTrip(s, t, schema, Seq("o_custkey"), agg) {
        PgCopySink(PgServer.sockDir, PgServer.port, PgServer.db, t,
          numPartitions = 8, attachPromote = true).write(agg)
      }
    }),

    "sink_jdbc_postgres" -> ((s, d) => {
      // The reference's core sink, behind the Sink trait. Offline gate
      // (no pgjdbc jar resolvable — SURVEY §7.5): Sink.forUrl dispatches
      // a filesystem URL to the ParquetSink twin; with a
      // jdbc:postgresql:// URL the identical call path bulk-loads
      // Postgres (JdbcSink options unit-tested in SinkSpec).
      val out = Stage.p(s, "graft_sink_jdbc_twin")
      val load = Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sumMoney(col("o_totalprice")).as("total_price"))
      Sink.forUrl(out, table = "order_summary").write(load)
      s.read.parquet(out).orderBy("o_orderpriority")
    })
  )

  val oracles: Map[String, String] = Map(
    // DuckDB cannot open bz2, but the decompressed content is the fixed
    // dumpLines literal — the oracle is generated from the SAME Scala
    // value the codec writes, so the hash gate still proves the
    // decompress-on-scan path reproduces the bytes (both engines sort
    // binary, so ORDER BY value agrees).
    "scan_bz2_text" ->
      s"""SELECT * FROM (VALUES ${
        dumpLines.map(l => s"('${l.replace("'", "''")}', ${l.length})")
          .mkString(", ")}) t(value, len)
         ORDER BY value""",

    "sink_csv_roundtrip" ->
      """SELECT r_name, count(*) AS n_suppliers,
             CAST(round(sum(CAST(s_acctbal AS DECIMAL(38,4))), 4) AS DOUBLE) AS total_bal
         FROM region
         JOIN nation ON r_regionkey = n_regionkey
         JOIN supplier ON n_nationkey = s_nationkey
         GROUP BY r_name ORDER BY r_name""",

    // Same technique as scan_bz2_text: the oracle is generated from the
    // SAME literal the fixture writes, stating the PERMISSIVE contract —
    // rows 1-3 parse; the type-mismatch row keeps its good fields
    // (Spark 3.4+ partial results) and quarantines the raw line; the
    // syntax-error row nulls everything and quarantines the raw line.
    "scan_json_corrupt" ->
      s"""SELECT * FROM (VALUES
           (CAST(1 AS BIGINT), 'alpha', CAST(NULL AS VARCHAR)),
           (2, 'beta', NULL),
           (3, 'gamma', NULL),
           (NULL, 'delta', '${badJsonLines(3).replace("'", "''")}'),
           (NULL, NULL, '${badJsonLines(4).replace("'", "''")}'))
           t(id, name, raw_bad)
         ORDER BY id ASC NULLS LAST, raw_bad ASC NULLS LAST""",

    "scan_csv" ->
      """SELECT * FROM read_csv('/tmp/graft_sample.csv', header=true,
           columns={'id': 'INTEGER', 'name': 'VARCHAR',
                    'val': 'DOUBLE', 'note': 'VARCHAR'})
         ORDER BY id""",

    // Replays the CONSTRUCTION, not the file: the permissive read must
    // recover exactly the planted corruption (every 7th key
    // quarantined with bal nulled, all others parsed back to the
    // identical double via the shortest-round-trip text form).
    "scan_csv_malformed" ->
      """SELECT s_suppkey AS k, s_name AS name,
             CASE WHEN s_suppkey % 7 = 0 THEN NULL
                  ELSE s_acctbal END AS bal,
             s_suppkey % 7 = 0 AS quarantined
         FROM supplier ORDER BY k""",

    // The XML round trip is exact (shortest round-tripping decimals +
    // explicit read schema), so the oracle is the direct relational
    // statement of the same join/agg over the source parquet.
    "scan_xml" ->
      """SELECT n_name, count(*) AS n_suppliers,
             CAST(round(sum(CAST(s_acctbal AS DECIMAL(38,4))), 4) AS DOUBLE) AS total_bal
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""",

    "scan_partitioned" ->
      """SELECT l_returnflag, count(*) AS n,
             CAST(round(sum(CAST(l_quantity AS DECIMAL(38,4))), 4) AS DOUBLE) AS sum_qty
         FROM lineitem WHERE year(l_shipdate) = 1996
         GROUP BY l_returnflag ORDER BY l_returnflag""",

    "etl_compact" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,4))), 4) AS DOUBLE) AS total_price
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    // Replays the dynamic overwrite arithmetically: 1996 rows repriced
    // ×0.9 (identical per-row IEEE product), all other years original.
    "sink_parquet_partitioned" ->
      """SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year, count(*) AS n,
             CAST(round(sum(CAST(CASE WHEN year(l_shipdate) = 1996
                 THEN l_extendedprice * 0.9 ELSE l_extendedprice END
               AS DECIMAL(38,4))), 4) AS DOUBLE) AS revenue
         FROM lineitem
         GROUP BY 1 ORDER BY ship_year""",

    // Layout-invariant read-backs: the clustered twins hold exactly the
    // source rows, so the oracle filters/aggregates the original table.
    "sink_parquet_sorted" ->
      """SELECT l_partkey // 10 AS bucket, count(*) AS n,
             CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,4))), 4)
               AS DOUBLE) AS revenue
         FROM lineitem WHERE l_partkey BETWEEN 101 AND 150
         GROUP BY 1 ORDER BY bucket""",

    "sink_parquet_zorder" ->
      """SELECT l_suppkey, count(*) AS n,
             CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,4))), 4)
               AS DOUBLE) AS revenue
         FROM lineitem
         WHERE l_partkey BETWEEN 101 AND 150 AND l_suppkey BETWEEN 2 AND 5
         GROUP BY 1 ORDER BY l_suppkey""",

    // The v1 generation never wrote r_len → NULL, exactly what the
    // merged read surfaces for pre-evolution files.
    "scan_schema_merge" ->
      """SELECT CAST(1 AS INTEGER) AS v, r_regionkey, r_name,
             CAST(NULL AS INTEGER) AS r_len FROM region
         UNION ALL
         SELECT 2, r_regionkey, r_name, CAST(length(r_name) AS INTEGER)
         FROM region
         ORDER BY v, r_regionkey""",

    "scan_orc" ->
      """SELECT r_name, count(*) AS n_nations
         FROM nation JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",

    "sink_parquet" ->
      """SELECT n_name, count(*) AS n_customers,
             CAST(round(sum(CAST(c_acctbal AS DECIMAL(38,4))), 4) AS DOUBLE) AS total_bal
         FROM nation JOIN customer ON n_nationkey = c_nationkey
         GROUP BY n_name ORDER BY n_name""",

    "sink_pg_copy" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,4))), 4) AS DOUBLE) AS total_price
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    // transport choice, not a semantics choice: the wire-protocol
    // writer must hash-match the psql writer's aggregate exactly
    "sink_pg_wire" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,4))), 4) AS DOUBLE) AS total_price
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    // one oracle TEXT for both physical layouts: sharding/attaching is
    // a layout choice, the logical content must hash-match the plain
    // unsharded aggregate
    "sink_pg_sharded" ->
      """SELECT o_custkey, count(*) AS n_orders,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,4))), 4) AS DOUBLE) AS total_price
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""",

    "sink_pg_attach" ->
      """SELECT o_custkey, count(*) AS n_orders,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,4))), 4) AS DOUBLE) AS total_price
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""",

    "sink_jdbc_postgres" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,4))), 4) AS DOUBLE) AS total_price
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""
  )
}
