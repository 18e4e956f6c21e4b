package graft.wikidata

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{PgCopySink, PgServer}

/** The reference tool's COMPLETE pipeline composed as one plan
  * (SURVEY.md §1): bz2-compressed entity NDJSON dump → explicit-schema
  * parse → claims flatten → typed datavalue extraction (+ English label
  * enrichment) → per-partition COPY bulk load into Postgres → read-back.
  * Every stage is the already-verified standalone operator; this key
  * proves they compose — the result is what a consumer SELECTs out of
  * the warehouse table, not an intermediate frame.
  *
  * At 100 TB: bz2 is block-splittable so the dump scan fans out across
  * tasks; parse/flatten/extract/label are one narrow codegen'd pipeline
  * over ONE dump scan with no shuffle at all until the final sort; the
  * COPY fan-out streams each partition from its executor (N concurrent
  * COPYs, no driver staging, epoch-keyed idempotence under
  * retries/zombies). The only wide operator in the whole job is the
  * read-back ORDER BY.
  */
object Etl {
  /** Warehouse statements table, in Postgres DDL column order; the
    * second column is the family's English label (`en_label` for
    * entities, `en_caption` for mediainfo). */
  private[wikidata] def statementsSchema(label: String): StructType =
    StructType(Seq(
      StructField("id", StringType),
      StructField(label, StringType),
      StructField("pid", StringType),
      StructField("statement_id", StringType),
      StructField("dv_type", StringType),
      StructField("v_string", StringType),
      StructField("v_entity", StringType),
      StructField("v_time_raw", StringType),
      StructField("v_ts", TimestampType),
      StructField("v_amount", StringType),
      StructField("v_lat", DoubleType),
      StructField("v_lon", DoubleType),
      StructField("v_mono", StringType)))

  /** Dump rows → warehouse statement rows, from ONE dump scan: the
    * English label is a map lookup on the already-parsed row, so it
    * rides the `claims` explode as a [[TypedValues.typed]] pass-through
    * column — no second scan, no id join. That equals a left join of
    * the labels on `id` wherever ids are unique, which the public dumps
    * guarantee (WdTypedSpec pins the equality on GenWd dumps). It reads
    * only the [[statementFields]] of `ents`. */
  private[graft] def statementRows(ents: DataFrame, claims: String,
      label: String): DataFrame = {
    val cf = ents
      .select(col("id"),
        col("labels").getItem("en").getField("value").as(label),
        explode(col(claims)).as(Seq("pid", "stmts")))
      .select(col("id"), col(label), col("pid"),
        explode(col("stmts")).as("st"))
      .select(col("id"), col(label), col("pid"),
        col("st.id").as("statement_id"),
        col("st.mainsnak.datavalue.type").as("dv_type"),
        col("st.mainsnak.datavalue.value").as("dv_raw"))
    TypedValues.typed(cf, passThrough = Seq(label))
      .select(statementsSchema(label).fieldNames.map(col).toSeq: _*)
  }

  /** The dump fields [[statementRows]] reads from a family whose claims
    * map is `claims`: the read of a load frame parses these and no
    * other ([[Wd.Family.readBz2]]), so no statement's qualifiers,
    * references, rank or snak types are built. */
  private[wikidata] def statementFields(claims: String): Seq[String] =
    Seq("id", "labels.value", s"$claims.id", s"$claims.mainsnak.datavalue")

  /** Postgres DDL column schema of the statements target — the probe
    * creates its target with the same shape as the declared key. */
  private[wikidata] val targetSchema: StructType = statementsSchema("en_label")

  type Q = (SparkSession, String) => DataFrame

  /** The dump → warehouse-row frame the load writes: bz2 ingest →
    * explicit-schema parse → claims flatten → typed extraction →
    * en-label enrichment, in DDL column order. Factored out so the
    * specs and perfbench's `wd_load` run EXACTLY the declared key's
    * Spark side, not a reconstruction of it. A GenWd bz2 dump
    * (spark.graft.wd.bz2) replaces the staged fixture bz2 for scale
    * measurement; unset = fixture. The shared dump reader accepts the
    * array-wrapped public layout too (auto-detected). Redirect stubs
    * are routed to redirectFrame, never loaded as empty entities
    * (round-15 verdict 3); they carry no claims, so the filter documents
    * the split rather than changing row counts.
    *
    * The dump is parsed with [[EntitySchema.entity]] pruned to
    * `redirect` and the [[statementFields]], so the JSON scan never
    * builds the qualifier and reference snak trees the load does not
    * write (WdTypedSpec pins the rows equal to the full-schema read).
    * One consequence: a type mismatch inside a pruned field no longer
    * nulls its entity, the leniency top-level pruning already gives
    * `sitelinks`. */
  def loadFrame(s: SparkSession): DataFrame =
    statementRows(Wd.entityDump.readBz2(s, "redirect" +: statementFields("claims"): _*)
      .filter(col("redirect").isNull), "claims", "en_label")

  /** The dump's redirect relation, loaded alongside the statements
    * table so the warehouse can resolve redirected ids. */
  def redirectFrame(s: SparkSession): DataFrame =
    Wd.entityDump.readBz2(s)
      .filter(col("redirect").isNotNull)
      .select(col("id"), col("redirect").as("target"), col("lastrevid"))

  /** DDL schema of the redirects side-table. */
  private val redirectsSchema = StructType(Seq(
    StructField("id", StringType),
    StructField("target", StringType),
    StructField("lastrevid", LongType)))

  val queries: Map[String, Q] = Map(
    "etl_wikidata_pg" -> ((s, _) => {
      val load = loadFrame(s)
      val (t, rt) = ("graft_wd_statements", "graft_wd_redirects")
      // redirect stubs land in their own table — the id-resolution
      // relation, never rows in the statements surface
      PgServer.roundTrip(s, t, targetSchema, Seq("id", "pid", "statement_id"),
          load, side = Seq(rt -> redirectsSchema)) {
        PgCopySink(PgServer.sockDir, PgServer.port, PgServer.db, t).write(load)
        PgCopySink(PgServer.sockDir, PgServer.port, PgServer.db, rt)
          .write(redirectFrame(s))
      }
    })
  )

  /** DuckDB replays the whole chain over the plain-NDJSON twin of the
    * same bytes: claims-flatten CTEs + per-type extraction (identical
    * to the wd_values_typed oracle) + the en-label left join. */
  val oracles: Map[String, String] = Map(
    "etl_wikidata_pg" ->
      """WITH ent AS (
           SELECT id, labels, claims
           FROM read_json('/tmp/graft_wd_entities.ndjson',
             format='newline_delimited',
             columns={id: 'VARCHAR', labels: 'JSON', claims: 'JSON'})),
         pids AS (SELECT id, unnest(json_keys(claims)) AS pid, claims FROM ent),
         st AS (SELECT id, pid,
                  unnest(CAST(json_extract(claims, '$.' || pid) AS JSON[])) AS stj
                FROM pids),
         flat AS (SELECT id, pid,
             json_extract_string(stj, '$.id') AS statement_id,
             json_extract_string(stj, '$.mainsnak.datavalue.type') AS dv_type,
             json_extract_string(stj, '$.mainsnak.datavalue.value') AS dv_raw,
             json_extract_string(stj, '$.mainsnak.datavalue.value.id') AS j_entity,
             json_extract_string(stj, '$.mainsnak.datavalue.value.time') AS j_time,
             json_extract_string(stj, '$.mainsnak.datavalue.value.amount') AS j_amount,
             json_extract(stj, '$.mainsnak.datavalue.value.latitude') AS j_lat,
             json_extract(stj, '$.mainsnak.datavalue.value.longitude') AS j_lon,
             json_extract_string(stj, '$.mainsnak.datavalue.value.text') AS j_text
           FROM st),
         lab AS (SELECT id, json_extract_string(labels, '$.en.value') AS en_label
                 FROM ent)
         SELECT f.id, lab.en_label, f.pid, f.statement_id, f.dv_type,
             CASE WHEN dv_type = 'string' THEN dv_raw END AS v_string,
             CASE WHEN dv_type = 'wikibase-entityid' THEN j_entity END AS v_entity,
             CASE WHEN dv_type = 'time' THEN j_time END AS v_time_raw,
             TRY_CAST(regexp_extract(
               CASE WHEN dv_type = 'time' THEN j_time END,
               '^\+([0-9]{4}-[0-9]{2}-[0-9]{2}T[0-9:]{8})Z$', 1) AS TIMESTAMP) AS v_ts,
             CAST(TRY_CAST(CASE WHEN dv_type = 'quantity' THEN j_amount END
                           AS DECIMAL(38,6)) AS VARCHAR) AS v_amount,
             CASE WHEN dv_type = 'globecoordinate' THEN CAST(j_lat AS DOUBLE) END AS v_lat,
             CASE WHEN dv_type = 'globecoordinate' THEN CAST(j_lon AS DOUBLE) END AS v_lon,
             CASE WHEN dv_type = 'monolingualtext' THEN j_text END AS v_mono
         FROM flat f LEFT JOIN lab ON f.id = lab.id
         ORDER BY f.id, f.pid, f.statement_id"""
  )
}
