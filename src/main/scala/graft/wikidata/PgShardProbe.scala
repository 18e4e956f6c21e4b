package graft.wikidata

import java.util.Locale
import graft.sources.{PgCopySink, PgDdl, PgServer}

/** Sharded-COPY fan-out probe (r12 verdict task 1): MEASURE, not argue,
  * that the etl_wikidata_pg single-writer ceiling (e(3→9) = 1.28 in
  * SCALE.md — 39M statements COPYing into ONE Postgres table) lifts
  * when the target is hash-sharded across N tables on the same server.
  *
  * The probe drives EXACTLY the declared key's Spark side
  * (Etl.loadFrame — bz2 ingest → flatten → typed extraction → label
  * pass-through) into PgCopySink with shards = N, and times the complete load
  * (staging COPYs + the one cross-shard promote transaction). The
  * Spark-side work is identical at every N, so statements/s vs N
  * isolates the writer ceiling from the protocol. Same single box —
  * the curve flattens where the shared disk/WAL saturates, which is
  * the point: below that, one table was the bottleneck, not the drive.
  *
  * Routing is pmod(xxhash64(id), N) — by ENTITY, so a production
  * shard-per-server layout keeps each entity's statements co-located
  * (the access pattern wikidata consumers join on).
  *
  * Usage: runMain graft.wikidata.PgShardProbe <shards> [numPartitions] [promote]
  *   shards = 1 runs the unsharded single-table baseline path;
  *   shards = 0 runs NO sink at all (consume the frame row-by-row on
  *   the executors) — the Spark-side floor, so writerSec(N) =
  *   loadSec(N) − loadSec(0) isolates pure COPY+promote cost.
  *   promote = rewrite (default) | attach — attach promotes staged
  *   tables as inheritance children (zero data rewrite), the measured
  *   answer to the rewrite promote being WAL/disk-bound.
  * Conf: spark.graft.wd.bz2 points at a GenWd dump (unset = KB fixture;
  *   under sbt pass it as SPARK_GRAFT_EXTRA_OPTS=-Dspark.graft.wd.bz2=…).
  * Env: SPARK_GRAFT_CPUS, SPARK_GRAFT_KEEP_TABLES=1 to skip the drop.
  * Emits one PGSHARD JSON line with per-shard row counts (the
  * determinism/preservation evidence PgSpec asserts at test scale).
  */
object PgShardProbe {
  private def fmt(v: Double): String = String.format(Locale.ROOT, "%.3f", v)

  def main(args: Array[String]): Unit = {
    val shards = if (args.nonEmpty) args(0).toInt else 2
    val parts = if (args.length > 1) args(1).toInt else 16
    val attach = args.length > 2 && args(2) == "attach"
    val spark = graft.Harness.session()
    require(PgServer.ensure(), "local Postgres unavailable")

    val t = "graft_wd_shardprobe"
    val tables =
      if (shards > 1) (0 until shards).map(i => s"${t}_s$i")
      else if (shards == 1) Seq(t) else Seq.empty
    // fresh slate: base + shard tables of any earlier probe run
    // (CASCADE reaps attach-mode segment children along with parents)
    (Seq(t) ++ (0 until 8).map(i => s"${t}_s$i")).foreach { x =>
      PgServer.exec(s"""DROP TABLE IF EXISTS "$x" CASCADE""")
    }
    PgServer.exec(PgDdl.createTable(t, Etl.targetSchema))

    val load = Etl.loadFrame(spark)
    val counted = spark.sparkContext.longAccumulator("probe_rows")
    val t0 = System.nanoTime()
    if (shards == 0) {
      // Spark-side floor: same frame, same coalesce, rows consumed on
      // the executors, zero psql — what the writer math subtracts
      val d = if (parts > 0) load.coalesce(parts) else load
      d.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        var n = 0L
        while (rows.hasNext) { rows.next(); n += 1 }
        counted.add(n)
      }
    } else {
      PgCopySink(PgServer.sockDir, PgServer.port, PgServer.db, t,
        numPartitions = parts,
        shards = shards, shardCol = if (shards > 1) "id" else "",
        attachPromote = attach).write(load)
    }
    val sec = (System.nanoTime() - t0) / 1e9

    val perShard = tables.map(x =>
      PgServer.psql(s"""SELECT count(*) FROM "$x"""").get.toLong)
    val rows = if (shards == 0) counted.value.toLong else perShard.sum
    println(s"""PGSHARD {"shards":$shards,"parts":$parts,""" +
      s""""promote":"${if (attach) "attach" else "rewrite"}","rows":$rows,""" +
      s""""loadSec":${fmt(sec)},"rowsPerSec":${fmt(rows / sec)},""" +
      s""""stageSec":${fmt(PgCopySink.lastStageSec)},""" +
      s""""promoteSec":${fmt(PgCopySink.lastPromoteSec)},""" +
      s""""perShard":[${perShard.mkString(",")}]}""")

    if (!sys.env.get("SPARK_GRAFT_KEEP_TABLES").contains("1"))
      (Seq(t) ++ tables).distinct.foreach { x =>
        PgServer.exec(s"""DROP TABLE IF EXISTS "$x" CASCADE""")
      }
    spark.stop()
  }
}
