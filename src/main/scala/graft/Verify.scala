package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_MASTER (Harness) runs the same main against a real
    // cluster manager — the multi-JVM parity path. MULTI-HOST clusters
    // must set spark.graft.stage.dir (Stage.DirConf) to a shared
    // path/URI: under /tmp on file://, the Stage.stored artifact parts
    // would land on per-executor local disks and a later read silently
    // truncate. The same-host standalone parity run needs nothing.
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // Dev filter (same contract as Bench): comma-separated key list.
    // The driver never sets it, so the shipped gate always runs ALL keys.
    val selected = Harness.keys()
    // A failed key must still produce an artifact the driver can see:
    // silently writing nothing shrinks the key list and makes the
    // correctness sheet look clean while losing coverage (round-5
    // lesson). On failure we write a directory containing only a
    // _FAILED marker — any parquet read of it errors loudly, so the
    // driver records an explicit error row instead of omitting the key.
    var failedCount = 0
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failedCount += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        try {
          val dir = Paths.get(s"$outDir/$name")
          if (Files.exists(dir))
            Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
              .forEach(p => Files.deleteIfExists(p))
          Files.createDirectories(dir)
          val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
          Files.writeString(dir.resolve("_FAILED"), msg)
        } catch { case w: Throwable =>
          System.err.println(s"[verify] $name: could not write $outDir/$name/_FAILED: $w")
        }
      }
      // Round 18 block hygiene: the key's result is on disk; its
      // scratch localCheckpoint blocks have no readers left (see Bench).
      Ckpt.releaseScratch()
    }
    println(s"[verify] FAILED $failedCount of ${selected.size}")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
