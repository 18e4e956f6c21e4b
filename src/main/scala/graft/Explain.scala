package graft

/** Dev tool: dump `.explain("formatted")` for the named keys to
  * plans/<tag>/<key>_<suffix>.txt (the optimization-round evidence
  * files). Usage:
  *   sbt "runMain graft.Explain <tag> <suffix> key1,key2,... [sfDir]"
  * The plan is the one a key's action starts from (AQE not yet
  * finalized). Session shape (cpus, shuffle) comes from [[Harness]].
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val suffix = args(1)
    val keys = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = Harness.session()
    val dir = new java.io.File(s"plans/$tag")
    dir.mkdirs()
    keys.foreach { key =>
      val df = SparkEntry.queries(key)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val w = new java.io.PrintWriter(
        new java.io.File(dir, s"${key}_$suffix.txt"), "UTF-8")
      try w.println(txt) finally w.close()
      println(s"[explain] wrote plans/$tag/${key}_$suffix.txt " +
        s"(${txt.count(_ == '\n')} lines)")
      // building a loop key's frame runs its fixpoint; release the
      // scratch blocks it registered before the next key
      Ckpt.releaseScratch()
    }
    spark.stop()
  }
}
