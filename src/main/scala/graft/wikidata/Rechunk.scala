package graft.wikidata

/** Dev-tool main (round-17 verdict 3): run [[Wd.rechunk]] from the
  * command line and print one timed JSON line — the bounded one-pass
  * re-chunk that turns an unsplittable `.json.gz` dump into N
  * splittable parts.
  *
  * Usage: runMain graft.wikidata.Rechunk <inPath> <outDir> <parts> [codec]
  *   codec: none (default) | bz2
  */
object Rechunk {
  def main(args: Array[String]): Unit = {
    val Array(in, out, parts) = args.take(3)
    val codec = if (args.length > 3) args(3) else "none"
    val spark = graft.Harness.session() // driver-side streaming pass
    val t0 = System.nanoTime()
    val n = Wd.rechunk(spark, in, out, parts.toInt, codec)
    val sec = (System.nanoTime() - t0) / 1e9
    println(s"""{"probe":"rechunk","in":"$in","out":"$out",""" +
      s""""parts":$parts,"codec":"$codec","lines":$n,""" +
      s""""sec":${f"$sec%.1f"}}""")
    spark.stop()
  }
}
