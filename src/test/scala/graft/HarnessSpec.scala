package graft

import java.nio.file.{Files, Path, Paths}
import java.util.regex.Pattern
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The shared harness code: key selection, the per-key metrics record,
  * and the one-builder structure of src/main. */
class HarnessSpec extends AnyFunSuite {
  lazy val spark = Spec.spark
  private val all = Map("a" -> 1, "b" -> 2, "c" -> 3)

  test("Harness.select: unset selects every key") {
    assert(Harness.select(None, all) === all)
    assert(Harness.select(None, SparkEntry.queries).keySet ===
      SparkEntry.queries.keySet)
  }

  test("Harness.select: a comma list selects exactly that subset") {
    assert(Harness.select(Some("a,b"), all) === Map("a" -> 1, "b" -> 2))
    assert(Harness.select(Some(" c , a ,"), all).keySet === Set("a", "c"))
  }

  test("Harness.select: an empty list fails") {
    val e = intercept[IllegalArgumentException](Harness.select(Some(""), all))
    assert(e.getMessage.contains("selects no keys"))
    intercept[IllegalArgumentException](Harness.select(Some(" , "), all))
  }

  test("Harness.select: an unknown name fails and names it") {
    val e = intercept[IllegalArgumentException](
      Harness.select(Some("a,nope_key"), all))
    assert(e.getMessage.endsWith("unknown keys: nope_key"))
  }

  test("Harness.KeyMetrics: a shuffle key's record at sf0.001") {
    val q = SparkEntry.queries("agg_groupby_pricing")
    val m = new Harness.KeyMetrics(spark.sparkContext)
    val r = try m.measure(q(spark, Spec.sf001).count()) finally m.close()
    assert(r.jobs >= 1, r)
    assert(r.stages >= 1, r)
    assert(r.tasks >= 1, r)
    assert(r.shw > 0, r)
    assert(r.shr > 0, r)
    assert(r.jobWallMs >= 0 && r.execMs >= 0 && r.spill >= 0, r)
    assert(r.gcMs >= 0 && r.compiles >= 0, r)
    assert(r.rows === q(spark, Spec.sf001).count())
  }

  test("GraftExtensions sets the codegen cache default only when it is unset") {
    import GraftExtensions.{CodegenCacheConf, CodegenCacheEntries}
    val saved = Option(System.getProperty(CodegenCacheConf))
    def applyExt(): Unit =
      new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
    try {
      System.clearProperty(CodegenCacheConf)
      applyExt()
      assert(System.getProperty(CodegenCacheConf) === CodegenCacheEntries.toString)
      System.setProperty(CodegenCacheConf, "123")
      applyExt()
      assert(System.getProperty(CodegenCacheConf) === "123")
    } finally saved match {
      case Some(v) => System.setProperty(CodegenCacheConf, v)
      case None => System.clearProperty(CodegenCacheConf)
    }
  }

  test("a warm pass over more than 100 generated classes compiles none of them") {
    // Spark's default cache holds 100 classes; a cyclic pass over 150
    // distinct ones (each projection inlines its own literals) misses
    // on every lookup unless the session sized the cache
    val n = 150
    def pass(): Long = (1 to n).map { i =>
      spark.range(3).selectExpr(s"id * ${1000 + i} + $i AS x")
        .collect().length.toLong
    }.sum
    val m = new Harness.KeyMetrics(spark.sparkContext)
    val (cold, warm) = try (m.measure(pass()), m.measure(pass()))
      finally m.close()
    assert(cold.compiles >= n, cold)
    assert(warm.compiles === 0, warm)
    assert(warm.rows === 3L * n)
  }

  private val root = Paths.get("src/main/scala")

  /** The files under `dir` whose name ends with `suffix`, path-sorted. */
  private def files(dir: Path, suffix: String): Seq[Path] = {
    assert(Files.isDirectory(dir), s"run from the repo root: $dir")
    val st = Files.walk(dir)
    try st.iterator().asScala.filter(_.toString.endsWith(suffix)).toList
      .sortBy(_.toString)
    finally st.close()
  }

  /** One entry per occurrence of `needle` in src/main: the file's path
    * relative to src/main/scala. */
  private def hits(needle: String): Seq[String] =
    files(root, ".scala").flatMap { f =>
      val n = Pattern.quote(needle).r.findAllMatchIn(Files.readString(f)).size
      Seq.fill(n)(root.relativize(f).toString)
    }

  /** The objects in src/main that define `def main(`, named relative to
    * package `graft`. */
  private lazy val mains: Set[String] = files(root, ".scala").flatMap { f =>
    val src = Files.readString(f)
    val pkg = "(?m)^package ([\\w.]+)".r.findFirstMatchIn(src).map(_.group(1)).get
    val objects = "(?m)^object (\\w+)".r.findAllMatchIn(src).toSeq
    "def main\\(".r.findAllMatchIn(src).map { m =>
      val obj = objects.filter(_.start < m.start).last.group(1)
      s"$pkg.$obj".stripPrefix("graft.")
    }
  }.toSet

  test("src/main has exactly the harness, generator and streaming soak mains") {
    assert(mains === Set("Bench", "Verify", "Explain", "GenScale",
      "wikidata.GenWd", "wikidata.Rechunk", "StreamSoak"))
  }

  test("src/main reads exactly the kept spark.graft.* keys") {
    // every mode a key switches on is declared or gone: no conf that
    // only a spec turns on
    val keys = files(root, ".scala").flatMap { f =>
      "\"spark\\.graft\\.([\\w.]+)\"".r.findAllMatchIn(Files.readString(f))
        .map(_.group(1))
    }.toSet
    assert(keys === Set("checkpointDir", "stage.dir", "wd.path", "wd.bz2",
      "wd.lexemes", "wd.mediainfo", "wd.mediainfo.bz2"))
  }

  test("src/main guards stored artifacts only through Stage") {
    // Stage.stored owns the artifact path, input stamp, lock and
    // _SUCCESS marker; Stage.writeOnce owns literal fixtures
    val stray = files(root, ".scala")
      .filterNot(_.getFileName.toString == "Stage.scala")
      .flatMap { f =>
        val src = Files.readString(f)
        Seq("_SUCCESS", "inputStamp(", "materializeOnce")
          .filter(src.contains).map(n => s"${root.relativize(f)}: $n")
      }
    assert(stray.isEmpty, stray.mkString(", "))
  }

  test("tools scripts parse and every recipe names a main that exists") {
    val scripts = files(Paths.get("tools"), ".sh")
    assert(scripts.nonEmpty)
    scripts.foreach { f =>
      val p = new ProcessBuilder("bash", "-n", f.toString)
        .redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      assert(p.waitFor() === 0, s"bash -n $f: $out")
    }
    val recipes = scripts ++ files(Paths.get("tools"), ".py") :+
      Paths.get("README.md")
    val named = recipes.flatMap { f =>
      "(?:runMain|--class)\\s+graft\\.([\\w.]+)".r
        .findAllMatchIn(Files.readString(f)).map(m => f -> m.group(1))
    }
    assert(named.exists(_._2 == "StreamSoak"), "no recipe runs the soak main")
    val dangling = named.filterNot { case (_, m) => mains(m) }
    assert(dangling.isEmpty, s"recipes name missing mains: $dangling")
  }

  test("every repo-root ledger that code, tools and recipes cite exists") {
    // Root ledgers are named in capitals (README.md, SCALE.md,
    // BENCH_r18.json); one that is gone is cited as
    // `git show <sha>:<name>`. Lower-case names here are run outputs.
    val sources = Seq("src", "tools", ".claude/skills").flatMap { d =>
      Seq(".scala", ".py", ".sh", ".md").flatMap(files(Paths.get(d), _))
    } ++ Seq(Paths.get("README.md"), Paths.get("build.sbt"))
    val cite = "(git show [0-9a-f]{7,40}:)?(?<![\\w./-])([A-Z][\\w-]*\\.(?:md|json))\\b".r
    val cited = sources.flatMap { f =>
      cite.findAllMatchIn(Files.readString(f))
        .collect { case m if m.group(1) == null => f -> m.group(2) }
    }
    assert(cited.exists(_._2 == "SURVEY.md"), "the scan finds no citation")
    val dangling = cited.filterNot { case (_, n) => Files.exists(Paths.get(n)) }
    assert(dangling.isEmpty, s"citations of missing root files: $dangling")
  }

  test("src/main builds a session in one place and reads SPARK_GRAFT_CPUS once") {
    assert(hits("SparkSession.builder()") === Seq("graft/Harness.scala"))
    assert(hits("\"SPARK_GRAFT_CPUS\"") === Seq("graft/Harness.scala"))
  }

  test("the codegen cache size is named in one place") {
    assert(hits("spark.sql.codegen.cache.maxEntries") ===
      Seq("graft/GraftExtensions.scala"))
    assert(hits("CodegenCacheEntries = ") === Seq("graft/GraftExtensions.scala"))
    // a build-level -D would hide whether the builder-time default works
    Seq("build.sbt", "perfbench/build.sbt").foreach { f =>
      assert(!Files.readString(Paths.get(f)).contains("codegen.cache"), f)
    }
  }

  test("src/main has one fixture reader, one bz2 writer and one Postgres export") {
    // dump-family fixtures load through Wd.Family only
    assert(hits("getResourceAsStream(") === Seq("graft/wikidata/Wd.scala"))
    assert(hits("new org.apache.hadoop.io.compress.BZip2Codec()") ===
      Seq("graft/Stage.scala"))
    // dump overrides are confs only, and the format is always detected
    assert(hits("\"SPARK_GRAFT_WD_") === Nil)
    assert(hits("spark.graft.wd.format") === Nil)
    // every load-and-read-back goes through PgServer.roundTrip
    assert(hits("\\\\copy (") === Seq("graft/sources/PgCopy.scala"))
  }

  test("Postgres staging lookups go through the one escaping LIKE helper") {
    // a hand-built LIKE literal leaves the target name's `_`/`%` as
    // wildcards; the promote's reap must match the name literally
    val pg = "graft/sources/PgCopy.scala"
    assert(!hits("LIKE '").contains(pg))
    assert(hits("LIKE ${stagingLike(").toSet === Set(pg))
    // the per-partition write lists no staging from the driver: the
    // server-side promote reaps in the same round trip
    assert(hits("listStaging") === Nil)
    assert(hits("dropStaging") === Nil)
  }

  test("the Postgres sink has one write path, one row encoder and one staging") {
    val pg = "graft/sources/PgCopy.scala"
    // one executor fan-out; the only \copy left is the round-trip export
    assert(hits(".foreachPartition").count(_ == pg) === 1)
    assert(hits("\\\\copy ") === Seq(pg))
    // both transports share one CSV row loop
    assert(hits("append(csvCell(") === Seq(pg))
    // the stream sink stages into the target's own epoch staging
    assert(!hits("__b$").contains(pg))
  }

  test("src/main swallows no cleanup failure silently") {
    // a cleanup that fails leaves a WARN naming its table, partition or
    // socket, or rides the in-flight exception as a suppressed one
    assert(hits("case _: Throwable => ()") === Nil)
  }
}
