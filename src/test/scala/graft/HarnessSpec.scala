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
    assert(r.rows === q(spark, Spec.sf001).count())
  }

  test("src/main builds a session in one place and reads SPARK_GRAFT_CPUS once") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val files: Seq[Path] = {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally st.close()
    }
    def hits(needle: String): Seq[String] = files.flatMap { f =>
      val n = Pattern.quote(needle).r.findAllMatchIn(Files.readString(f)).size
      Seq.fill(n)(root.relativize(f).toString)
    }
    assert(hits("SparkSession.builder()") === Seq("graft/Harness.scala"))
    assert(hits("\"SPARK_GRAFT_CPUS\"") === Seq("graft/Harness.scala"))
  }
}
