package graft

import java.io.ByteArrayOutputStream
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.wikidata.{EntitySchema, Wd}

/** The gzip dump variant (round-17 verdict 3): `latest-all.json.gz` is
  * the most-mirrored form of the public dump. Hadoop's codec
  * decompresses it transparently on both reader paths — but as ONE
  * split per file, so the scale story is `Wd.rechunk` (one bounded
  * streaming pass → N splittable parts). These pin (a) .gz NDJSON and
  * .gz array-wrapped dumps parse row-identical to their plain twins,
  * (b) format auto-detection peeks THROUGH the codec, (c) rechunk is
  * row-identical for both layouts with the exact part fan-out, and
  * (d) rechunk round-trips bz2 output. The 1M-entity single-split
  * reality and the re-chunked speedup are measured in SCALE.md
  * round-17.
  */
class GzSpec extends AnyFunSuite {
  lazy val spark = Spec.spark

  private def gzBytes(b: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(b); gz.close()
    bos.toByteArray
  }

  private def fileBytes(path: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select(col("id"), col("lastrevid"),
        coalesce(size(col("labels")), lit(0)),
        coalesce(size(col("claims")), lit(0)))
      .collect().map(_.mkString("|")).toSet

  private lazy val plainRows = rowsOf(
    spark.read.schema(EntitySchema.entity).json(Wd.entityDump.stage(spark)))

  test("gz NDJSON dump parses row-identical to the plain fixture") {
    val p = Stage.p(spark, "graft_gzspec_plain.ndjson.gz")
    Stage.write(spark, p, gzBytes(fileBytes(Wd.entityDump.stage(spark))))
    val df = Wd.readDump(spark, p, EntitySchema.entity)
    assert(rowsOf(df) === plainRows)
  }

  test("gz array-wrapped dump auto-detects through the codec and parses") {
    val p = Stage.p(spark, "graft_gzspec_array.json.gz")
    Stage.write(spark, p, gzBytes(fileBytes(Wd.ensureArrayFixture(spark))))
    assert(Wd.isArrayDump(spark, p))
    assert(rowsOf(Wd.readDump(spark, p, EntitySchema.entity)) === plainRows)
  }

  test("rechunk of a gz NDJSON dump is row-identical with exact fan-out") {
    val src = Stage.p(spark, "graft_gzspec_rc_src.ndjson.gz")
    Stage.write(spark, src, gzBytes(fileBytes(Wd.entityDump.stage(spark))))
    val out = Stage.p(spark, "graft_gzspec_rc_plain")
    val n = Wd.rechunk(spark, src, out, parts = 4)
    assert(n === 12) // 10 entities + 2 redirect stubs
    val parts = new java.io.File(out).listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length === 4)
    assert(rowsOf(Wd.readDump(spark, out, EntitySchema.entity)) === plainRows)
  }

  test("rechunk keeps the wrapped layout detectable (`[` lands in part-00000)") {
    val src = Stage.p(spark, "graft_gzspec_rcw_src.json.gz")
    Stage.write(spark, src, gzBytes(fileBytes(Wd.ensureArrayFixture(spark))))
    val out = Stage.p(spark, "graft_gzspec_rc_wrapped")
    val n = Wd.rechunk(spark, src, out, parts = 3)
    assert(n === 14) // [ + 12 entity lines + ]
    assert(Wd.isArrayDump(spark, out))
    assert(rowsOf(Wd.readDump(spark, out, EntitySchema.entity)) === plainRows)
  }

  test("rechunk bz2 output round-trips (block-splittable scale form)") {
    val src = Stage.p(spark, "graft_gzspec_rcb_src.ndjson.gz")
    Stage.write(spark, src, gzBytes(fileBytes(Wd.entityDump.stage(spark))))
    val out = Stage.p(spark, "graft_gzspec_rc_bz2")
    Wd.rechunk(spark, src, out, parts = 2, codec = "bz2")
    val parts = new java.io.File(out).listFiles().map(_.getName).sorted
    assert(parts.count(_.endsWith(".bz2")) === 2)
    assert(rowsOf(Wd.readDump(spark, out, EntitySchema.entity)) === plainRows)
  }

  test("format re-detection on a rewritten path (no stale cache decision)") {
    // Round-16 advice 2: the SAME path rewritten with the OTHER layout
    // in one JVM must be re-detected, not served a stale cached format
    // (which would silently null every row).
    val p = Stage.p(spark, "graft_gzspec_rewrite.json")
    Stage.write(spark, p, fileBytes(Wd.entityDump.stage(spark)))
    assert(!Wd.isArrayDump(spark, p))
    // Rewrite with the wrapped twin; bump mtime explicitly — a
    // same-millisecond rewrite with identical length is otherwise
    // indistinguishable by metadata (documented cache granularity).
    Stage.write(spark, p, fileBytes(Wd.ensureArrayFixture(spark)))
    new java.io.File(p).setLastModified(System.currentTimeMillis() + 2000)
    assert(Wd.isArrayDump(spark, p))
  }

  test("empty leading part does not flip detection to ndjson") {
    // Round-16 advice 4: a multi-part wrapped dump whose
    // lexicographically-first part decompresses to zero bytes (n <
    // partitions at generation) must still detect as array.
    val dir = Stage.p(spark, "graft_gzspec_emptyhead")
    new java.io.File(dir).mkdirs()
    Stage.write(spark, s"$dir/part-00000.gz", gzBytes(Array.emptyByteArray))
    Stage.write(spark, s"$dir/part-00001.gz",
      gzBytes(fileBytes(Wd.ensureArrayFixture(spark))))
    assert(Wd.isArrayDump(spark, dir))
    assert(rowsOf(Wd.readDump(spark, dir, EntitySchema.entity)) === plainRows)
  }
}
