package graft

import org.apache.spark.sql.SparkSession

/** Fixture staging through the Hadoop FileSystem API.
  *
  * Sample inputs for the scan_* keys are tiny literal fixtures that must
  * exist at a stable path for both Spark and the DuckDB oracle. They are
  * written through the *Hadoop* filesystem (not java.nio) so that on a
  * real cluster the bytes land on the cluster-visible default FS
  * (HDFS/S3A), readable by every executor; under local[*] the default FS
  * is file:// and the oracle reads the same local path. A driver-local
  * java.nio write would silently break on the first multi-node deploy.
  */
object Stage {
  /** Base directory for engine-managed artifacts (stored derived
    * tables, sink twins, scratch fixtures). Default `/tmp` keeps the
    * local gate zero-conf; on a multi-host cluster set this to a
    * path every executor AND the driver resolve to the same bytes
    * (an `hdfs://`/`s3a://` URI, or a shared mount) — per-executor
    * local `/tmp` would give each host its own partial copy of a
    * stored artifact (silent truncation, the caveat Verify.scala
    * documents). The two fixture paths baked into static oracle SQL
    * (`/tmp/graft_sample.csv`, `/tmp/graft_wd_entities.ndjson`) stay
    * fixed regardless — they are driver-written single files the
    * DuckDB oracle must read at a literal local path. */
  val DirConf = "spark.graft.stage.dir"

  /** Resolution order: session/`--conf` value, then the
    * `SPARK_GRAFT_STAGE_DIR` env (so every main — Verify, Bench,
    * Explain, the probes — honors the same switch without per-main
    * builder plumbing, and a spark-submit `--conf` is never
    * clobbered by a builder default), then `/tmp`. */
  def dir(s: SparkSession): String =
    s.conf.getOption(DirConf)
      .orElse(sys.env.get("SPARK_GRAFT_STAGE_DIR"))
      .getOrElse("/tmp")
      .stripSuffix("/")

  /** An engine-managed artifact path under the configured base. */
  def p(s: SparkSession, rel: String): String = s"${dir(s)}/$rel"

  /** Like [[p]], but for scratch files written by an OS process
    * (psql's `\copy TO` writes through the C library, not Hadoop): a
    * schemeful stage dir (`hdfs://`, `s3a://`) would make psql write a
    * literal `hdfs:/...` LOCAL path while the executor read looks in
    * HDFS — silent divergence (round-15 advice). Fail fast instead;
    * on clusters point the stage dir at a shared POSIX mount (NFS)
    * for the pg round-trip keys, or leave it default. */
  def posixP(s: SparkSession, rel: String): String = {
    val base = dir(s)
    require(!base.contains("://") && base.startsWith("/"),
      s"$DirConf=$base is not a plain POSIX path; psql-written scratch " +
      "files need a filesystem path visible to both the driver-host " +
      "psql process and the executors (e.g. a shared NFS mount)")
    s"$base/$rel"
  }

  def fs(s: SparkSession, path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Overwrite `path` with `bytes` on the default Hadoop FS. */
  def write(s: SparkSession, path: String, bytes: Array[Byte]): String =
    synchronized {
      val p = new org.apache.hadoop.fs.Path(path)
      val out = fs(s, path).create(p, true)
      try out.write(bytes) finally out.close()
      path
    }

  /** Open `path` for writing on the default Hadoop FS (caller closes). */
  def create(s: SparkSession, path: String): java.io.OutputStream =
    fs(s, path).create(new org.apache.hadoop.fs.Path(path), true)

  def exists(s: SparkSession, path: String): Boolean =
    fs(s, path).exists(new org.apache.hadoop.fs.Path(path))

  /** Check-then-write under the staging lock: run `write` only if
    * `path/_SUCCESS` is absent, then return `path`. The lock closes the
    * race where two concurrently-invoked queries both see no marker and
    * overwrite the same /tmp twin mid-read. */
  def materializeOnce(s: SparkSession, path: String)(write: => Unit): String =
    synchronized {
      if (!exists(s, s"$path/_SUCCESS")) write
      path
    }

  /** Cheap input fingerprint for derived-table cache paths: FNV-1a over
    * each source path's name, total length, and newest modification
    * time (recursive content summary + file statuses — metadata only,
    * no data scan).
    *
    * Derived /tmp twins (graph edge lists, dedup component labels,
    * sorted/z-ordered lineitem copies) are keyed by scale-dir tag and
    * guarded by a `_SUCCESS` marker, which is correct until the driver
    * regenerates the fixtures IN PLACE (it has: round 5) — then a
    * stale marker would silently serve derived data from the previous
    * fixture generation. Folding this stamp into the path makes a
    * regenerated input resolve to a FRESH path (old caches are simply
    * abandoned), so staleness is structurally impossible rather than
    * policed. A rewrite with identical bytes also rotates the path
    * (mtime moved) — one redundant rebuild, never a wrong answer. */
  def inputStamp(s: SparkSession, paths: String*): String = {
    var acc = 0xcbf29ce484222325L
    def mix(v: Long): Unit = { acc ^= v; acc *= 0x100000001b3L }
    paths.foreach { p =>
      val f = fs(s, p)
      val hp = new org.apache.hadoop.fs.Path(p)
      mix(p.hashCode.toLong)
      if (f.exists(hp)) {
        val sum = f.getContentSummary(hp)
        mix(sum.getLength)
        val newest =
          if (f.getFileStatus(hp).isFile) f.getFileStatus(hp).getModificationTime
          else f.listStatus(hp).map(_.getModificationTime).foldLeft(0L)(math.max)
        mix(newest)
      }
    }
    java.lang.Long.toHexString(acc)
  }
}
