package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Stage, Tables}

/** Multimodal-column operators (SURVEY.md §2.10): media as opaque
  * binary columns with typed metadata, bundled into one struct column.
  *
  * The decode stage is a clearly-marked STUB (no image/audio libs in
  * this container): the Spark-side plumbing — binary schema, struct
  * metadata, per-partition batching via mapPartitions (the seam where a
  * real decoder library is called once per batch, amortizing model/lib
  * init), deterministic output schema — is real and tested.
  */
object Multimodal {
  type Q = (SparkSession, String) => DataFrame

  /** STUB decoder: stands in for image/audio decode + feature extract.
    * Deterministic rolling checksum so tests can golden it. A real
    * implementation replaces ONLY this function body (e.g. JNI decode →
    * resize → feature vector). */
  def stubDecodeFeature(bytes: Array[Byte]): Long =
    if (bytes == null) -1L
    else bytes.foldLeft(0L)((acc, b) => (acc * 31 + (b & 0xff)) % 1000003L)

  /** Fixed blob fixture for scan_binaryfile: name → content bytes.
    * Sizes straddle a kilobyte so length is a real signal. */
  private val blobFixture: Seq[(String, Array[Byte])] = Seq(
    "img_0001.bin" -> Array.tabulate(1536)(i => ((i * 7 + 13) % 251).toByte),
    "img_0002.bin" -> Array.tabulate(777)(i => ((i * 31 + 5) % 253).toByte),
    "aud_0001.bin" -> Array.tabulate(2048)(i => ((i * 17 + 99) % 249).toByte))

  /** Hot-bucket cap for the pHash LSH self-join — same clique→star
    * threshold as the minhash/simhash family (DedupOps.MinhashBandCap):
    * a (band, key) bucket beyond this degrades to a star around its
    * min-doc_id representative, O(bucket) not O(bucket²). */
  private val PhashBandCap = 1000

  private def sha256Hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"${x & 0xff}%02x").mkString

  /** 60-bit segment-mean perceptual hash over a raw payload — the
    * decode-seam kernel of multimodal_phash (package-visible so the
    * spec can assert collision/locality properties on constructed
    * payloads). Bit j is set iff segment j's byte mean exceeds the
    * whole-payload mean, compared as exact integer cross-products. */
  private[graft] def phash60(bytes: Array[Byte]): Long = {
    val segs = 60
    val n = bytes.length
    if (n == 0) return 0L
    val sums = new Array[Long](segs)
    val cnts = new Array[Long](segs)
    var tot = 0L
    var i = 0
    while (i < n) {
      val j = (i.toLong * segs / n).toInt
      val v = (bytes(i) & 0xff).toLong
      sums(j) += v; cnts(j) += 1; tot += v; i += 1
    }
    var h = 0L
    var j = 0
    while (j < segs) {
      if (sums(j) * n > tot * cnts(j)) h |= 1L << j
      j += 1
    }
    h
  }

  /** pHash LSH near-dup pairs with the clique→star hot-bucket cap —
    * the multimodal_phash pipeline, factored out so a spec can run it
    * capped vs uncapped on an injected mass-duplicate corpus (docs
    * needs doc_id + text). */
  private[graft] def phashPairs(docs: DataFrame,
      bucketCap: Int = PhashBandCap): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val media = docs
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text").cast(BinaryType).as("media"))
      .as[(Long, Array[Byte])]
    // Round-17 (opt): checkpointed once — the decode+hash map is this
    // pipeline's expensive per-row work and the self-join arms plus the
    // hot arm are three consumers with no planner exchange reuse (the
    // simhashPairs finding); 1 row/doc of (doc_id, phash).
    val hashed = graft.Ckpt.df(
      media.map { case (id, bytes) => (id, phash60(bytes)) }
        .toDF("doc_id", "phash"))
    val bands = hashed.select(col("doc_id"), col("phash"),
        explode(sequence(lit(0), lit(5))).as("bd"))
      .withColumn("key",
        expr("shiftright(phash, bd * 10)").bitwiseAND(lit(1023L)))
    // Hotness is per BUCKET, but the star rep is per (bucket, phash)
    // GROUP: a 10-bit band key collides freely, so a hot bucket can
    // contain docs unrelated to the mega-cluster that made it hot —
    // a bucket-global min-id rep could then be a FOREIGN doc whose
    // hamming to the cluster exceeds the radius, silently severing
    // every cluster member (caught by PhashCapProbe, round-16).
    // Grouping the star by phash pins hamming(rep, member) = 0 by
    // construction; the group window reuses the (bd, key) shuffle
    // (partitioning on a prefix satisfies the clustered distribution
    // — only an extra in-partition sort).
    val wBucket = Window.partitionBy("bd", "key")
    val wGroup = Window.partitionBy("bd", "key", "phash").orderBy("doc_id")
    // rep (ordered window) FIRST, bn (orderless) second: bn's required
    // ordering is just the partition keys, a prefix of rep's sort, so
    // the two windows share ONE sort; the reverse order plans two.
    val annotated = bands
      .withColumn("rep", first(col("doc_id")).over(wGroup))
      .withColumn("bn", count(lit(1)).over(wBucket))
    val cold = annotated.filter(col("bn") <= bucketCap)
    val l = cold.select(col("bd"), col("key"),
      col("doc_id").as("a"), col("phash").as("ha"))
    val r = cold.select(col("bd").as("bd2"), col("key").as("key2"),
      col("doc_id").as("bid"), col("phash").as("hb"))
    val coldPairs = l.join(r,
        col("bd") === col("bd2") && col("key") === col("key2") &&
          col("a") < col("bid"))
      .select(col("a"), col("bid"), col("ha"), col("hb"))
    // hot bucket → star around each phash group's min-id rep (rep <
    // member by construction, so a < b without a join; ha = hb)
    val hotPairs = annotated
      .filter(col("bn") > bucketCap && col("doc_id") =!= col("rep"))
      .select(col("rep").as("a"), col("doc_id").as("bid"),
        col("phash").as("ha"), col("phash").as("hb"))
    coldPairs.union(hotPairs).distinct()
      .withColumn("hamming", expr("bit_count(ha ^ hb)").cast(IntegerType))
      .filter(col("hamming") <= 14)
      .select(col("a"), col("bid").as("b"), col("hamming"))
      .orderBy("a", "b")
  }

  val queries: Map[String, Q] = Map(
    "scan_binaryfile" -> ((s, _) => {
      // The multimodal INGEST path: raw media files enter Spark through
      // the binaryFile source as (path, modificationTime, length,
      // content) — this is how a 100 TB image corpus starts. The scan
      // parallelizes per file (small files pack into tasks under
      // maxPartitionBytes); the projection here builds the content-
      // addressed manifest (name, length, sha-256) that multimodal_
      // digest then dedups on. Fixture blobs stage once per session.
      val dir = Stage.p(s, "graft_blobs")
      Stage.materializeOnce(s, dir) {
        blobFixture.foreach { case (n, b) => Stage.write(s, s"$dir/$n", b) }
        Stage.write(s, s"$dir/_SUCCESS", Array.emptyByteArray)
      }
      s.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(dir)
        .select(element_at(split(col("path"), "/"), -1).as("name"),
          col("length"), sha2(col("content"), 256).as("sha256"))
        .orderBy("name")
    }),

    "multimodal_bundle" -> ((s, d) => {
      // One struct column bundling text + vector + typed metadata;
      // nested field access + nested filter. Parquet nested-schema
      // pruning keeps the scan narrow when only m.meta.* is selected.
      Tables.documents(s, d)
        .join(Tables.embeddings(s, d), col("doc_id") === col("vec_id"))
        .select(col("doc_id"), struct(
          col("text").as("text"),
          col("embedding").as("embedding"),
          struct(col("lang").as("lang"), col("source").as("source"),
            col("n_chars").as("n_chars")).as("meta")).as("m"))
        .filter(col("m.meta.lang") === "en" && size(col("m.embedding")) === 64)
        .select(col("doc_id"),
          col("m.meta.source").as("source"),
          col("m.meta.n_chars").as("n_chars"),
          size(col("m.embedding")).as("dim"))
        .orderBy("doc_id")
    }),

    "multimodal_digest" -> ((s, d) => {
      // Content addressing over the opaque media column: sha-256 of the
      // raw bytes is the storage key a multimodal lake dedups on
      // (identical image/audio payloads collapse to one stored object
      // regardless of metadata). Per blob: digest, size, and the
      // first-writer-wins canonical flag (lowest doc_id per digest) —
      // the row set a CAS ingest persists. Map-side hash + one
      // digest-partitioned window; at 100 TB the window input is
      // (digest, doc_id) pairs only, never the payload bytes.
      val w = Window.partitionBy("digest").orderBy("doc_id")
      Tables.documents(s, d)
        .select(col("doc_id"), col("text").cast(BinaryType).as("media"))
        .select(col("doc_id"), sha2(col("media"), 256).as("digest"),
          length(col("media")).as("n_bytes"))
        .withColumn("is_canonical", row_number().over(w) === 1)
        .orderBy("doc_id")
    }),

    "multimodal_frames" -> ((s, d) => {
      // Frame sampling over an opaque media payload: every k-th
      // fixed-size byte window becomes a "frame" row with its own
      // deterministic feature — the explode-then-process shape a video
      // pipeline uses (sampling happens BEFORE decode, so 97% of frames
      // are never decoded). The byte-windowing stands in for container
      // parsing; the plumbing (binary slices, per-frame rows, batch
      // seam) is real.
      import s.implicits._
      val frameSize = 64
      val stride = 4 // sample every 4th frame
      val media = Tables.documents(s, d)
        .select(col("doc_id"), col("text").cast(BinaryType).as("media"))
        .as[(Long, Array[Byte])]
      media.flatMap { case (id, bytes) =>
        if (bytes == null) Iterator.empty
        else bytes.grouped(frameSize).zipWithIndex
          .filter(_._2 % stride == 0)
          .map { case (frame, idx) =>
            (id, idx, frame.length, stubDecodeFeature(frame))
          }
      }.toDF("doc_id", "frame_idx", "n_bytes", "feature")
        .orderBy("doc_id", "frame_idx")
    }),

    "multimodal_decode" -> ((s, d) => {
      // Binary media column (text bytes stand in for image payloads) →
      // per-partition batched "decode". mapPartitions keeps the decoder
      // call per-batch, the 100 TB shape for expensive per-row codecs.
      import s.implicits._
      val media = Tables.documents(s, d)
        .select(col("doc_id"),
          col("text").cast(BinaryType).as("media"),
          (col("doc_id") % 640 + 32).cast(IntegerType).as("width"),
          (col("doc_id") % 480 + 32).cast(IntegerType).as("height"))
        .as[(Long, Array[Byte], Int, Int)]
      media.mapPartitions { batch =>
        batch.map { case (id, bytes, w, h) =>
          (id, if (bytes == null) 0 else bytes.length, w * h,
            stubDecodeFeature(bytes))
        }
      }.toDF("doc_id", "n_bytes", "n_pixels", "feature")
        .orderBy("doc_id")
    }),

    "multimodal_phash" -> ((s, d) => {
      // Perceptual-hash near-duplicate detection over the opaque media
      // column — the image-dedup primitive (a resized/re-encoded image
      // keeps a close pHash while its sha-256 changes completely).
      // Stages: (1) decode seam — per-row "decode + pHash": 60 segment
      // brightness sums over the payload bytes, bit j set iff segment
      // j's mean exceeds the whole-payload mean (compared as exact
      // integer cross-products, no division), packed into a 60-bit
      // BIGINT. A real image pipeline replaces ONLY this map with
      // decode → grayscale → 8×8 DCT; everything downstream is
      // unchanged. (2) LSH banding, fully declarative: 6 bands × 10
      // bits — any pair within Hamming radius 5 has ≤5 dirty bands, so
      // at least one of the 6 matches exactly: recall 1.0 up to radius
      // 5 by construction, best-effort (standard LSH odds) out to the
      // reporting radius 14, never an all-pairs join. Both engines
      // derive the IDENTICAL candidate set from the same bands, so the
      // probabilistic recall never touches the hash gate. At 100 TB
      // the band join shuffles (band, key) buckets of ~N/2¹⁰ docs;
      // hot buckets (giant near-dup clusters — one logo, 10⁶ copies)
      // get the dedup_near_minhash clique→star cap (round-16): inside
      // a bucket over the cap, each PHASH GROUP stars around its own
      // min-doc_id representative, bounding the bucket's join cost to
      // O(bucket) instead of O(bucket²). Exact copies share an
      // identical pHash, so every member pairs with its rep at
      // hamming 0 REGARDLESS of what else collided into the 10-bit
      // bucket, and the radius-5 drop set multimodal_dedup consumes
      // stays complete for them; a genuinely-near-but-unequal pair
      // inside a hot bucket survives iff any of its 5 other bands is
      // cold — the same bounded recall loss the minhash family
      // documents. One (bd, key) shuffle feeds both window passes AND
      // the cold self-join.
      phashPairs(Tables.documents(s, d))
    }),

    "multimodal_dedup" -> ((s, d) => {
      // APPLIED media dedup — the corpus after dropping perceptual
      // near-duplicates: every doc that is the higher-id side of a
      // pair within Hamming radius 5, where the 6×10-bit banding's
      // recall is 1.0 BY CONSTRUCTION (≤5 dirty bits can dirty at
      // most 5 of 6 bands). The hot-bucket star cap composes with
      // this: an exact-copy mega-cluster keeps every member paired
      // with its rep at hamming 0, so all non-rep members still drop;
      // a near-but-unequal pair inside a hot bucket drops via any of
      // its cold bands (the minhash family's documented bounded loss).
      // Deterministic either way — the oracle replays the identical
      // cap — which is what lets an apply step exist at all. One
      // broadcast-able anti-join against the rare-duplicate slice —
      // the dedup_apply / dedup_semantic_apply production shape.
      val drop = queries("multimodal_phash")(s, d)
        .filter(col("hamming") <= 5)
        .select(col("b").as("doc_id")).distinct()
      Tables.documents(s, d)
        .join(drop, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    })
  )

  val oracles: Map[String, String] = Map(
    // scan_bz2_text technique: the oracle is generated from the SAME
    // fixture literal the scan stages, with the digests computed by the
    // JVM's MessageDigest — a hash-gate match proves Spark's binaryFile
    // content bytes and sha2() agree with an independent SHA-256.
    "scan_binaryfile" ->
      s"""SELECT * FROM (VALUES ${
        blobFixture.map { case (n, b) =>
          s"('$n', CAST(${b.length} AS BIGINT), '${sha256Hex(b)}')"
        }.mkString(", ")}) t(name, length, sha256)
         ORDER BY name""",

    "multimodal_bundle" ->
      """SELECT doc_id, source, n_chars, CAST(len(embedding) AS INTEGER) AS dim
         FROM documents JOIN embeddings ON doc_id = vec_id
         WHERE lang = 'en' AND len(embedding) = 64
         ORDER BY doc_id""",

    // DuckDB sha256 hashes the VARCHAR's UTF-8 bytes; the corpus is
    // pure ASCII (the multimodal_decode argument), so those are exactly
    // the bytes Spark's BINARY cast hashes — identical lowercase hex.
    "multimodal_digest" ->
      """SELECT doc_id, sha256(text) AS digest,
             CAST(length(text) AS INTEGER) AS n_bytes,
             (row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id)
              = 1) AS is_canonical
         FROM documents ORDER BY doc_id""",

    // Mirrors the byte-window sampling + rolling checksum exactly. The
    // corpus is pure ASCII (verified: octet_length(encode(text)) =
    // length(text) at every sf), so character windows == byte windows
    // and unicode(char) == the byte value the Spark side hashes; the
    // fold replays (acc*31 + b) % 1000003 via list_reduce with a
    // prepended 0 seed.
    // Same ASCII-equivalence argument as multimodal_frames, over the
    // whole payload; the CASE keeps the empty-document row at feature 0
    // exactly like the stub's empty fold.
    "multimodal_decode" ->
      """SELECT doc_id,
             CAST(length(text) AS INTEGER) AS n_bytes,
             CAST((doc_id % 640 + 32) * (doc_id % 480 + 32) AS INTEGER) AS n_pixels,
             CASE WHEN length(text) = 0 THEN 0
                  ELSE list_reduce(list_prepend(CAST(0 AS BIGINT),
                    [unicode(substring(text, CAST(i AS INTEGER), 1))
                     FOR i IN range(1, CAST(length(text) AS INTEGER)+1)]),
                    (acc, x) -> (acc * 31 + x) % 1000003) END AS feature
         FROM documents ORDER BY doc_id""",

    "multimodal_frames" ->
      """WITH fr AS (
           SELECT doc_id, text,
                  unnest(range(0, CAST(ceil(length(text)/64.0) AS BIGINT))) AS k
           FROM documents),
         frames AS (
           SELECT doc_id, k, substring(text, CAST(k*64+1 AS INTEGER), 64) AS frame
           FROM fr WHERE k % 4 = 0)
         SELECT doc_id, CAST(k AS INTEGER) AS frame_idx,
                CAST(length(frame) AS INTEGER) AS n_bytes,
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  [unicode(substring(frame, CAST(i AS INTEGER), 1))
                   FOR i IN range(1, CAST(length(frame) AS INTEGER)+1)]),
                  (acc, x) -> (acc * 31 + x) % 1000003) AS feature
         FROM frames ORDER BY doc_id, frame_idx""",

    // Replays the 60-segment pHash per character (ASCII corpus: char
    // windows == byte windows, unicode(char) == byte value), the bit
    // rule as the same integer cross-product, and the 6×10-bit band
    // join. DuckDB sum() widens to HUGEINT — cast back before hashing.
    "multimodal_phash" ->
      s"""WITH $PhashCtes
         SELECT a, b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
         FROM cand WHERE bit_count(xor(ha, hb)) <= 14
         ORDER BY a, b""",

    // Same pHash + band CTE chain; the APPLIED dedup drops the higher-id
    // side of every pair inside the exact-recall radius 5 (where LSH
    // recall is 1.0 by construction, so the drop set is complete and
    // deterministic, never probabilistic).
    "multimodal_dedup" ->
      s"""WITH $PhashCtes
         SELECT d.doc_id, d.source, d.n_chars FROM documents d
         WHERE d.doc_id NOT IN (
           SELECT b FROM cand WHERE bit_count(xor(ha, hb)) <= 5)
         ORDER BY d.doc_id"""
  )

  /** pHash → LSH-band candidate CTE chain (through `cand`), shared by
    * multimodal_phash and multimodal_dedup. (lazy: referenced from the
    * `oracles` val above — a strict val here would still be null at
    * that point in object initialization order.) */
  private lazy val PhashCtes: String =
    """docs AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
                       FROM documents WHERE length(text) > 0),
         ch AS (SELECT doc_id, n,
                       unicode(substring(text, CAST(i AS INTEGER), 1)) AS v,
                       ((i - 1) * 60) // n AS j
                FROM (SELECT doc_id, text, n,
                             unnest(range(1, n + 1)) AS i
                      FROM docs)),
         seg AS (SELECT doc_id, j, sum(v) AS sv, count(*) AS c
                 FROM ch GROUP BY doc_id, j),
         tot AS (SELECT doc_id, any_value(n) AS n, sum(v) AS tv
                 FROM ch GROUP BY doc_id),
         ph AS MATERIALIZED (
           SELECT t.doc_id,
                  CAST(sum(CASE WHEN s.sv * t.n > t.tv * s.c
                                THEN 1::BIGINT << CAST(s.j AS INTEGER)
                                ELSE 0 END) AS BIGINT) AS phash
           FROM seg s JOIN tot t ON s.doc_id = t.doc_id
           GROUP BY t.doc_id),
         bands AS (SELECT doc_id, phash,
                          (phash >> CAST(bd * 10 AS INTEGER)) & 1023 AS key,
                          bd
                   FROM (SELECT doc_id, phash,
                                unnest(range(0, 6)) AS bd FROM ph)),
         ann AS (SELECT doc_id, phash, key, bd,
                        count(*) OVER (PARTITION BY bd, key) AS bn,
                        min(doc_id) OVER (PARTITION BY bd, key, phash) AS rep
                 FROM bands),
         cold AS (SELECT x.doc_id AS a, y.doc_id AS b,
                         x.phash AS ha, y.phash AS hb
                  FROM ann x JOIN ann y
                    ON x.bd = y.bd AND x.key = y.key
                   AND x.doc_id < y.doc_id
                  WHERE x.bn <= 1000 AND y.bn <= 1000),
         hot AS (SELECT rep AS a, doc_id AS b, phash AS ha, phash AS hb
                 FROM ann WHERE bn > 1000 AND doc_id <> rep),
         cand AS (SELECT DISTINCT a, b, ha, hb FROM
                  (SELECT * FROM cold UNION ALL SELECT * FROM hot))"""
}
