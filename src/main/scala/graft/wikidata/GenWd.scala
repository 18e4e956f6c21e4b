package graft.wikidata

/** Dev-tool main: synthesize a Wikidata-shaped entity NDJSON dump at
  * arbitrary entity count, so the wd_* family's scaling exponents can
  * be MEASURED like every other family's (r11 verdict task 4 — the
  * checked-in 10-entity fixture gives the family 0.00 MB fingerprints
  * and no three-point timing).
  *
  * Shape follows the public Wikibase JSON format spec, same as the
  * hand-written fixture (src/main/resources/wd_entities.ndjson): every
  * field EntitySchema declares is exercised — multi-language labels /
  * descriptions / aliases, claims over a long-tail property
  * distribution (9 hot properties + ~2k tail, like the real dump's
  * skew), all seven datavalue shapes the typed extractor handles
  * (wikibase-item, time, quantity, string, globe-coordinate,
  * monolingualtext, url), somevalue/novalue snaks, the full rank mix,
  * qualifiers + qualifiers-order, references with multi-snak groups,
  * sitelinks with badges, and label-less entities (every 97th) for the
  * fallback paths.
  *
  * Determinism rule (SURVEY §7.4): derive, never draw — every field is
  * a pure function of the entity index via a splitmix64-style mixer
  * (public-domain constant schedule), so re-generation is
  * byte-identical and scale points differ only in N. All generated
  * strings are ASCII-safe by construction (fixed pools + digits), so
  * JSON assembles by concatenation with no escaping pass.
  *
  * Generation is embarrassingly parallel: spark.range(n) partitions
  * fan the per-entity build across executors, and the writer emits a
  * plain-text dump plus a bz2 twin (block-splittable, what the etl_*
  * ingest path reads). ~1.3 KB/entity → 1M entities ≈ 1.3 GB plain.
  *
  * Usage: runMain graft.wikidata.GenWd <outDir> <nEntities> [partitions] [flags]
  *   flags: comma list of `bz2only` (skip the plain twin) and `zipf`
  *   (power-law property + label-count skew instead of the default
  *   80/20 two-band split — the realistic-dump twin for skew honesty)
  *   writes <outDir>/plain (NDJSON) and <outDir>/bz2 (same lines, bz2)
  * Point the queries at it with spark.graft.wd.path=<outDir>/plain
  * (or env SPARK_GRAFT_WD_NDJSON) and spark.graft.wd.bz2=<outDir>/bz2
  * (or SPARK_GRAFT_WD_BZ2); unset, everything uses the checked-in
  * fixture exactly as before.
  */
object GenWd {
  // splitmix64 finalizer — the standard public-domain mix schedule.
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  private def fm(x: Long, m: Int): Int = java.lang.Math.floorMod(x, m.toLong).toInt
  private def fmL(x: Long, m: Long): Long = java.lang.Math.floorMod(x, m)

  private val langs = Array("en", "de", "fr", "es", "zh", "ru", "ja", "pt")
  private val sites = Array("enwiki", "dewiki", "frwiki", "eswiki")

  private def langValue(lang: String, value: String): String =
    s"""{"language":"$lang","value":"$value"}"""

  /** One snak. kind selects the datavalue shape; snaktype != value
    * omits the datavalue entirely (as the spec does). */
  private def snak(prop: String, g: Long): String = {
    val st = if (fm(g, 29) == 0) "somevalue"
             else if (fm(g, 31) == 0) "novalue" else "value"
    val kind = fm(g >>> 5, 7)
    val dt = kind match {
      case 0 => "wikibase-item"
      case 1 => "time"
      case 2 => "quantity"
      case 3 => "string"
      case 4 => "globe-coordinate"
      case 5 => "monolingualtext"
      case 6 => "url"
    }
    if (st != "value")
      s"""{"snaktype":"$st","property":"$prop","datatype":"$dt"}"""
    else {
      val n = fm(g >>> 12, 1000000)
      val dv = kind match {
        case 0 =>
          s"""{"value":{"entity-type":"item","numeric-id":$n,"id":"Q$n"},"type":"wikibase-entityid"}"""
        case 1 =>
          val y = 1800 + fm(g >>> 20, 250)
          val mo = 1 + fm(g >>> 28, 12)
          s"""{"value":{"time":"+$y-${f"$mo%02d"}-01T00:00:00Z","timezone":0,"before":0,"after":0,"precision":${9 + fm(g >>> 33, 3)},"calendarmodel":"http://www.wikidata.org/entity/Q1985727"},"type":"time"}"""
        case 2 =>
          val amt = s"+${fm(g >>> 20, 100000)}.${fm(g >>> 37, 100)}"
          val bounds = if (fm(g >>> 40, 3) == 0)
            s""","upperBound":"$amt","lowerBound":"$amt"""" else ""
          s"""{"value":{"amount":"$amt","unit":"1"$bounds},"type":"quantity"}"""
        case 3 =>
          s"""{"value":"sv $n","type":"string"}"""
        case 4 =>
          val lat = fm(g >>> 20, 18000) / 100.0 - 90.0
          val lon = fm(g >>> 36, 36000) / 100.0 - 180.0
          s"""{"value":{"latitude":$lat,"longitude":$lon,"precision":0.01,"globe":"http://www.wikidata.org/entity/Q2"},"type":"globecoordinate"}"""
        case 5 =>
          s"""{"value":{"text":"mono $n","language":"${langs(fm(g >>> 20, langs.length))}"},"type":"monolingualtext"}"""
        case 6 =>
          s"""{"value":"http://example.org/e$n","type":"string"}"""
      }
      s"""{"snaktype":"value","property":"$prop","datatype":"$dt","datavalue":$dv}"""
    }
  }

  /** Long-tail property id: 80% of statements land on 9 hot pids, the
    * rest spread over ~2k — the real dump's skew shape, which is what
    * makes wd_property_stats' groupBy(pid) worth measuring. */
  private def pid(g: Long): String =
    if (fm(g, 5) < 4) s"P${1 + fm(g >>> 3, 9)}"
    else s"P${10 + fm(g >>> 3, 1991)}"

  // ---- zipf mode (round-14 verdict 2): the default two-band 80/20
  // split understates the real dump's skew — property frequencies are
  // a POWER LAW (P31-like ids on a large share of ALL statements, a
  // long thin tail), and label counts are power-law too. The tables
  // below are pure functions of (s, N): derive, never draw — the same
  // entity index always produces the same dump line.

  /** Zipf(s=1.1) CDF over the 2000-property id space. */
  private val zipfCdf: Array[Double] = {
    val n = 2000
    val w = Array.tabulate(n)(r => math.pow(r + 1.0, -1.1))
    val total = w.sum
    val c = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += w(i) / total; c(i) = acc; i += 1 }
    c(n - 1) = 1.0
    c
  }

  /** Power-law extra-label-count CDF: p(k) ∝ (k+1)⁻² over 0..7 — most
    * entities one label, a thin many-language tail (capped by the
    * fixed lang pool; the real dump's hubs reach hundreds). */
  private val labelCdf: Array[Double] = {
    val w = Array.tabulate(8)(k => math.pow(k + 1.0, -2.0))
    val total = w.sum
    val c = new Array[Double](8)
    var acc = 0.0
    var i = 0
    while (i < 8) { acc += w(i) / total; c(i) = acc; i += 1 }
    c(7) = 1.0
    c
  }

  /** 53-bit uniform in [0,1) from the mixed bits, then inverse CDF. */
  private def invCdf(cdf: Array[Double], g: Long): Int = {
    val u = (g >>> 11).toDouble / (1L << 53).toDouble
    val i = java.util.Arrays.binarySearch(cdf, u)
    if (i < 0) -i - 1 else i
  }

  private def pidZipf(g: Long): String = s"P${1 + invCdf(zipfCdf, g)}"

  def entityJson(i: Long): String = entityJson(i, zipf = false)

  def entityJson(i: Long, zipf: Boolean): String = {
    val qid = s"Q${i + 1}"
    val h = mix(i)
    // every 23rd entity is a redirect stub (~4.3%, the real dump's
    // order of magnitude): no labels/claims, just the (from, to)
    // relation. Target is derived < i+1 so it always names an earlier,
    // existing, non-self entity — deterministic like everything else.
    // Long modulus (never i.toInt — a >2³¹-entity dump would flip the
    // modulus negative), and a target landing on a stub index steps
    // back one: Wikibase forbids double redirects, so generated dumps
    // must honor the single-hop invariant wd_statements_resolved
    // documents (round-15 advice 2+3).
    if (i % 23 == 7) {
      var t = fmL(h, i)
      if (t % 23 == 7) t -= 1 // first stub index is 7, so t-1 >= 6 stays valid
      return s"""{"type":"item","id":"$qid","redirect":"Q${t + 1}","lastrevid":${1000 + i},"modified":"2024-01-01T00:00:00Z"}"""
    }
    val sb = new StringBuilder(1536)
    sb.append(s"""{"type":"item","id":"$qid"""")

    // labels: 1–5 languages starting at a derived offset; every 97th
    // entity is label-less (fallback/diff coverage)
    if (i % 97 != 0) {
      val nL = if (zipf) 1 + invCdf(labelCdf, mix(h)) else 1 + fm(h, 5)
      val off = fm(h >>> 8, langs.length)
      val ls = (0 until nL).map { j =>
        val lg = langs((off + j) % langs.length)
        s""""$lg":${langValue(lg, s"lbl $qid $lg")}"""
      }
      sb.append(s""","labels":{${ls.mkString(",")}}""")
    }
    val nD = fm(h >>> 11, 3)
    if (nD > 0) {
      val ds = (0 until nD).map { j =>
        val lg = langs(j)
        s""""$lg":${langValue(lg, s"desc $qid $lg")}"""
      }
      sb.append(s""","descriptions":{${ds.mkString(",")}}""")
    }
    val nA = fm(h >>> 14, 3)
    if (nA > 0) {
      val as = (0 until nA).map { j =>
        val lg = langs(j)
        val vals = (0 to fm(h >>> (16 + j), 2)).map(k =>
          langValue(lg, s"alias $qid $lg $k"))
        s""""$lg":[${vals.mkString(",")}]"""
      }
      sb.append(s""","aliases":{${as.mkString(",")}}""")
    }

    // claims: 1–12 property slots, 1–3 statements each; slots whose
    // derived pid collides merge into one map entry (JSON object keys
    // must be unique)
    val nP = 1 + fm(h >>> 17, 12)
    val byPid = new scala.collection.mutable.LinkedHashMap[String, scala.collection.mutable.ArrayBuffer[String]]
    var j = 0
    while (j < nP) {
      val gp = mix(i * 31 + j)
      val p = if (zipf) pidZipf(gp) else pid(gp)
      val nS = 1 + fm(gp >>> 13, 3)
      var k = 0
      while (k < nS) {
        val gs = mix(i * 131 + j * 17 + k)
        val rank = if (fm(gs, 13) == 0) "deprecated"
                   else if (fm(gs, 7) == 0) "preferred" else "normal"
        val extras = new StringBuilder
        if (fm(gs, 5) == 0) {
          val q1 = snak("P459", mix(gs + 1))
          val more = if (fm(gs >>> 9, 2) == 0) "," + snak("P459", mix(gs + 2)) else ""
          extras.append(s""","qualifiers":{"P459":[$q1$more]},"qualifiers-order":["P459"]""")
        }
        if (fm(gs, 4) == 0) {
          val nR = 1 + fm(gs >>> 11, 2)
          val refs = (0 until nR).map { r =>
            val gr = mix(gs + 100 + r)
            s"""{"hash":"${java.lang.Long.toHexString(gr)}","snaks":{"P854":[${snak("P854", gr)}]}}"""
          }
          extras.append(s""","references":[${refs.mkString(",")}]""")
        }
        val stJson =
          s"""{"mainsnak":${snak(p, gs)},"type":"statement","id":"$qid${"$"}st${j}_$k","rank":"$rank"$extras}"""
        byPid.getOrElseUpdate(p, new scala.collection.mutable.ArrayBuffer[String]) += stJson
        k += 1
      }
      j += 1
    }
    val cs = byPid.map { case (p, sts) => s""""$p":[${sts.mkString(",")}]""" }
    sb.append(s""","claims":{${cs.mkString(",")}}""")

    val nSl = fm(h >>> 21, 4)
    if (nSl > 0) {
      val sl = (0 until nSl).map { j =>
        val site = sites(j)
        val badges = if (fm(h >>> (24 + j), 5) == 0) """"Q17437796"""" else ""
        s""""$site":{"site":"$site","title":"T $qid","badges":[$badges]}"""
      }
      sb.append(s""","sitelinks":{${sl.mkString(",")}}""")
    }
    val mo = 1 + fm(h >>> 26, 12)
    val dy = 1 + fm(h >>> 31, 28)
    sb.append(s""","lastrevid":${1000 + i},"modified":"2024-${f"$mo%02d"}-${f"$dy%02d"}T00:00:00Z"}""")
    sb.toString
  }

  /** One deterministic lexeme dump line (round-15: the L-entity twin
    * of entityJson, public Wikibase lexeme JSON format). Same
    * derive-never-draw rule: every field is a pure function of i. */
  def lexemeJson(i: Long): String = {
    val lid = s"L${i + 1}"
    val h = mix(i ^ 0x1E1EAE5EL)
    val sb = new StringBuilder(768)
    val nLem = 1 + fm(h, 3)
    val off = fm(h >>> 4, langs.length)
    val lems = (0 until nLem).map { j =>
      val lg = langs((off + j) % langs.length)
      s""""$lg":${langValue(lg, s"lem $lid $lg")}"""
    }
    sb.append(s"""{"type":"lexeme","id":"$lid","lemmas":{${lems.mkString(",")}}""")
    sb.append(s""","lexicalCategory":"Q${Array(24905, 1084, 34698)(fm(h >>> 7, 3))}"""")
    sb.append(s""","language":"Q${Array(1860, 188, 150, 5146)(fm(h >>> 9, 4))}"""")
    // occasional claims, reusing the statement generator
    if (fm(h >>> 11, 3) == 0)
      sb.append(s""","claims":{"P5402":[{"mainsnak":${snak("P5402", mix(h + 7))},"type":"statement","id":"$lid${"$"}st0","rank":"normal"}]}""")
    else sb.append(""","claims":{}""")
    val nF = fm(h >>> 13, 6) // 0..5 forms
    val fs = (0 until nF).map { j =>
      val gf = mix(i * 53 + j)
      val nRep = 1 + fm(gf, 2)
      val reps = (0 until nRep).map { r =>
        val lg = langs((off + j + r) % langs.length)
        s""""$lg":${langValue(lg, s"rep $lid F${j + 1} $lg")}"""
      }
      val nFeat = fm(gf >>> 4, 4)
      val feats = (0 until nFeat).map(f => s""""Q${3910000 + fm(mix(gf + f), 9000)}"""")
      // every 4th form carries a statement (pronunciation-audio shape)
      // so wd_lexeme_form_claims has scale-dump coverage (round-16)
      val fc = if (fm(gf >>> 9, 4) == 0)
        s"""{"P443":[{"mainsnak":${snak("P443", mix(gf + 11))},"type":"statement","id":"$lid-F${j + 1}${"$"}st0","rank":"normal"}]}"""
      else "{}"
      s"""{"id":"$lid-F${j + 1}","representations":{${reps.mkString(",")}},"grammaticalFeatures":[${feats.mkString(",")}],"claims":$fc}"""
    }
    sb.append(s""","forms":[${fs.mkString(",")}]""")
    val nS = fm(h >>> 17, 4) // 0..3 senses
    val ss = (0 until nS).map { j =>
      val gs = mix(i * 97 + j)
      val nG = 1 + fm(gs, 2)
      val gls = (0 until nG).map { r =>
        val lg = langs((off + j + r) % langs.length)
        s""""$lg":${langValue(lg, s"gloss $lid S${j + 1} $lg")}"""
      }
      // every 3rd sense links into the item graph (item-for-this-sense)
      val sc = if (fm(gs >>> 7, 3) == 0)
        s"""{"P5137":[{"mainsnak":${snak("P5137", mix(gs + 13))},"type":"statement","id":"$lid-S${j + 1}${"$"}st0","rank":"normal"}]}"""
      else "{}"
      s"""{"id":"$lid-S${j + 1}","glosses":{${gls.mkString(",")}},"claims":$sc}"""
    }
    sb.append(s""","senses":[${ss.mkString(",")}]""")
    sb.append(s""","lastrevid":${3000 + i},"modified":"2024-02-01T00:00:00Z"}""")
    sb.toString
  }

  /** One deterministic mediainfo dump line (round-16: the M-entity
    * twin of entityJson — Commons structured data, public MediaInfo
    * extension JSON: captions in `labels`, claims under `statements`,
    * empty descriptions). Depicts-heavy property mix like the real
    * Commons corpus (P180 dominates). */
  def mediainfoJson(i: Long): String = {
    val mid = s"M${i + 1}"
    val h = mix(i ^ 0x3ED1A1F0L)
    val sb = new StringBuilder(768)
    sb.append(s"""{"type":"mediainfo","id":"$mid"""")
    // captions: 0–3 languages (most Commons files have none)
    val nC = fm(h, 4) match { case 3 => 0; case k => k } // 0,1,2,0 mix
    val off = fm(h >>> 4, langs.length)
    val cs = (0 until nC).map { j =>
      val lg = langs((off + j) % langs.length)
      s""""$lg":${langValue(lg, s"cap $mid $lg")}"""
    }
    sb.append(s""","labels":{${cs.mkString(",")}},"descriptions":{}""")
    // statements: 0–4 slots, P180-heavy (60%), tail of other media pids
    val nP = fm(h >>> 7, 5)
    val byPid = new scala.collection.mutable.LinkedHashMap[String, scala.collection.mutable.ArrayBuffer[String]]
    var j = 0
    while (j < nP) {
      val gp = mix(i * 37 + j)
      val tail = Array("P6216", "P7482", "P571", "P1259")
      val p = if (fm(gp, 5) < 3) "P180" else tail(fm(gp >>> 3, 4))
      val rank = if (fm(gp, 11) == 0) "preferred" else "normal"
      val stJson =
        s"""{"mainsnak":${snak(p, gp)},"type":"statement","id":"$mid${"$"}st$j","rank":"$rank"}"""
      byPid.getOrElseUpdate(p, new scala.collection.mutable.ArrayBuffer[String]) += stJson
      j += 1
    }
    val ss = byPid.map { case (p, sts) => s""""$p":[${sts.mkString(",")}]""" }
    sb.append(s""","statements":{${ss.mkString(",")}}""")
    sb.append(s""","lastrevid":${5000 + i},"modified":"2024-03-01T00:00:00Z"}""")
    sb.toString
  }

  /** Wrap one dump line into the published array layout: entity i of n
    * gets a trailing `,` (except the last), the first is preceded by a
    * `[` line, the last followed by a `]` line. Emitted inline from the
    * ordered range partitions, so concatenating the part files in name
    * order yields ONE strict JSON array — byte-layout-identical to the
    * real latest-all.json (round-16 verdict 1). */
  private[graft] def wrapLine(body: String, i: Long, n: Long): String = {
    val core = if (i == n - 1) body else body + ","
    (if (i == 0) "[\n" else "") + core + (if (i == n - 1) "\n]" else "")
  }

  def main(args: Array[String]): Unit = {
    // bz2only (arg 4, literal "bz2only"): skip the plain twin. The
    // 10M-entity point would be ~17 GB plain — the bz2 (~2.5 GB) is
    // what the measured keys read anyway (Spark's text reader
    // decompresses .bz2 transparently, so SPARK_GRAFT_WD_NDJSON can
    // point at the bz2 dir too), and the disk budget is real.
    // arg 4 is a comma-separated flag list: "bz2only" (skip the plain
    // twin), "zipf" (power-law property + label-count skew — the
    // realistic-dump twin; round-14 verdict 2). "bz2only,zipf" combines.
    val (out, n, parts, flags) = args match {
      case Array(o, nn)         => (o, nn.toLong, 32, Set.empty[String])
      case Array(o, nn, pp)     => (o, nn.toLong, pp.toInt, Set.empty[String])
      case Array(o, nn, pp, m)  => (o, nn.toLong, pp.toInt,
        m.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      case _ => sys.error(
        "usage: GenWd <outDir> <nEntities> [partitions] [bz2only[,zipf[,lexemes[,mediainfo[,arraywrap]]]]]")
    }
    val unknown = flags -- Set("bz2only", "zipf", "lexemes", "mediainfo", "arraywrap")
    require(unknown.isEmpty, s"unknown GenWd flags: ${unknown.mkString(",")}")
    val bz2only = flags("bz2only")
    val zipf = flags("zipf")
    val lexemes = flags("lexemes") // emit a lexeme dump instead of entities
    val minfo = flags("mediainfo")     // emit a Commons mediainfo dump
    val arraywrap = flags("arraywrap") // published latest-all.json array layout
    val spark = graft.Harness.session()
    import spark.implicits._
    def lines = spark.range(0, n, 1, parts).map { i =>
      val body = if (lexemes) lexemeJson(i)
                 else if (minfo) mediainfoJson(i)
                 else entityJson(i, zipf)
      if (arraywrap) wrapLine(body, i, n) else body
    }
    if (!bz2only) lines.write.mode("overwrite").text(s"$out/plain")
    lines.write.mode("overwrite").option("compression", "bzip2")
      .text(s"$out/bz2")
    println(s"GENWD done n=$n out=$out zipf=$zipf")
    spark.stop()
  }
}
