package graft
import java.util.Locale

object Bench {
  // All numeric formatting goes through Locale.ROOT: under a comma-decimal
  // default locale (de_DE etc.) f"%.3f" would emit "0,123" and corrupt the
  // machine-readable JSON summary.
  private def fmt(v: Double): String = String.format(Locale.ROOT, "%.3f", v)

  // Round 18 (VERDICT item 2): the final one-line JSON's per-query set
  // is PINNED to this committed list — exactly the 55 keys visible in
  // round 17's line (git show 79d8cf5:BENCH_r17.json) — instead of
  // "slowest keys that fit 1500 chars". The old rule made the driver's
  // round-over-round per-query comparison a moving, biased sample: when
  // the visible cutoff drifted 0.80→1.02 s with box mood, 12 keys
  // "dropped" and 14 appeared without any code change (two of the
  // phantom drops were the round's biggest WINS, leaving the line by
  // getting fast). Membership now only changes by editing this list at
  // a rebaseline; ordering stays slowest-first (human-readable) and the
  // 1500-char budget guard stays as a backstop (worst case trims the
  // FASTEST pinned keys, deterministically). Full per-key data is
  // always in bench_detail.json regardless.
  private val PinnedLineKeys: Set[String] = Set(
    "agg_approx_quantile", "agg_assoc_rules", "agg_grouping_sets",
    "agg_ks_test", "dedup_components", "dedup_embedding",
    "dedup_incremental", "dedup_near_minhash", "dedup_semantic_apply",
    "dedup_simhash", "etl_corpus_curate", "etl_quarantine",
    "etl_shard_manifest", "etl_wikidata_pg", "graph_adamic_adar",
    "graph_bipartite_project", "graph_kcore", "graph_khop",
    "graph_link_predict", "graph_random_walk", "graph_sssp",
    "join_asof_nearest", "join_bloom_pruned", "join_full_outer",
    "join_geo_nearest", "join_lateral", "join_skew_salted",
    "join_star_5way", "multimodal_dedup", "multimodal_phash",
    "sim_ann_ivf", "sim_ann_lsh", "sim_pca_power", "sim_pq_search",
    "sink_parquet_partitioned", "sink_pg_attach", "sink_pg_copy",
    "sink_pg_sharded", "stream_sink_pg", "subquery_not_in",
    "subquery_scalar", "text_bigram_prob", "text_decontaminate",
    "text_feature_hash", "text_lm_generate", "text_perplexity",
    "text_pii_mask", "text_pmi_collocations", "text_tfidf",
    "win_autocorr", "win_funnel", "win_mann_kendall", "win_theil_sen",
    "win_topk_native", "win_topk_per_group")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // spark.graft.stage.dir resolves inside Stage.dir (conf -> env
    // SPARK_GRAFT_STAGE_DIR -> /tmp); no builder default to clobber it.
    val spark = Harness.session()
    // Warm up JVM/codegen and parquet footers so the first timed query
    // doesn't absorb session initialization cost.
    Harness.warm(spark, sfDir)
    // Plan-shape regression tracking: wall-clock on this box drifts
    // up to ±50% per key across rounds (the warm bands in bench_bands.json).
    // Shuffle bytes drift far less, but they are not exact:
    // wd_property_stats over a 3,000-entity GenWd zipf dump (local[4],
    // four runs in each of two JVMs, through KeyMetrics) wrote
    // 668,031–675,312 B, about 1%, within one JVM as much as across
    // JVMs, while jobs (5), stages (5), tasks (8) and shuffle records
    // (32,935) held every run; likely a reducer's row order follows
    // block-fetch order, and compressed sizes follow row order. So a
    // byte move of about 1% is noise, while a larger one, or any change
    // of record count, points at the plan or the input. The final pass
    // records each key's KeyRecord (shuffle, spill, jobs, stages,
    // tasks, executor, GC and job wall time, codegen compiles, rows)
    // and bench_detail.json carries it per key. Keys run one at a time,
    // so the JVM-wide compile count is the key's own.
    val metrics = new Harness.KeyMetrics(spark.sparkContext)
    val recordByKey = scala.collection.mutable.Map.empty[String, Harness.KeyRecord]
    val selected = Harness.keys()
    // Steady-state timing: three full passes over the suite, median per
    // query, with a different deterministic shuffle of the query order each
    // pass. Shuffling decorrelates one query's GC debris from a fixed
    // neighbor; the median resists the ±50% single-run noise this box
    // exhibits without rewarding a lucky cold-cache outlier the way min
    // would under only two samples. Warm samples do not recompile: the
    // generated-class cache GraftExtensions sizes holds every class of a
    // pass, so only a key's first run pays Janino (codegen_compiles in
    // bench_detail.json shows what a warm run still compiles).
    val keys = selected.keys.toVector
    val passes = sys.env.get("SPARK_GRAFT_PASSES").map(_.toInt).getOrElse(3)
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
    // A key that throws must not contribute a timing sample: an
    // analysis-time crash "runs" in milliseconds and would silently
    // deflate the suite total (round-5 lesson). Failed keys are
    // reported with a -1 sentinel and excluded from the total.
    // Per-key failure COUNTS (not a set): a key that fails some passes
    // but succeeds once would otherwise vanish from the failure report
    // while its median silently covered only the good passes.
    val failCount = scala.collection.mutable.Map.empty[String, Int]
    (1 to passes).foreach { pass =>
      val rnd = new scala.util.Random(0x9E3779B97F4A7C15L * pass)
      rnd.shuffle(keys).foreach { name =>
        val fn = selected(name)
        // per-key accounting only on the last (warm, AQE-settled)
        // pass: the drains are cheap but not free (and stay outside the
        // timed region), and the warm plan is the one whose shape
        // future rounds should diff against
        val account = pass == passes
        var dt = 0.0
        def timed(): Long = {
          val t0 = System.nanoTime()
          val n = fn(spark, sfDir).count()
          dt = (System.nanoTime() - t0) / 1e9
          n
        }
        val ok = try {
          if (account) recordByKey(name) = metrics.measure(timed())
          else timed()
          true
        } catch { case _: Throwable => false }
        if (ok) samples(name) = samples.getOrElse(name, Vector.empty) :+ dt
        else failCount(name) = failCount.getOrElse(name, 0) + 1
        // Round 18 block hygiene (guide §5): hand this key's scratch
        // localCheckpoint blocks to the BlockManager now — outside the
        // timed region, replacing the ContextCleaner's
        // eventual-after-GC release whose backlog across 279 keys × 3
        // passes was the round-17 suite-context churn. The result
        // frame was just materialized by count() and is never re-read.
        Ckpt.releaseScratch()
      }
    }
    def median(v: Vector[Double]): Double = {
      val s = v.sorted
      if (s.isEmpty) 0.0
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // Keys with zero successful passes get the -1 sentinel; keys that
    // succeeded at least once use the median of their successful runs.
    // Intermittent keys (some passes failed, some succeeded) are listed
    // separately — their median covers only the good passes, which must
    // be visible rather than silently folded into the total.
    val broken = (failCount.keySet -- samples.keySet).toSeq.sorted
    val flaky = (failCount.keySet & samples.keySet).toSeq.sorted
    val results = samples.map { case (k, v) => k -> median(v) } ++
      broken.map(_ -> -1.0)
    // Cold/warm attribution: samples are appended in pass order, so a
    // key's first sample is its cold run — the one that pays stored-
    // artifact builds (dedup_apply: 24 s cold vs 0.33 s warm at sf1)
    // and first-plan codegen — and the median of the remaining passes
    // is its steady state. Splitting them makes a cross-round "regression"
    // attributable at a glance: a cold-only jump is cache churn, a warm
    // jump is a real plan change. (If pass 1 failed, "cold" is the first
    // SUCCESSFUL pass — still the coldest run that produced a number.)
    val coldWarm: Map[String, (Double, Double)] = samples.map {
      case (k, v) =>
        k -> (v.head, if (v.size >= 2) median(v.tail) else v.head)
    }.toMap
    // Full per-query detail goes out as non-JSON debug lines: the driver
    // captures only a bounded tail of stdout, so the machine-readable
    // summary below must stay short and LAST. These lines are for humans.
    results.toSeq.sortBy(-_._2).foreach { case (k, v) =>
      val cw = coldWarm.get(k)
        .map { case (c, w) => s" cold=${fmt(c)} warm=${fmt(w)}" }
        .getOrElse("")
      println(s"BENCHQ $k ${fmt(v)}$cw")
    }
    broken.foreach(k => println(s"BENCHFAIL $k"))
    flaky.foreach(k => println(s"BENCHFLAKY $k ${failCount(k)}/$passes"))
    // Total covers only keys that actually ran; sentinel rows excluded.
    val total = if (samples.nonEmpty) samples.values.map(median).sum else 0.0
    // Compact final JSON line: 3-dp timings, slowest queries first, and a
    // hard length budget so the line (plus any build-tool epilogue) fits
    // inside the driver's stdout tail window without truncation.
    // Audit stamp: wall-clock run time + a hash of the main source tree
    // (path + bytes of every .scala file), so each round's bench line is
    // provably fresh and attributable to an exact source state even if
    // artifacts are copied around between rounds.
    val srcHash = {
      def files(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).map(_.toSeq.sortBy(_.getName)).getOrElse(Nil)
            .flatMap(files)
        else if (f.getName.endsWith(".scala")) Seq(f)
        else Nil
      val md = java.security.MessageDigest.getInstance("MD5")
      files(new java.io.File("src/main/scala")).foreach { f =>
        md.update(f.getPath.getBytes("UTF-8"))
        md.update(java.nio.file.Files.readAllBytes(f.toPath))
      }
      md.digest().map(b => String.format(Locale.ROOT, "%02x", b))
        .mkString.take(12)
    }
    // Whole-second stamp: the ~8 chars the sub-second digits cost are
    // line budget the pinned 55-key set needs (round 18).
    val stamp = java.time.Instant.now()
      .truncatedTo(java.time.temporal.ChronoUnit.SECONDS).toString
    val head = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","failed":${broken.size},"flaky":${flaky.size},"ts":"$stamp","src":"$srcHash","queries":{"""
    val tail = s"""},"sf":"$sfDir"}"""
    val budget = 1500 - head.length - tail.length
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = 0
    // Membership pinned (see PinnedLineKeys); slowest-first ordering
    // kept for humans; budget guard kept as a deterministic backstop,
    // and every pinned key it drops is named on a BENCHTRIM line.
    results.toSeq.filter(r => PinnedLineKeys(r._1)).sortBy(-_._2)
      .foreach { case (k, v) =>
        val e = s""""$k":${fmt(v)}"""
        if (used + e.length + 1 <= budget) { entries += e; used += e.length + 1 }
        else println(s"BENCHTRIM $k")
      }
    val json = head + entries.mkString(",") + tail
    // Belt and braces against build-tool log decoration: the JSON goes to
    // stdout (forked with StdoutOutput so no "[info] " prefix), to stderr,
    // and to bench.json in the working directory.
    println(json)
    System.err.println(json)
    writeFile("bench.json", json)
    // Unabridged per-key cold/warm/median detail — too long for the
    // driver's stdout tail window, so it goes to a sidecar file only.
    //
    // Two round-11-verdict rules:
    //  * The repo-root bench_detail.json is the committed full-surface
    //    yardstick benchcheck.py joins against bench_bands.json — a SCOPED
    //    run (SPARK_GRAFT_ONLY set) must never clobber it (commit
    //    0431c47 did exactly that), so scoped captures land in tmp/.
    //    SPARK_GRAFT_DETAIL_OUT overrides either path explicitly.
    //  * Shuffle fingerprints are partition-count-sensitive (the same
    //    plan packs different compressed block counts at 4 vs 32
    //    shuffle partitions — 5–15% observed), so the capture records
    //    its (cpus, shuffle) config and benchcheck refuses to compare
    //    fingerprints across configs instead of reporting false moves.
    val detailPath = sys.env.get("SPARK_GRAFT_DETAIL_OUT").getOrElse {
      if (Harness.only.isDefined) {
        new java.io.File("tmp").mkdirs()
        "tmp/bench_detail_scoped.json"
      } else "bench_detail.json"
    }
    // Per-key columns: med/cold/warm seconds, then the final pass's
    // KeyRecord. The driver-side share of a key is med − job_wall_ms.
    val rows = results.toSeq.sortBy(-_._2).map { case (k, v) =>
      val (c, wm) = coldWarm.getOrElse(k, (-1.0, -1.0))
      val r = recordByKey.getOrElse(k,
        Harness.KeyRecord(-1, -1, -1, -1, -1, -1, -1, -1, -1, -1))
      s""""$k":{"med":${fmt(v)},"cold":${fmt(c)},"warm":${fmt(wm)},""" +
        s""""shr":${r.shr},"shw":${r.shw},"spill":${r.spill},""" +
        s""""jobs":${r.jobs},"stages":${r.stages},"tasks":${r.tasks},""" +
        s""""exec_ms":${r.execMs},"gc_ms":${r.gcMs},""" +
        s""""job_wall_ms":${r.jobWallMs},"codegen_compiles":${r.compiles},""" +
        s""""rows":${r.rows}}"""
    }
    writeFile(detailPath, s"""{"ts":"$stamp","src":"$srcHash","sf":"$sfDir",""" +
      s""""passes":$passes,"cpus":${Harness.cpus},"shuffle":${Harness.shuffle},""" +
      s""""queries":{${rows.mkString(",")}}}""")
    spark.stop()
  }

  /** A failed write is reported, not fatal: the JSON line already went
    * to stdout and stderr. */
  private def writeFile(path: String, text: String): Unit =
    try {
      val w = new java.io.PrintWriter(new java.io.File(path), "UTF-8")
      try w.println(text) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"Bench: could not write $path: $e")
    }
}
