package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Ckpt, Det, Tables}

/** Text-analysis operators for training-data pipelines (SURVEY.md §2.10
  * + the north-star additions: language-ID, quality scoring, token
  * counting, fingerprinting).
  *
  * Everything is built from codegen'd built-ins over the `documents`
  * table — tokenize with split+filter, position logic with
  * posexplode+lead, never a UDF. At 100 TB each of these is a single
  * scan + one shuffle (groupBy term / doc), with maps partial-aggregated.
  */
object TextOps {
  type Q = (SparkSession, String) => DataFrame

  /** Whitespace tokens minus the trailing empty token (FIXTURES.md). */
  private def toks: Column = filter(split(col("text"), " "), t => t =!= lit(""))

  /** (doc_id, w1, w2) adjacent-token pairs, built MAP-SIDE by zipping
    * the token array with its own tail: adjacency is a property of the
    * row's own array, so the earlier lead()-over-(doc_id, pos) window
    * formulation paid a full shuffle of exploded tokens for nothing.
    * Shared by every bigram consumer (ngrams, bigram LM, PMI,
    * repetition); oracles keep DuckDB's single-node window form — the
    * gram multiset is identical and all downstream aggregates are
    * order-free. */
  private[graft] def bigramPairs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("g"))
      .select(col("doc_id"), col("g.w1").as("w1"), col("g.w2").as("w2"))

  /** Feature-hashing dimension — ONE constant interpolated into both
    * the query and its oracle so they cannot drift (and read by the
    * spec's range assertion). */
  private[graft] val HashDim = 512

  private val Stop = Seq("the", "a", "of", "and", "to")

  /** Token count guarded for division: a token-less document yields
    * NULL ratios instead of an ANSI DIVIDE_BY_ZERO error (Spark 4 runs
    * ANSI by default; the oracle's nullif twin agrees). */
  private def nzTok(t: Column): Column =
    when(size(t) === 0, lit(null)).otherwise(size(t))

  /** Lexicon-hit language ID: deterministic n-gram-free heuristic.
    * The real corpus analogue swaps the literal lexicon for a broadcast
    * dictionary table — identical plan shape at 100 TB. Shared core of
    * text_langid and the etl_corpus_curate language gate. */
  private def predLang(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val lex = Seq(
      ("the", "en"), ("fast", "en"), ("small", "en"), ("slow", "en"),
      ("le", "fr"), ("vite", "fr"), ("petit", "fr"),
      ("el", "es"), ("rapido", "es"),
      ("der", "de"), ("schnell", "de")).toDF("w", "lg")
    val hits = docs.select(col("doc_id"), explode(toks).as("term"))
      .join(broadcast(lex), col("term") === col("w"))
      .groupBy("doc_id", "lg").agg(count(lit(1)).as("hits"))
    // Per-doc argmax as a codegen'd min_by (ord = (-hits, lg): max
    // hits, then smallest language code — the old rank window's exact
    // order) so the winner folds map-side instead of sorting every
    // (doc, lang) row through a per-doc window partition.
    val best = hits.groupBy(col("doc_id"))
      .agg(min_by(struct(col("lg"), col("hits")),
        struct((-col("hits")).as("nh"), col("lg"))).as("b"))
      .select(col("doc_id"), col("b.lg").as("lg"), col("b.hits").as("hits"))
    docs.select(col("doc_id")).join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lg"), lit("und")).as("pred_lang"),
        coalesce(col("hits"), lit(0L)).as("hits"))
  }

  /** Eval-set contamination hits: TRAIN documents (md5 buckets <8)
    * sharing ≥3 distinct 5-grams with the frozen TEST split (bucket 9).
    * Shared core of text_decontaminate and the etl_corpus_curate
    * decontamination stage — see text_decontaminate for the 100 TB
    * broadcast/bloom notes. */
  private def contamHits(s: SparkSession, docs: DataFrame): DataFrame = {
    // 5-grams MAP-SIDE from each row's own token array (the
    // bigramPairs rationale — four lead() windows bought a full doc_id
    // shuffle of exploded tokens for adjacency the array already has);
    // sequence is bounded by the ≥5-token filter, every index in range
    // under ANSI.
    val grams = docs
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= 5)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 5), i -> concat_ws(' '," +
          " t[i], t[i+1], t[i+2], t[i+3], t[i+4]))")).as("gram"))
      .distinct()
      .withColumn("b", SampleOps.hashBucket)
    val evalGrams = grams.filter(col("b") === 9)
      .select(col("doc_id").as("eval_id"), col("gram"))
    val trainGrams = grams.filter(col("b") < 8)
      .select(col("doc_id"), col("gram"))
    trainGrams.join(broadcast(evalGrams), "gram")
      .groupBy("doc_id")
      .agg(countDistinct(col("gram")).as("n_hit_grams"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
      .filter(col("n_hit_grams") >= 3)
  }

  /** Shared doc-quality score — ONE definition for text_quality and
    * the decile bucketing over it, so the two can never drift. */
  private def qualityScore: Column = {
    val t = toks
    round(least(lit(1.0), size(t).cast(DoubleType) / 100.0)
      * (lit(1.0) - size(filter(t, x => x.isin(Stop: _*))).cast(DoubleType)
        / nzTok(t)), 4)
  }

  val queries: Map[String, Q] = Map(
    "text_feature_hash" -> ((s, d) => {
      // Hashing-trick featurization (the Weinberger et al. hashing
      // vectorizer): token → stable bucket md5 % D, with a sign bit
      // from an independent md5 slice so collisions cancel in
      // expectation instead of only inflating. Vocabulary-free — no
      // fit pass, no dictionary broadcast, shard outputs merge by
      // summing (doc, idx) — which is exactly why it scales to 100 TB
      // where a fitted CountVectorizer's vocabulary does not. One
      // explode + one (doc_id, idx) shuffle; zero weights are dropped
      // to keep the output sparse.
      Tables.documents(s, d)
        .select(col("doc_id"), explode(toks).as("tok"))
        .withColumn("idx",
          expr(s"${Det.md5SliceExpr("tok", 1, 8)} % $HashDim"))
        .withColumn("sgn", expr(
          s"CASE WHEN ${Det.md5SliceExpr("tok", 9, 1)} % 2 = 0 " +
            "THEN 1 ELSE -1 END"))
        .groupBy("doc_id", "idx")
        .agg(sum(col("sgn")).cast(LongType).as("weight"))
        .filter(col("weight") =!= 0)
        .orderBy("doc_id", "idx")
    }),

    "text_classifier_score" -> ((s, d) => {
      // Linear quality-classifier scoring — the fastText-shaped gate a
      // curation pipeline runs over every document (keep/drop by a
      // pretrained model's score). The "model" here is a hash-derived
      // weight table (token → md5 slice % 2001 - 1000 ∈ [-1000, 1000]),
      // so scoring is vocabulary-free exactly like text_feature_hash:
      // no weight-vector broadcast, no dictionary join — the shape that
      // scales to 100 TB. A real model swaps ONLY the weight expression
      // for a broadcast-joined (token, weight) table; the plan (explode
      // → per-doc tf → weighted sum) is unchanged. Integer tf·w sums
      // are order-independent (hash-exact); the mean score is a single
      // deterministic IEEE division at the end.
      Tables.documents(s, d)
        .select(col("doc_id"), explode(toks).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        .withColumn("w",
          expr(s"${Det.md5SliceExpr("tok", 1, 8)} % 2001 - 1000"))
        .groupBy("doc_id")
        .agg(sum(col("tf") * col("w")).cast(LongType).as("score_fx"),
          sum(col("tf")).cast(LongType).as("n_toks"))
        .withColumn("score_avg",
          round(col("score_fx").cast(DoubleType) / col("n_toks"), 6))
        .withColumn("keep", col("score_fx") > 0)
        .orderBy("doc_id")
    }),

    "text_wordcount" -> ((s, d) => {
      Tables.documents(s, d)
        .select(explode(toks).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word"))
        .limit(20)
    }),

    "text_ngrams" -> ((s, d) => {
      // Bigrams map-side via bigramPairs (oracle keeps the window form).
      bigramPairs(Tables.documents(s, d))
        .select(concat_ws(" ", col("w1"), col("w2")).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("gram"))
        .limit(20)
    }),

    "text_tfidf" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val t = docs.select(col("doc_id"), explode(toks).as("term"))
      val tf = Ckpt.df(
        t.groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
      // df derives FROM tf: the (doc_id, term) aggregate already is the
      // distinct table, so the document-frequency branch re-aggregates
      // those (small) rows instead of re-exploding and re-shuffling the
      // full token stream a second time — one corpus-sized shuffle for
      // the whole key. (The checkpoint truncates lineage so the tf
      // exchange feeds both branches rather than being recomputed;
      // durable under spark.graft.checkpointDir so the term×doc blocks
      // survive executor loss on a cluster.)
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val nd = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
      tf.join(dfreq, "term")
        .crossJoin(nd) // 1-row broadcast, not a real cross product
        .withColumn("score",
          round(col("tf") * log((col("n_docs") + 1).cast(DoubleType) / (col("df") + 1)), 4))
        .withColumn("rnk", row_number().over(w).cast(IntegerType))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"), col("rnk"))
        .orderBy("doc_id", "rnk")
    }),

    "text_bigram_prob" -> ((s, d) => {
      // Bigram conditional probabilities P(w2|w1) = c(w1,w2)/c(w1·) —
      // the count-based language-model estimate (the building block of
      // KenLM-style scoring and the perplexity gate's real-corpus
      // form). The corpus pays ONE map-side zip pass: the context
      // counts c(w1·) fold from the pair table (Σ_w2 c(w1,w2)) at
      // vocab² cost, never a second fact-sized scan. Exact long
      // counts, one final division. Top-20 by pair count, full
      // tiebreak.
      val grams = bigramPairs(Tables.documents(s, d))
        .select(col("w1"), col("w2"))
      val c12 = grams.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c12"))
      val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
      c12.join(c1, "w1")
        .select(col("w1"), col("w2"), col("c12"),
          round(col("c12").cast(DoubleType) / col("c1").cast(DoubleType), 4)
            .as("p"))
        .orderBy(col("c12").desc, col("w1"), col("w2"))
        .limit(20)
    }),

    "text_lm_generate" -> ((s, d) => {
      // Greedy decoding from the count-based bigram LM — the
      // smallest complete instance of the generate loop every LLM
      // serving stack runs: seed with the most frequent token, then
      // 8 steps of argmax-next-token over the conditional counts
      // (ties break lexicographically; greedy decoding may loop —
      // truthful behavior, and exactly why production samples with
      // temperature instead). Engine shape: the bigram table is the
      // vocab-bounded aggregate of ONE corpus pass (checkpointed —
      // every step reads it); each step is a 1-row broadcast probe
      // into it, the TakeOrdered argmax never sorts the table.
      // Round-17 (opt): the decode loop used to run 8 × (broadcast
      // probe + eager checkpoint) = 23 jobs. The greedy policy is a
      // pure function of the bigram table — next(w1) = argmax_(c12
      // DESC, w2) — so the policy table folds out of ONE vocab-keyed
      // min_by aggregate (same shuffle the bigram groupBy already
      // pays), the seed falls out of the same pass (c1 = Σ c12 per
      // w1), and the 8-step walk is one bound-map expression over a
      // single row (~6 jobs; git show 79d8cf5:OPTIMIZATION_r17.md).
      // Selection identical: min_by on (-c12, w2) replays the old
      // per-step (c12 DESC, w2) TakeOrdered, min_by on (-c1, w1) the
      // seed's; a walk reaching a word with no outgoing bigram stalls
      // exactly like the old empty join. The one-row map is
      // VOCAB-sized — the same bound as the old checkpointed bigram
      // table (smaller: one entry per w1).
      val grams = bigramPairs(Tables.documents(s, d))
      val bi = grams.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c12"))
      val pol = bi.groupBy(col("w1"))
        .agg(min_by(col("w2"),
            struct((-col("c12")).as("nc"), col("w2"))).as("nxt"),
          sum(col("c12")).as("c1"))
      val one = pol.agg(
        expr("map_from_entries(collect_list(struct(w1, nxt)))").as("m"),
        min_by(col("w1"), struct((-col("c1")).as("nc"), col("w1")))
          .as("seed"))
      one.select(posexplode(expr(
          // walk: start at the seed, append try_element_at(m, last)
          // while it resolves; a missing key leaves acc unchanged
          "aggregate(sequence(1, 8), array(seed), (acc, t) -> " +
            "CASE WHEN try_element_at(m, element_at(acc, -1)) IS NULL " +
            "THEN acc ELSE concat(acc, " +
            "array(try_element_at(m, element_at(acc, -1)))) END)"))
          .as(Seq("step", "word")))
        .select(col("step").cast(IntegerType).as("step"), col("word"))
        .filter(col("word").isNotNull)
        .orderBy("step")
    }),

    "text_zipf_fit" -> ((s, d) => {
      // Zipf-law fit — the corpus-health diagnostic: regress
      // ln(frequency) on ln(rank) over the top-100 terms; a natural
      // corpus gives slope ≈ −1, and deviation flags synthetic or
      // template-heavy data. Composes the vocab aggregate (one
      // corpus-sized pass) with the agg_multireg moments+closed-form
      // pattern on the 100-row ranked frame: ln per row (the
      // agg_entropy discipline), order-free fixed-point moment sums,
      // and a simple-OLS solve shared verbatim with the oracle.
      // On THIS fixture the fit truthfully reports slope ≈ −0.16 with
      // r² ≈ 0.05: the synthetic 31-token vocabulary is near-uniform,
      // i.e. the diagnostic correctly flags a non-natural corpus —
      // OperatorSpec pins exactly that reading.
      val ranked = Tables.documents(s, d)
        .select(explode(toks).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok")).limit(100)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cnt").desc, col("tok")))) // 100 rows
        .selectExpr("CAST(ln(CAST(rank AS DOUBLE)) AS DOUBLE) AS x",
          "CAST(ln(CAST(cnt AS DOUBLE)) AS DOUBLE) AS y")
      ranked.selectExpr(ZipfSums: _*).selectExpr(ZipfSolve: _*)
    }),

    "text_pmi_collocations" -> ((s, d) => {
      // Pointwise-mutual-information collocations — the "New York" /
      // "machine learning" detector: rank bigrams by how much more
      // often they co-occur than independence predicts,
      // pmi = ln(c12·N / (c1·c2)), with a min-support floor so rare
      // flukes can't dominate. Everything derives from the ONE pair
      // table: both marginals and N fold from c12 at vocab² cost (the
      // text_bigram_prob discipline — the corpus is scanned once).
      // Exact long counts; pmi is one closed-form ln on exact ints
      // (the agg_entropy discipline); ranking ties break on the pair.
      val grams = bigramPairs(Tables.documents(s, d))
        .select(col("w1"), col("w2"))
      val c12 = grams.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c12"))
      val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
      val c2 = c12.groupBy(col("w2")).agg(sum(col("c12")).as("c2"))
      val n = c12.agg(sum(col("c12")).as("nn"))
      c12.filter(col("c12") >= 5)
        .join(c1, "w1").join(c2, "w2").crossJoin(broadcast(n))
        .withColumn("pmi", log(
          (col("c12").cast(DoubleType) * col("nn").cast(DoubleType))
            / (col("c1").cast(DoubleType) * col("c2").cast(DoubleType))))
        .select(col("w1"), col("w2"), col("c12"),
          round(col("pmi"), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(20)
    }),

    "text_vocab" -> ((s, d) => {
      // Vocabulary richness per source: token volume, type count, and
      // type-token ratio — the Heaps-law profile that flags a source
      // gone repetitive (boilerplate, spam) before it poisons a
      // training mix. One explode + one (source, token)-keyed
      // aggregation; countDistinct plans as a partial-aggregated
      // two-phase shuffle, never a collect.
      Tables.documents(s, d)
        .select(col("source"), explode(toks).as("tok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("tok")).as("n_types"))
        .select(col("source"), col("n_tokens"), col("n_types"),
          round(col("n_types").cast(DoubleType)
            / col("n_tokens").cast(DoubleType), 4).as("ttr"))
        .orderBy("source")
    }),

    "text_lang_stats" -> ((s, d) => {
      Tables.documents(s, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("n_chars")).cast(DoubleType) / count(lit(1)), 4).as("avg_chars"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy("lang")
    }),

    "text_langid" -> ((s, d) =>
      predLang(s, Tables.documents(s, d)).orderBy("doc_id")),

    "text_quality" -> ((s, d) => {
      // Length/stopword heuristics; every ratio is exact-int division
      // surfaced as a rounded double (NULL for token-less docs — the
      // nzTok guard).
      val t = toks
      val nStop = size(filter(t, x => x.isin(Stop: _*)))
      val sumLen = aggregate(t, lit(0L), (acc, x) => acc + length(x))
      Tables.documents(s, d).select(
        col("doc_id"),
        length(col("text")).as("len_chars"),
        size(t).as("n_tokens"),
        round(sumLen.cast(DoubleType) / nzTok(t), 4).as("avg_tok_len"),
        round(nStop.cast(DoubleType) / nzTok(t), 4).as("stop_ratio"),
        qualityScore.as("quality"))
        .orderBy("doc_id")
    }),

    "text_tokencount" -> ((s, d) => {
      // Whitespace count + a BPE-ish estimate (⌈len/4⌉ subwords per
      // token — the standard chars/4 heuristic), all in-array, no UDF.
      val t = toks
      Tables.documents(s, d).select(
        col("doc_id"),
        size(t).as("ws_tokens"),
        size(array_distinct(t)).as("distinct_tokens"),
        aggregate(t, lit(0L),
          (acc, x) => acc + ceil(length(x) / lit(4.0)).cast(LongType)).as("bpe_est"))
        .orderBy("doc_id")
    }),

    "text_repetition" -> ((s, d) => {
      // Repetition signals (the Gopher/C4 filter family): per document,
      // the duplicate-bigram fraction and the share of the single most
      // frequent bigram. Bigrams are built MAP-SIDE by zipping the
      // token array with its own tail (zip_with over two slices) —
      // adjacency is a property of the row's own array, so paying a
      // doc_id window shuffle to see the next token (the earlier lead()
      // formulation) bought nothing. Two aggregations remain, both
      // keyed on doc_id: the per-doc gram counts partial-aggregate
      // map-side, so a 100 TB corpus pays one doc_id-keyed shuffle of
      // (doc, gram) counts and one of per-doc rollups. The oracle keeps
      // DuckDB's window form — same gram multiset, and every downstream
      // aggregate is order-free.
      val grams = Tables.documents(s, d)
        .select(col("doc_id"), toks.as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"), explode(zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => concat_ws(" ", a, b))).as("gram"))
      grams.groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_grams"),
          count(lit(1)).as("n_distinct"),
          max(col("c")).as("top_c"))
        .select(col("doc_id"), col("n_grams"),
          round(lit(1.0) - col("n_distinct").cast(DoubleType) / col("n_grams"), 4)
            .as("dup_gram_ratio"),
          round(col("top_c").cast(DoubleType) / col("n_grams"), 4)
            .as("top_gram_ratio"))
        .withColumn("repetitive", col("dup_gram_ratio") > 0.3)
        .orderBy("doc_id")
    }),

    "text_substring_dup" -> ((s, d) => {
      // CHARACTER-level repeated-substring detection — the exact-
      // substring dedup family (Lee et al., "Deduplicating Training
      // Data Makes Language Models Better"): boilerplate, license
      // headers and templated spans repeat across documents below the
      // token level, where line dedup and token n-grams can't see
      // them. Each doc emits 32-char shingles at stride 16 (any
      // repeated span ≥ 47 chars is guaranteed to share an ALIGNED
      // shingle pair; production densifies the stride or suffix-
      // arrays within the flagged docs — this key is the corpus-wide
      // candidate scan). Map-side generation from each row's own text
      // (the bigramPairs rationale), one shingle-keyed count shuffle
      // whose cardinality is |corpus chars|/16, top-20 most-shared
      // spans with full tiebreak.
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
        .filter(length(col("text")) >= 32)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, length(text) - 31, 16)," +
            " i -> substring(text, i, 32))")).as("shingle"))
        .groupBy("shingle")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occurrences"),
          min(col("doc_id")).as("min_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("n_occurrences").desc,
          col("shingle"))
        .limit(20)
    }),

    "text_decontaminate" -> ((s, d) => {
      // Eval-set decontamination: flag TRAIN documents sharing ≥3
      // distinct 5-grams with the frozen TEST split (the same
      // md5-bucket rule as split_train_test, so the eval set scanned
      // against IS the one that rule froze). 5-grams here for the
      // short synthetic docs; production uses the published 8–13-gram
      // windows — same plan. The join is gram-equi: at 100 TB the eval
      // side is the tiny one (≤10% of corpus, distinct grams only) —
      // broadcast it or bloom-prune the train side; candidates never
      // cross-product. Core shared with etl_corpus_curate (contamHits).
      contamHits(s, Tables.documents(s, d)).orderBy("doc_id")
    }),

    "etl_corpus_curate" -> ((s, d) => {
      // THE composed training-data product: raw corpus → train split →
      // language gate → quality gate → exact dedup → eval-set
      // decontamination → curated manifest, chained as ONE Spark plan
      // from stages that are each green standalone keys (split_train_
      // test, text_langid, text_quality, dedup_exact, text_decontaminate).
      // Stage order is the cheap-filters-first production order: the
      // md5-bucket split and quality gate are map-heavy and shrink the
      // corpus before the joins; dedup's window runs over survivors
      // only; the decontamination anti-join comes last when the corpus
      // is smallest. Everything stays declarative — Catalyst fuses
      // adjacent map stages, so "six pipeline stages" is NOT six scans.
      val all = Tables.documents(s, d)
      val train = all.withColumn("b", SampleOps.hashBucket)
        .filter(col("b") < 8).drop("b")
      val english = predLang(s, train)
        .filter(col("pred_lang") === "en").select("doc_id")
      // Round 17 (opt): the quality gate is a MAP-ONLY projection of
      // train, but as a separate frame it re-joined train on doc_id —
      // a self-join the optimizer cannot fuse (it can't prove doc_id
      // unique), i.e. one extra full corpus scan + join at any scale.
      // Inlining the two per-row columns keeps rows identical (the
      // doc_id join against a unique-keyed projection of the same
      // frame IS column attachment) and drops the chain to its
      // minimum: one gated base pass + the one aggregate pass
      // predLang needs. Oracle hash-identical at sf0.001 + sf0.01.
      // keep-first per content hash via the dedup_exact min_by shape
      // (fold map-side; no per-group sort for a viral duplicate)
      val deduped = train
        .select(col("doc_id"), col("text"), size(toks).as("n_tokens"),
          qualityScore.as("quality"))
        .filter(col("n_tokens") >= 30 && col("quality") >= 0.3)
        .join(english, "doc_id")
        .groupBy(md5(lower(trim(col("text")))).as("h"))
        .agg(min_by(struct(col("doc_id"), col("n_tokens"), col("quality")),
          col("doc_id")).as("k"))
        .select(col("k.doc_id").as("doc_id"), col("k.n_tokens").as("n_tokens"),
          col("k.quality").as("quality"))
      deduped
        .join(contamHits(s, all).select("doc_id"), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("n_tokens"), col("quality"))
        .orderBy("doc_id")
    }),

    "text_quality_buckets" -> ((s, d) => {
      // Global decile bucketing WITHOUT a global sort: the ntile()
      // formulation would funnel a 100 TB corpus through ONE window
      // partition. Instead the 9 decile boundaries come from one
      // percentile aggregate (a single partial+final reduce), are
      // rounded to the score's own 4-dp grid (both engines round the
      // same interpolated doubles — the agg_percentile determinism
      // argument), broadcast back as one row, and each doc's decile is
      // a map-only comparison count against the 9-element array.
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), qualityScore.as("quality"))
      val bounds = scored.agg(
        expr("""transform(
                  percentile(quality, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9)),
                  b -> round(b, 4))""").as("bs"))
      scored.crossJoin(broadcast(bounds)) // 1-row broadcast, not a real cross product
        .select(col("doc_id"), col("quality"),
          expr("CAST(aggregate(bs, 1, (acc, b) -> acc + IF(quality > b, 1, 0)) AS INT)")
            .as("decile"))
        .orderBy("doc_id")
    }),

    "text_perplexity" -> ((s, d) => {
      // Perplexity-style quality scoring (the CCNet filter), unigram
      // proxy: score(doc) = avg_t −ln p(t) with p from the corpus's
      // own unigram counts — unusual documents score high and get
      // filtered/bucketed downstream. Production swaps the unigram
      // table for a pretrained KenLM n-gram table; the plan (explode →
      // broadcast LM join → per-doc aggregate) is unchanged.
      // Determinism: per-token surprises quantize to a 2²⁰ log-grid
      // and sum as longs (order-independent; 1-ulp libm divergence
      // spans ~1e-9 of a cell — the udaf_geomean analysis).
      val grid = (1L << 20).toDouble
      val t = Tables.documents(s, d)
        .select(col("doc_id"), explode(toks).as("term"))
      val uni = t.groupBy("term").agg(count(lit(1)).as("cnt"))
      val tot = uni.agg(sum(col("cnt")).as("total"))
      t.join(broadcast(uni), "term")
        .crossJoin(broadcast(tot)) // 1-row broadcast, not a real cross product
        .select(col("doc_id"),
          floor((log(col("total").cast(DoubleType))
            - log(col("cnt").cast(DoubleType))) * grid)
            .cast(LongType).as("q"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"), sum(col("q")).as("sq"))
        .select(col("doc_id"), col("n_tok"),
          round(col("sq").cast(DoubleType) / grid / col("n_tok"), 4)
            .as("avg_surprise"))
        .orderBy("doc_id")
    }),

    "text_fingerprint" -> ((s, d) => {
      // Canonical content fingerprint: md5 over the sorted distinct
      // token set (order-insensitive dedup key), plus corpus-wide
      // collision count per fingerprint.
      val fp = md5(concat_ws(" ", sort_array(array_distinct(toks))))
      val w = Window.partitionBy("fp")
      Tables.documents(s, d)
        .select(col("doc_id"), fp.as("fp"))
        .withColumn("n_same_fp", count(lit(1)).over(w))
        .orderBy("doc_id")
    }),

    "text_gopher_rules" -> ((s, d) => {
      // Gopher-style composite quality gate: each rule is a named
      // boolean column so a pipeline can audit WHY a document was
      // dropped, not just that it was. One (doc,tok) count shuffle +
      // one doc_id rollup — the text_repetition cost shape; the
      // left join keeps token-less documents (they fail the gate
      // explicitly instead of vanishing). Thresholds are tuned to this
      // fixture's short synthetic docs; production swaps the constants,
      // not the plan.
      val t = Tables.documents(s, d)
        .select(col("doc_id"), explode(toks).as("tok"))
      val byTok = t.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      val agg = byTok.groupBy("doc_id").agg(
        sum(col("c")).as("n_tokens"),
        max(col("c")).as("top_c"),
        sum(when(col("tok").isin(Stop: _*), col("c")).otherwise(0L)).as("n_stop"),
        sum(length(col("tok")).cast(LongType) * col("c")).as("sum_len"))
      val nTok = coalesce(col("n_tokens"), lit(0L))
      val avgLen = col("sum_len").cast(DoubleType) / col("n_tokens")
      val topShare = col("top_c").cast(DoubleType) / col("n_tokens")
      val rLen = nTok.between(30L, 100000L)
      val rAvg = coalesce(avgLen.between(2.0, 10.0), lit(false))
      val rStop = coalesce(col("n_stop") >= 2L, lit(false))
      val rRep = coalesce(topShare <= 0.2, lit(false))
      Tables.documents(s, d).select(col("doc_id"))
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"), nTok.as("n_tokens"),
          round(avgLen, 4).as("avg_tok_len"),
          coalesce(col("n_stop"), lit(0L)).as("n_stop"),
          round(topShare, 4).as("top_tok_share"),
          rLen.as("r_len"), rAvg.as("r_avg"),
          rStop.as("r_stop"), rRep.as("r_rep"),
          (rLen && rAvg && rStop && rRep).as("keep"))
        .orderBy("doc_id")
    }),

    "text_line_dedup" -> ((s, d) => {
      // C4-style GLOBAL line dedup: every repeated line across the
      // whole corpus is dropped except its first occurrence (by
      // doc_id, position) — the rule that strips boilerplate headers/
      // footers crawl-wide. Fixed 10-token chunks stand in for lines
      // (the fixture has no newlines); production splits on '\n',
      // same plan. Chunking is map-only (array slice — no
      // explode-then-group). First occurrence per line = a codegen'd
      // min_by on (doc_id, idx) per md5(line) — round 10 replaced the
      // rank window here: the window was "skew-safe" only in the sense
      // that a crawl-wide boilerplate line landed in one group scanned
      // once, but that scan was a SINGLE-PARTITION SORT of every copy;
      // the aggregate's partial pass folds each partition's copies to
      // one candidate before the shuffle, so the viral line costs one
      // row per partition. Winners then roll up per doc against the
      // per-doc line counts.
      val lines = Tables.documents(s, d)
        .select(col("doc_id"), toks.as("tk"))
        .filter(size(col("tk")) > 0)
        .select(col("doc_id"),
          posexplode(expr(
            """transform(sequence(0, CAST(((size(tk) - 1) div 10) AS INT)),
                 i -> array_join(slice(tk, i * 10 + 1, 10), ' '))"""))
            .as(Seq("idx", "line")))
      val kept = lines
        .groupBy(md5(col("line")).as("lh"))
        .agg(min_by(struct(col("doc_id"), col("idx")),
          struct(col("doc_id"), col("idx"))).as("w"))
        .groupBy(col("w.doc_id").as("doc_id"))
        .agg(count(lit(1)).as("n_kept"))
      lines.groupBy("doc_id").agg(count(lit(1)).as("n_lines"))
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_lines"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .withColumn("kept_ratio",
          round(col("n_kept").cast(DoubleType) / col("n_lines"), 4))
        .orderBy("doc_id")
    }),

    "text_pii_mask" -> ((s, d) => {
      // PII redaction: chained global regex masking (email → phone →
      // number, most-specific first) plus per-row detection flags —
      // map-only codegen'd expressions, no shuffle until the audit
      // rollup. The fixture's props hit only the <NUM> rule; the
      // email/phone patterns exercise the same plumbing production
      // points at real text (patterns stay in the Java∩RE2 subset).
      val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
      val phone = "\\+?[0-9][0-9 ()-]{6,}[0-9]"
      val masked = regexp_replace(regexp_replace(regexp_replace(
        col("props"), lit(email), lit("<EMAIL>")),
        lit(phone), lit("<PHONE>")),
        lit("[0-9]+"), lit("<NUM>"))
      Tables.events(s, d)
        .select(col("event_type"), masked.as("masked"),
          col("props").rlike(email).as("had_email"),
          col("props").rlike("[0-9]").as("had_digits"))
        .groupBy("event_type", "masked", "had_email", "had_digits")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type", "masked", "had_email", "had_digits")
    }),

    "text_html_strip" -> ((s, d) => {
      // HTML boilerplate removal — stage one of every web-crawl
      // curation pipeline (strip markup, drop script/style/nav/footer
      // chrome, decode entities, collapse whitespace) and the step
      // whose quality decides everything downstream. The fixture holds
      // clean text, so the page is CONSTRUCTED deterministically
      // per row (title/nav/script/style/footer chrome around the
      // entity-escaped document body) — which makes the constructor
      // double as ground truth: `extract_ok` proves the extractor
      // returns exactly the text that went in, per row, in both
      // engines. Cost shape: map-only codegen'd regex chain, zero
      // shuffles; patterns stay in the Java∩RE2 subset (no
      // backreferences — nav and footer are separate patterns), so
      // the oracle replays them verbatim. Entity decode runs in
      // reverse encode order (&lt;/&gt; before &amp;) — the standard
      // trick that makes escape∘unescape the identity even for text
      // that already contains entity-looking sequences.
      val esc = "replace(replace(replace(text, '&', '&amp;'), " +
        "'<', '&lt;'), '>', '&gt;')"
      val page = "concat('<html><head><title>Doc ', doc_id, " +
        "'</title><style>p{margin:0;padding:0}</style>" +
        "<script type=\"text/javascript\">var n=1; if(n<2){n=2}</script>" +
        "</head><body><nav><ul><li><a href=\"/\">Home</a></li>" +
        "<li><a href=\"/about\">About</a></li></ul></nav><h1>', " +
        s"source, '</h1><p class=\"main\">', $esc, " +
        "'</p><footer>&copy; 2026 corpus &amp; crawler</footer>" +
        "</body></html>')"
      val doc = Tables.documents(s, d)
        .withColumn("page", expr(page))
      val noBlocks = Seq("script", "style", "nav", "footer")
        .foldLeft(col("page")) { (c, tag) =>
          regexp_replace(c, s"(?s)<$tag[^>]*>.*?</$tag>", " ")
        }
      val noTags = regexp_replace(noBlocks, "<[^>]+>", " ")
      val decoded = expr(
        "replace(replace(replace(__notags, '&lt;', '<'), " +
          "'&gt;', '>'), '&amp;', '&')")
      val cleaned = doc
        .withColumn("__notags", noTags)
        .withColumn("clean",
          trim(regexp_replace(decoded, "[ \\t\\r\\n]+", " ")))
        .withColumn("expected", trim(regexp_replace(
          expr("concat('Doc ', doc_id, ' ', source, ' ', text)"),
          "[ \\t\\r\\n]+", " ")))
      cleaned.select(col("doc_id"),
          substring(col("clean"), 1, 60).as("prefix"),
          length(col("page")).as("raw_len"),
          length(col("clean")).as("clean_len"),
          round(length(col("clean")).cast(DoubleType)
            / length(col("page")), 4).as("retained"),
          (col("clean") === col("expected")).as("extract_ok"))
        .orderBy("doc_id")
    }),

    "text_bpe_train" -> ((s, d) => {
      val (_, rules) = bpeMerged(s, d)
      rules.reduce(_.unionAll(_)).orderBy("step")
    }),

    "text_bpe_encode" -> ((s, d) => {
      // BPE ENCODE — the apply half of the tokenizer round trip: the
      // corpus token table under the 6 trained merges. Tokenization
      // falls straight out of training's final word-repr table (the
      // fastBPE property: encoding IS the trained repr split), so the
      // whole key is vocab-sized work — per-token totals weight each
      // word's count (per occurrence, so a word holding a token twice
      // contributes its count twice), n_words counts DISTINCT words
      // containing the token (countDistinct, so that same word counts
      // once), is_merged marks multi-char (learned) symbols. At 100 TB
      // the corpus pays only the word-frequency groupBy it already
      // paid for training; everything after is broadcast-scale.
      val (fin, _) = bpeMerged(s, d)
      fin.select(col("w"), col("cnt"),
          explode(expr("filter(split(trim(repr), ' '), x -> x != '')"))
            .as("token"))
        .groupBy("token")
        .agg(sum(col("cnt")).as("total_count"),
          countDistinct(col("w")).as("n_words"))
        .withColumn("is_merged", length(col("token")) > 1)
        .orderBy(col("total_count").desc, col("token"))
        .limit(20)
    }),
  )

  /** Shared BPE training pipeline: word-frequency table → 6 merge
    * rounds → (final word reprs, per-round rule frames). Backs both
    * text_bpe_train (the rules) and text_bpe_encode (the reprs).
    */
  private def bpeMerged(s: SparkSession, d: String)
      : (DataFrame, Seq[DataFrame]) = {
      // BPE vocabulary training — learn the first 6 merge rules over
      // the corpus, the algorithm behind every production subword
      // tokenizer. The 100 TB shape is the critical part: the corpus
      // collapses to a WORD-FREQUENCY table in one groupBy (vocab-
      // sized, not corpus-sized — exactly how fastBPE/HuggingFace
      // train), and every merge round then runs on that small table:
      // pair-count aggregate (map-side partial over ≤len-1 pairs per
      // word) → argmax by the (count DESC, pair ASC) total order →
      // broadcast the ONE winning rule into a map-only merge apply.
      // Words are space-joined symbol strings with sentinel spaces;
      // applying a merge is 4 chained replace() calls of ' a b '→' ab '
      // — each pass merges every other occurrence of an overlapping
      // run, and 4 passes cover the longest run a ≤20-char word can
      // hold, reproducing greedy left-to-right BPE exactly. The word
      // filter keeps ^[a-z]+$ tokens so ' ' is a safe separator
      // (production reserves a separator byte instead). Fully
      // deterministic: integer counts, lexicographic tie-break, same
      // replace semantics in both engines.
      val words = Tables.documents(s, d)
        .select(explode(split(lower(col("text")), "\\s+")).as("w"))
        .filter(col("w").rlike("^[a-z]+$") && length(col("w")) <= 20)
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .select(col("w"), col("cnt"),
          concat(lit(" "), expr("regexp_replace(w, '(.)', '$1 ')"))
            .as("repr"))
      // Round 17 (second formulation): the whole 6-round merge loop
      // runs inside ONE expression over a single-row array image of
      // the word-frequency table — the lm_generate/pca_power idiom.
      // The previous shape (6 rounds of pair-agg → argmax-limit(1) →
      // crossJoin(broadcast) merge apply, each round coalesce(1) +
      // eagerly checkpointed) cost 28 driver-barrier jobs over a
      // vocab-sized table at EVERY scale; the first round-17 attempt
      // (drop only the checkpoints) measured a NET regression (med
      // 2.88 → 3.24 s: six nested crossJoin+agg levels re-optimize per
      // broadcast build). Folding the rounds into one `aggregate(
      // sequence(1, 6), ...)` removes both the barriers AND the
      // deepening plan: the corpus pays exactly its one word-frequency
      // groupBy (unchanged — the 100 TB-critical part), and training
      // then runs where fastBPE/HuggingFace run it — on the collapsed
      // vocab-bounded table in one task (the old loop was already
      // coalesce(1): single-task rounds, just with 28 barriers around
      // them). Arithmetic is replayed term for term:
      //  - per-round pair counts: each word emits its adjacent symbol
      //    pairs weighted by cnt (same transform/sequence expansion);
      //    counts fold by a linear walk over the (a, b)-sorted pair
      //    array — run-length sum == the old groupBy sum;
      //  - argmax: the walk keeps a run only when STRICTLY greater, so
      //    ties resolve to the smallest (a, b) — identical to the old
      //    ORDER BY pcnt DESC, a, b LIMIT 1 under the same binary
      //    string order (array_sort == ORDER BY for these fields);
      //  - merge apply: the same 4 chained replace() calls with the
      //    same ' a b ' → ' ab ' sentinel patterns.
      // Every intermediate (the symbol array, the sorted pair array,
      // the winning rule) is LET-BOUND via 1-element transform()
      // arrays (the pca_power lesson: an unbound vector re-evaluates
      // per use). HOFs are CodegenFallback — irrelevant on one row.
      val one = words.agg(
        expr("array_sort(collect_list(struct(w, cnt, repr)))").as("ws0"))
      // best pair of the CURRENT word array st.ws: expand, sort, walk.
      // Accumulator: (ba, bb, bc) = best closed run, (ca, cb, cc) =
      // current run. bc starts at -1 so an empty pair array yields the
      // ('', '', 0) sentinel (unreachable on any fixture: every SF has
      // multi-symbol words, same as the old empty-limit(1) edge).
      val bestExpr =
        "aggregate(" +
          "array_sort(flatten(transform(st.ws, r -> " +
            "element_at(transform(array(" +
              "filter(split(trim(r.repr), ' '), x -> x != '')), sy -> " +
              // single-symbol words hold no pairs — and sequence()
              // would DESCEND for size 1 (sequence(0,-1) = [0,-1]), so
              // the guard is correctness, not just economy
              "IF(size(sy) < 2, " +
                "CAST(array() AS array<struct<a:string,b:string,cnt:bigint>>), " +
                "transform(sequence(0, size(sy) - 2), " +
                  "i -> struct(sy[i] AS a, sy[i + 1] AS b, r.cnt AS cnt)))" +
            "), 1)))), " +
          "struct(CAST('' AS STRING) AS ba, CAST('' AS STRING) AS bb, " +
            "CAST(-1 AS BIGINT) AS bc, CAST('' AS STRING) AS ca, " +
            "CAST('' AS STRING) AS cb, CAST(0 AS BIGINT) AS cc), " +
          "(ac, p) -> IF(p.a = ac.ca AND p.b = ac.cb, " +
            "struct(ac.ba AS ba, ac.bb AS bb, ac.bc AS bc, " +
              "ac.ca AS ca, ac.cb AS cb, (ac.cc + p.cnt) AS cc), " +
            "IF(ac.cc > ac.bc, " +
              "struct(ac.ca AS ba, ac.cb AS bb, ac.cc AS bc, " +
                "p.a AS ca, p.b AS cb, p.cnt AS cc), " +
              "struct(ac.ba AS ba, ac.bb AS bb, ac.bc AS bc, " +
                "p.a AS ca, p.b AS cb, p.cnt AS cc))), " +
          "ac -> IF(ac.cc > ac.bc, " +
            "struct(ac.ca AS a, ac.cb AS b, ac.cc AS pcnt), " +
            "struct(ac.ba AS a, ac.bb AS b, ac.bc AS pcnt)))"
      val patExpr = "concat(' ', best.a, ' ', best.b, ' ')"
      val repExpr = "concat(' ', best.a, best.b, ' ')"
      val foldExpr =
        "aggregate(sequence(1, 6), " +
          "struct(ws0 AS ws, CAST(array() AS array<struct<" +
            "step:int,lhs:string,rhs:string,merged:string," +
            "pair_cnt:bigint>>) AS rules), " +
          "(st, step) -> element_at(transform(array(" + bestExpr +
            "), best -> struct(" +
            "transform(st.ws, r -> struct(r.w AS w, r.cnt AS cnt, " +
              s"replace(replace(replace(replace(r.repr, $patExpr, " +
              s"$repExpr), $patExpr, $repExpr), $patExpr, $repExpr), " +
              s"$patExpr, $repExpr) AS repr)) AS ws, " +
            // degenerate-round guard (round 18, ADVICE): an empty pair
            // array yields the ('', '', 0) sentinel best — appending it
            // would diverge from the old crossJoin-with-empty-limit(1)
            // shape, whose rule frame stayed EMPTY on that edge. Keep
            // st.rules unchanged instead (unreachable on any fixture:
            // every SF has multi-symbol words; oracle hash-identical).
            "IF(best.pcnt <= 0, st.rules, " +
              "concat(st.rules, array(struct(step AS step, " +
              "best.a AS lhs, best.b AS rhs, " +
              "concat(best.a, best.b) AS merged, " +
              "best.pcnt AS pair_cnt)))) AS rules)), 1))"
      val folded = one.select(expr(foldExpr).as("st"))
      val fin = folded.select(explode(col("st.ws")).as("r"))
        .select(col("r.w").as("w"), col("r.cnt").as("cnt"),
          col("r.repr").as("repr"))
      val rules = folded.select(explode(col("st.rules")).as("r"))
        .select(col("r.step").as("step"), col("r.lhs").as("lhs"),
          col("r.rhs").as("rhs"), col("r.merged").as("merged"),
          col("r.pair_cnt").as("pair_cnt"))
      (fin, Seq(rules))
  }

  private val toksSql = "list_filter(string_split(text, ' '), x -> x <> '')"

  /** Fixed-point moment sums over the (x, y) log-log points — shared
    * verbatim with the oracle (ln is per-row; sums are order-free
    * floored longs). */
  private val ZipfSums: Seq[String] = Seq(
    "CAST(count(*) AS DOUBLE) AS n",
    "CAST(sum(CAST(floor(x * 1099511627776.0) AS BIGINT)) AS DOUBLE)" +
      " / 1099511627776.0 AS sx",
    "CAST(sum(CAST(floor(y * 1099511627776.0) AS BIGINT)) AS DOUBLE)" +
      " / 1099511627776.0 AS sy",
    "CAST(sum(CAST(floor(x * y * 1099511627776.0) AS BIGINT)) AS DOUBLE)" +
      " / 1099511627776.0 AS sxy",
    "CAST(sum(CAST(floor(x * x * 1099511627776.0) AS BIGINT)) AS DOUBLE)" +
      " / 1099511627776.0 AS sxx",
    "CAST(sum(CAST(floor(y * y * 1099511627776.0) AS BIGINT)) AS DOUBLE)" +
      " / 1099511627776.0 AS syy")

  /** Simple-OLS closed form over the moment row — shared verbatim. */
  private val ZipfSolve: Seq[String] = {
    val slope = "((n * sxy - sx * sy) / (n * sxx - sx * sx))"
    Seq("CAST(n AS BIGINT) AS n_terms",
      s"round($slope, 4) AS slope",
      s"round((sy - $slope * sx) / n, 4) AS intercept",
      "round((n * sxy - sx * sy) * (n * sxy - sx * sy)" +
        " / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS r2")
  }

  val oracles: Map[String, String] = Map(
    // Same md5 bucket + independent md5 sign bit, replayed per token.
    "text_feature_hash" ->
      s"""SELECT doc_id, idx, weight FROM (
           SELECT doc_id,
                  ${Det.md5SliceSql("tok", 1, 8)} % $HashDim AS idx,
                  CAST(sum(CASE WHEN ${Det.md5SliceSql("tok", 9, 1)} % 2 = 0
                                THEN 1 ELSE -1 END) AS BIGINT) AS weight
           FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
           GROUP BY 1, 2)
         WHERE weight <> 0
         ORDER BY doc_id, idx""",

    // Same md5 weight table replayed per distinct token; exact integer
    // tf·w sums, one IEEE division for the mean.
    "text_classifier_score" ->
      s"""SELECT doc_id, score_fx, n_toks,
                round(CAST(score_fx AS DOUBLE) / n_toks, 6) AS score_avg,
                score_fx > 0 AS keep
         FROM (
           SELECT doc_id,
                  CAST(sum(tf * (${Det.md5SliceSql("tok", 1, 8)} % 2001
                                 - 1000)) AS BIGINT) AS score_fx,
                  CAST(sum(tf) AS BIGINT) AS n_toks
           FROM (SELECT doc_id, tok, count(*) AS tf
                 FROM (SELECT doc_id, unnest($toksSql) AS tok
                       FROM documents)
                 GROUP BY 1, 2)
           GROUP BY doc_id)
         ORDER BY doc_id""",

    "text_wordcount" ->
      s"""SELECT word, count(*) AS cnt
         FROM (SELECT unnest($toksSql) AS word FROM documents)
         GROUP BY word ORDER BY cnt DESC, word LIMIT 20""",

    "text_bigram_prob" ->
      s"""WITH grams AS (
           SELECT tok AS w1, nxt AS w2 FROM (
             SELECT tok, lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
             FROM (SELECT doc_id, unnest(tokens) AS tok,
                          unnest(range(1, len(tokens)+1)) AS pos
                   FROM (SELECT doc_id, $toksSql AS tokens FROM documents)))
           WHERE nxt IS NOT NULL),
         c12 AS (SELECT w1, w2, count(*) AS c12 FROM grams GROUP BY 1, 2),
         c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1)
         SELECT c12.w1, w2, c12,
             round(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE), 4) AS p
         FROM c12 JOIN c1 ON c12.w1 = c1.w1
         ORDER BY c12 DESC, c12.w1, w2 LIMIT 20""",

    // Same bigram table, same (count DESC, token ASC) argmax per
    // step, 8 unrolled scalar-subquery rounds.
    "text_lm_generate" ->
      s"""WITH grams AS (
           SELECT tok AS w1, nxt AS w2 FROM (
             SELECT tok, lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
             FROM (SELECT doc_id, unnest(tokens) AS tok,
                          unnest(range(1, len(tokens)+1)) AS pos
                   FROM (SELECT doc_id, $toksSql AS tokens FROM documents)))
           WHERE nxt IS NOT NULL),
         bi AS MATERIALIZED (SELECT w1, w2, count(*) AS c12
                             FROM grams GROUP BY 1, 2),
         g0 AS (SELECT w1 AS word FROM (
                  SELECT w1, count(*) AS c FROM grams GROUP BY 1)
                ORDER BY c DESC, w1 LIMIT 1),
         ${(1 to 8).map(k =>
           s"""g$k AS (SELECT w2 AS word FROM bi
               WHERE w1 = (SELECT word FROM g${k - 1})
               ORDER BY c12 DESC, w2 LIMIT 1)""").mkString(",\n         ")}
         SELECT * FROM (${(0 to 8).map(k =>
             s"SELECT $k AS step, word FROM g$k").mkString(" UNION ALL ")})
         ORDER BY step""",

    // Same top-100 ranked vocab, same fixed-point log-log moments and
    // shared OLS solve strings.
    "text_zipf_fit" ->
      s"""WITH ranked AS (
           SELECT row_number() OVER (ORDER BY cnt DESC, tok) AS rank, cnt
           FROM (SELECT tok, count(*) AS cnt FROM (
                   SELECT unnest($toksSql) AS tok FROM documents)
                 GROUP BY 1 ORDER BY cnt DESC, tok LIMIT 100)),
         pts AS (SELECT CAST(ln(CAST(rank AS DOUBLE)) AS DOUBLE) AS x,
                        CAST(ln(CAST(cnt AS DOUBLE)) AS DOUBLE) AS y
                 FROM ranked),
         sums AS (SELECT ${ZipfSums.mkString(",\n           ")}
                  FROM pts)
         SELECT ${ZipfSolve.mkString(",\n           ")}
         FROM sums""",

    // Same pair-table derivation; pmi replays as the identical
    // closed-form ln over exact BIGINT counts, ranked on the raw
    // double with the full (w1, w2) tiebreak.
    "text_pmi_collocations" ->
      s"""WITH grams AS (
           SELECT tok AS w1, nxt AS w2 FROM (
             SELECT tok, lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
             FROM (SELECT doc_id, unnest(tokens) AS tok,
                          unnest(range(1, len(tokens)+1)) AS pos
                   FROM (SELECT doc_id, $toksSql AS tokens FROM documents)))
           WHERE nxt IS NOT NULL),
         c12 AS (SELECT w1, w2, count(*) AS c12 FROM grams GROUP BY 1, 2),
         c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
         c2 AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM c12 GROUP BY 1),
         n AS (SELECT CAST(sum(c12) AS BIGINT) AS nn FROM c12),
         scored AS (SELECT c12.w1, c12.w2, c12.c12,
             ln((CAST(c12 AS DOUBLE) * CAST(nn AS DOUBLE))
               / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))) AS pmi
           FROM c12
           JOIN c1 ON c12.w1 = c1.w1
           JOIN c2 ON c12.w2 = c2.w2
           CROSS JOIN n
           WHERE c12 >= 5)
         SELECT w1, w2, c12, round(pmi, 6) AS pmi
         FROM scored ORDER BY pmi DESC, w1, w2 LIMIT 20""",

    "text_vocab" ->
      s"""SELECT source, count(*) AS n_tokens,
             count(DISTINCT tok) AS n_types,
             round(CAST(count(DISTINCT tok) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE), 4) AS ttr
         FROM (SELECT source, unnest($toksSql) AS tok FROM documents)
         GROUP BY source ORDER BY source""",

    "text_ngrams" ->
      s"""SELECT gram, count(*) AS cnt FROM (
           SELECT tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS gram
           FROM (SELECT doc_id, unnest(tokens) AS tok,
                        unnest(range(1, len(tokens)+1)) AS pos
                 FROM (SELECT doc_id, $toksSql AS tokens FROM documents)))
         WHERE gram IS NOT NULL
         GROUP BY gram ORDER BY cnt DESC, gram LIMIT 20""",

    "text_tfidf" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         dfreq AS (SELECT term, count(*) AS df
                   FROM (SELECT DISTINCT doc_id, term FROM t) GROUP BY term),
         nd AS (SELECT count(*) AS n_docs FROM documents)
         SELECT doc_id, term, tf, df, score, CAST(rnk AS INTEGER) AS rnk FROM (
           SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
                  round(tf.tf * ln(CAST(nd.n_docs + 1 AS DOUBLE) / (dfreq.df + 1)), 4) AS score,
                  row_number() OVER (PARTITION BY tf.doc_id
                    ORDER BY round(tf.tf * ln(CAST(nd.n_docs + 1 AS DOUBLE) / (dfreq.df + 1)), 4) DESC,
                             tf.term) AS rnk
           FROM tf JOIN dfreq USING (term) CROSS JOIN nd)
         WHERE rnk <= 3 ORDER BY doc_id, rnk""",

    "text_lang_stats" ->
      """SELECT lang, count(*) AS n_docs,
             round(CAST(sum(n_chars) AS DOUBLE) / count(*), 4) AS avg_chars,
             count(DISTINCT source) AS n_sources
         FROM documents GROUP BY lang ORDER BY lang""",

    "text_langid" ->
      s"""WITH lex(w, lg) AS (VALUES
           ('the','en'),('fast','en'),('small','en'),('slow','en'),
           ('le','fr'),('vite','fr'),('petit','fr'),
           ('el','es'),('rapido','es'),('der','de'),('schnell','de')),
         t AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         hits AS (SELECT doc_id, lg, count(*) AS hits
                  FROM t JOIN lex ON term = w GROUP BY 1, 2),
         best AS (SELECT doc_id, lg, hits FROM (
                    SELECT doc_id, lg, hits,
                           row_number() OVER (PARTITION BY doc_id
                             ORDER BY hits DESC, lg) AS rn
                    FROM hits) WHERE rn = 1)
         SELECT d.doc_id, coalesce(b.lg, 'und') AS pred_lang,
                coalesce(b.hits, 0) AS hits
         FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
         ORDER BY d.doc_id""",

    "text_quality" ->
      s"""SELECT doc_id,
             CAST(length(text) AS INTEGER) AS len_chars,
             CAST(len(tokens) AS INTEGER) AS n_tokens,
             round(CAST(sum_len AS DOUBLE) / nullif(len(tokens), 0), 4) AS avg_tok_len,
             round(CAST(n_stop AS DOUBLE) / nullif(len(tokens), 0), 4) AS stop_ratio,
             round(least(1.0, CAST(len(tokens) AS DOUBLE) / 100.0)
                   * (1.0 - CAST(n_stop AS DOUBLE) / nullif(len(tokens), 0)), 4) AS quality
         FROM (SELECT doc_id, text, tokens,
                 list_aggregate(list_transform(tokens, x -> CAST(length(x) AS BIGINT)), 'sum') AS sum_len,
                 len(list_filter(tokens, x -> x IN ('the','a','of','and','to'))) AS n_stop
               FROM (SELECT doc_id, text, $toksSql AS tokens FROM documents))
         ORDER BY doc_id""",

    "text_tokencount" ->
      s"""SELECT doc_id,
             CAST(len(tokens) AS INTEGER) AS ws_tokens,
             CAST(len(list_distinct(tokens)) AS INTEGER) AS distinct_tokens,
             CAST(list_aggregate(list_transform(tokens,
               x -> CAST(ceil(length(x) / 4.0) AS BIGINT)), 'sum') AS BIGINT) AS bpe_est
         FROM (SELECT doc_id, $toksSql AS tokens FROM documents)
         ORDER BY doc_id""",

    "text_fingerprint" ->
      s"""SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS n_same_fp
         FROM (SELECT doc_id,
                 md5(array_to_string(list_sort(list_distinct($toksSql)), ' ')) AS fp
               FROM documents)
         ORDER BY doc_id""",

    "text_quality_buckets" ->
      s"""WITH scored AS (
           SELECT doc_id,
                  round(least(1.0, CAST(len(tokens) AS DOUBLE) / 100.0)
                    * (1.0 - CAST(len(list_filter(tokens,
                         x -> x IN ('the','a','of','and','to'))) AS DOUBLE)
                       / nullif(len(tokens), 0)), 4) AS quality
           FROM (SELECT doc_id, $toksSql AS tokens FROM documents)),
         bounds AS (
           SELECT list_transform(
                    quantile_cont(quality, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
                    b -> round(b, 4)) AS bs
           FROM scored)
         SELECT doc_id, quality,
                CAST(1 + len(list_filter(bs, b -> quality > b)) AS INTEGER) AS decile
         FROM scored, bounds ORDER BY doc_id""",

    "text_perplexity" ->
      s"""WITH t AS (
           SELECT doc_id, unnest($toksSql) AS term FROM documents),
         uni AS (SELECT term, count(*) AS cnt FROM t GROUP BY term),
         tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM uni),
         q AS (SELECT doc_id,
                 CAST(floor((ln(CAST(total AS DOUBLE)) - ln(CAST(cnt AS DOUBLE)))
                   * 1048576.0) AS BIGINT) AS q
               FROM t JOIN uni USING (term), tot)
         SELECT doc_id, count(*) AS n_tok,
                round(CAST(sum(q) AS DOUBLE) / 1048576.0 / count(*), 4)
                  AS avg_surprise
         FROM q GROUP BY doc_id ORDER BY doc_id""",

    "text_repetition" ->
      s"""WITH grams AS (
           SELECT doc_id, tok || ' ' || nxt AS gram FROM (
             SELECT doc_id, tok,
                    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
             FROM (SELECT doc_id, unnest(tokens) AS tok,
                          unnest(range(1, len(tokens)+1)) AS pos
                   FROM (SELECT doc_id, $toksSql AS tokens FROM documents)))
           WHERE nxt IS NOT NULL),
         per AS (SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY 1, 2)
         SELECT doc_id, n_grams,
                round(1.0 - CAST(n_distinct AS DOUBLE) / n_grams, 4) AS dup_gram_ratio,
                round(CAST(top_c AS DOUBLE) / n_grams, 4) AS top_gram_ratio,
                (round(1.0 - CAST(n_distinct AS DOUBLE) / n_grams, 4) > 0.3)
                  AS repetitive
         FROM (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
                      count(*) AS n_distinct, max(c) AS top_c
               FROM per GROUP BY doc_id)
         ORDER BY doc_id""",

    // Same 32-char stride-16 shingles: DuckDB range() is
    // exclusive-upper, Spark sequence() inclusive — range(1, L-30, 16)
    // and sequence(1, L-31, 16) generate the identical index set for
    // every length (largest 1+16k ≤ L-31 in both).
    "text_substring_dup" ->
      """WITH sh AS (
           SELECT doc_id, substring(text, CAST(i AS INTEGER), 32)
                    AS shingle
           FROM (SELECT doc_id, text,
                        unnest(range(1, length(text) - 30, 16)) AS i
                 FROM documents WHERE length(text) >= 32))
         SELECT shingle,
                CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                CAST(count(*) AS BIGINT) AS n_occurrences,
                CAST(min(doc_id) AS BIGINT) AS min_doc
         FROM sh GROUP BY 1
         HAVING count(DISTINCT doc_id) >= 2
         ORDER BY n_docs DESC, n_occurrences DESC, shingle
         LIMIT 20""",

    "text_decontaminate" ->
      s"""WITH grams AS (
           SELECT DISTINCT doc_id,
                  tok || ' ' || t1 || ' ' || t2 || ' ' || t3 || ' ' || t4 AS gram
           FROM (
             SELECT doc_id, tok,
                    lead(tok, 1) OVER w AS t1, lead(tok, 2) OVER w AS t2,
                    lead(tok, 3) OVER w AS t3, lead(tok, 4) OVER w AS t4
             FROM (SELECT doc_id, unnest(tokens) AS tok,
                          unnest(range(1, len(tokens)+1)) AS pos
                   FROM (SELECT doc_id, $toksSql AS tokens FROM documents))
             WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
           WHERE t4 IS NOT NULL),
         bucketed AS (
           SELECT doc_id, gram, ${SampleOps.hexBucketSql} AS b FROM grams)
         SELECT t.doc_id, count(DISTINCT t.gram) AS n_hit_grams,
                count(DISTINCT e.doc_id) AS n_eval_docs
         FROM (SELECT doc_id, gram FROM bucketed WHERE b < 8) t
         JOIN (SELECT doc_id, gram FROM bucketed WHERE b = 9) e
           ON t.gram = e.gram
         GROUP BY t.doc_id HAVING count(DISTINCT t.gram) >= 3
         ORDER BY t.doc_id""",

    // The composed pipeline replays each stage's already-proven oracle
    // fragment in one WITH chain: bucket split → lexicon langid →
    // quality gate → md5 dedup → 5-gram decontamination anti-join.
    "etl_corpus_curate" ->
      s"""WITH train AS (
           SELECT doc_id, text FROM
             (SELECT doc_id, text, ${SampleOps.hexBucketSql} AS b
              FROM documents) WHERE b < 8),
         lex(w, lg) AS (VALUES
           ('the','en'),('fast','en'),('small','en'),('slow','en'),
           ('le','fr'),('vite','fr'),('petit','fr'),
           ('el','es'),('rapido','es'),('der','de'),('schnell','de')),
         terms AS (SELECT doc_id, unnest($toksSql) AS term FROM train),
         hits AS (SELECT doc_id, lg, count(*) AS hits
                  FROM terms JOIN lex ON term = w GROUP BY 1, 2),
         english AS (
           SELECT doc_id FROM (
             SELECT doc_id, lg, row_number() OVER (PARTITION BY doc_id
               ORDER BY hits DESC, lg) AS rn
             FROM hits) WHERE rn = 1 AND lg = 'en'),
         gated AS (
           SELECT doc_id, n_tokens, quality FROM (
             SELECT doc_id, CAST(len(tokens) AS INTEGER) AS n_tokens,
                    round(least(1.0, CAST(len(tokens) AS DOUBLE) / 100.0)
                      * (1.0 - CAST(len(list_filter(tokens,
                           x -> x IN ('the','a','of','and','to'))) AS DOUBLE)
                         / nullif(len(tokens), 0)), 4) AS quality
             FROM (SELECT doc_id, $toksSql AS tokens FROM train))
           WHERE n_tokens >= 30 AND quality >= 0.3),
         surv AS (
           SELECT t.doc_id, t.text, g.n_tokens, g.quality
           FROM train t JOIN english USING (doc_id) JOIN gated g USING (doc_id)),
         dedup AS (
           SELECT doc_id, n_tokens, quality FROM (
             SELECT doc_id, n_tokens, quality,
                    row_number() OVER (PARTITION BY md5(lower(trim(text)))
                      ORDER BY doc_id) AS rn
             FROM surv) WHERE rn = 1),
         grams AS (
           SELECT DISTINCT doc_id,
                  tok || ' ' || t1 || ' ' || t2 || ' ' || t3 || ' ' || t4 AS gram
           FROM (
             SELECT doc_id, tok,
                    lead(tok, 1) OVER w AS t1, lead(tok, 2) OVER w AS t2,
                    lead(tok, 3) OVER w AS t3, lead(tok, 4) OVER w AS t4
             FROM (SELECT doc_id, unnest(tokens) AS tok,
                          unnest(range(1, len(tokens)+1)) AS pos
                   FROM (SELECT doc_id, $toksSql AS tokens FROM documents))
             WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
           WHERE t4 IS NOT NULL),
         gbucketed AS (
           SELECT doc_id, gram, ${SampleOps.hexBucketSql} AS b FROM grams),
         contam AS (
           SELECT t.doc_id
           FROM (SELECT doc_id, gram FROM gbucketed WHERE b < 8) t
           JOIN (SELECT doc_id, gram FROM gbucketed WHERE b = 9) e
             ON t.gram = e.gram
           GROUP BY t.doc_id HAVING count(DISTINCT t.gram) >= 3)
         SELECT d.doc_id, d.n_tokens, d.quality
         FROM dedup d LEFT JOIN contam c ON d.doc_id = c.doc_id
         WHERE c.doc_id IS NULL
         ORDER BY d.doc_id""",

    "text_gopher_rules" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         cnt AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
         agg AS (
           SELECT doc_id,
                  CAST(sum(c) AS BIGINT) AS n_tokens,
                  CAST(max(c) AS BIGINT) AS top_c,
                  CAST(sum(CASE WHEN tok IN ('the','a','of','and','to')
                           THEN c ELSE 0 END) AS BIGINT) AS n_stop,
                  CAST(sum(length(tok) * c) AS BIGINT) AS sum_len
           FROM cnt GROUP BY doc_id)
         SELECT d.doc_id,
                coalesce(a.n_tokens, 0) AS n_tokens,
                round(CAST(a.sum_len AS DOUBLE) / a.n_tokens, 4) AS avg_tok_len,
                coalesce(a.n_stop, 0) AS n_stop,
                round(CAST(a.top_c AS DOUBLE) / a.n_tokens, 4) AS top_tok_share,
                coalesce(a.n_tokens, 0) BETWEEN 30 AND 100000 AS r_len,
                coalesce(CAST(a.sum_len AS DOUBLE) / a.n_tokens
                         BETWEEN 2.0 AND 10.0, false) AS r_avg,
                coalesce(a.n_stop >= 2, false) AS r_stop,
                coalesce(CAST(a.top_c AS DOUBLE) / a.n_tokens <= 0.2, false)
                  AS r_rep,
                (coalesce(a.n_tokens, 0) BETWEEN 30 AND 100000)
                  AND coalesce(CAST(a.sum_len AS DOUBLE) / a.n_tokens
                               BETWEEN 2.0 AND 10.0, false)
                  AND coalesce(a.n_stop >= 2, false)
                  AND coalesce(CAST(a.top_c AS DOUBLE) / a.n_tokens <= 0.2,
                               false) AS keep
         FROM documents d LEFT JOIN agg a USING (doc_id)
         ORDER BY d.doc_id""",

    "text_line_dedup" ->
      s"""WITH tk AS (
           SELECT doc_id, $toksSql AS tk FROM documents),
         lines AS (
           SELECT doc_id, i AS idx,
                  array_to_string(tk[i*10+1 : i*10+10], ' ') AS line
           FROM (SELECT doc_id, tk,
                        unnest(range(0, (len(tk)-1)//10 + 1)) AS i
                 FROM tk WHERE len(tk) > 0)),
         r AS (
           SELECT doc_id, idx,
                  row_number() OVER (PARTITION BY md5(line)
                    ORDER BY doc_id, idx) AS rn
           FROM lines)
         SELECT doc_id, count(*) AS n_lines,
                CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                round(CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                      / count(*), 4) AS kept_ratio
         FROM r GROUP BY doc_id ORDER BY doc_id""",

    "text_pii_mask" ->
      """SELECT event_type,
             regexp_replace(regexp_replace(regexp_replace(props,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
               '\+?[0-9][0-9 ()-]{6,}[0-9]', '<PHONE>', 'g'),
               '[0-9]+', '<NUM>', 'g') AS masked,
             regexp_matches(props,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}') AS had_email,
             regexp_matches(props, '[0-9]') AS had_digits,
             count(*) AS n
         FROM events
         GROUP BY event_type, masked, had_email, had_digits
         ORDER BY event_type, masked, had_email, had_digits""",

    // Replays the page constructor and the strip chain verbatim (same
    // Java∩RE2 patterns, DuckDB's regexp_replace needs the explicit 'g'
    // flag for the global semantics Spark has by default).
    "text_html_strip" ->
      """WITH pages AS (SELECT doc_id, source, text,
             concat('<html><head><title>Doc ', doc_id,
               '</title><style>p{margin:0;padding:0}</style>',
               '<script type="text/javascript">var n=1; if(n<2){n=2}</script>',
               '</head><body><nav><ul><li><a href="/">Home</a></li>',
               '<li><a href="/about">About</a></li></ul></nav><h1>',
               source, '</h1><p class="main">',
               replace(replace(replace(text, '&', '&amp;'),
                 '<', '&lt;'), '>', '&gt;'),
               '</p><footer>&copy; 2026 corpus &amp; crawler</footer>',
               '</body></html>') AS page
           FROM documents),
         stripped AS (SELECT doc_id, source, text, page,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               page,
               '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
               '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
               '(?s)<nav[^>]*>.*?</nav>', ' ', 'g'),
               '(?s)<footer[^>]*>.*?</footer>', ' ', 'g') AS noblocks
           FROM pages),
         cleaned AS (SELECT doc_id, page,
             trim(regexp_replace(
               replace(replace(replace(
                 regexp_replace(noblocks, '<[^>]+>', ' ', 'g'),
                 '&lt;', '<'), '&gt;', '>'), '&amp;', '&'),
               '[ \t\r\n]+', ' ', 'g')) AS clean,
             trim(regexp_replace(
               concat('Doc ', doc_id, ' ', source, ' ', text),
               '[ \t\r\n]+', ' ', 'g')) AS expected
           FROM stripped)
         SELECT doc_id, substring(clean, 1, 60) AS prefix,
                CAST(length(page) AS INTEGER) AS raw_len,
                CAST(length(clean) AS INTEGER) AS clean_len,
                round(CAST(length(clean) AS DOUBLE) / length(page), 4)
                  AS retained,
                clean = expected AS extract_ok
         FROM cleaned ORDER BY doc_id""",

    // Replays the 6 merge rounds verbatim: same word filter, same
    // sentinel symbol strings, same (count DESC, pair ASC) argmax, and
    // the same 4-pass replace() apply per round.
    "text_bpe_train" ->
      s"""WITH $bpeCtes
         SELECT step, a AS lhs, b AS rhs, a || b AS merged,
                CAST(pcnt AS BIGINT) AS pair_cnt
         FROM (${(1 to 6).map(k =>
             s"SELECT $k AS step, a, b, pcnt FROM best$k")
           .mkString(" UNION ALL ")})
         ORDER BY step""",

    // Same trained reprs (the shared CTE chain's repr7), same
    // frequency-weighted token rollup.
    "text_bpe_encode" ->
      s"""WITH $bpeCtes,
         tok AS (SELECT w, cnt,
             unnest(list_filter(string_split(trim(repr), ' '),
               x -> x <> '')) AS token
           FROM repr7)
         SELECT token, CAST(sum(cnt) AS BIGINT) AS total_count,
                CAST(count(DISTINCT w) AS BIGINT) AS n_words,
                length(token) > 1 AS is_merged
         FROM tok GROUP BY 1
         ORDER BY total_count DESC, token LIMIT 20"""
  )

  /** Shared BPE oracle CTE chain (word table → repr1 → 6 merge
    * rounds), used by text_bpe_train and text_bpe_encode. */
  private lazy val bpeCtes: String =
    s"""words AS (SELECT w, count(*) AS cnt FROM (
             SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
             FROM documents)
           WHERE regexp_matches(w, '^[a-z]+$$') AND length(w) <= 20
           GROUP BY 1),
         repr1 AS (SELECT w, cnt,
             ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS repr
           FROM words),
         ${(1 to 6).map(bpeRound).mkString(",\n         ")}"""

  /** One BPE oracle round: symbol lists, lateral pair positions,
    * pair-count argmax with the lexicographic tie-break, 4-pass merge
    * apply — mirrors the Spark `mergeRound` term for term. */
  private def bpeRound(k: Int): String =
    s"""sy$k AS (SELECT w, cnt,
           list_filter(string_split(trim(repr), ' '), x -> x <> '') AS sy
         FROM repr$k),
       px$k AS (SELECT cnt, sy, unnest(range(1, len(sy))) AS i FROM sy$k),
       pairs$k AS (SELECT sy[i] AS a, sy[i + 1] AS b, sum(cnt) AS pcnt
         FROM px$k GROUP BY 1, 2),
       best$k AS (SELECT a, b, pcnt,
           ' ' || a || ' ' || b || ' ' AS pat,
           ' ' || a || b || ' ' AS rep
         FROM pairs$k ORDER BY pcnt DESC, a, b LIMIT 1),
       repr${k + 1} AS (SELECT w, cnt,
           replace(replace(replace(replace(repr,
             b.pat, b.rep), b.pat, b.rep), b.pat, b.rep), b.pat, b.rep)
             AS repr
         FROM repr$k CROSS JOIN best$k b)"""
}
