package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.config.GraphConfig
import graft.functions.{GraftFunctions => GF, VectorFunctions => VF}
import graft.operators._
import graft.streaming.StreamingIngest

/** text analysis X4 + relevance/tokenizer tiers X9-X15 (quality, lang-id, TF-IDF/BM25, BPE, perplexity) — one slice of the [[SparkEntry]] driver contract
  * (~41 queries). Chunks moved verbatim from SparkEntry.scala;
  * the assembled `queries`/`oracleSql` maps are unchanged. */
private[graft] object QueriesText {
  import EntryData._
  import OracleCtes._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- X9d: per-doc top-3 keywords by TF-IDF — ranking on the
    // e6-integerized score with token tie-break, so the cut is exact ----
    "q_x9d_keywords" -> ((s, dir) =>
      Relevance.topTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
        .filter(col("doc_id") < 40)
        .orderBy("doc_id", "rank")),

    // ---- fingerprint64 rolling-hash — oracled EXACTLY: the 31-poly mod
    // 2^64 over UTF-8 bytes is rebuilt in DuckDB as an ordered HUGEINT
    // list_reduce (wrap-around via explicit mod; signed view at the end)
    // ----
    "q_text_fingerprint" -> ((s, dir) => {
      GF.register(s)
      t(s, dir, "documents")
        .select(col("doc_id"), GF.fingerprint64(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // ---- X4: text statistics per language ----
    "q_x4_text_stats" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 4).as("avg_chars"),
          round(avg(GF.token_count_ws(col("text"))), 4).as("avg_tokens"),
          round(avg(length(col("text"))), 4).as("avg_len"))
        .orderBy("lang")),

    // ---- X4b: language-ID heuristic + quality scoring — the composite
    // report, fully oracled: lang via q_x4o's marker rebuild, quality as
    // exact 0.25 bands over the profile counters, BPE-ish count as alnum
    // runs + loose non-alnum chars ----
    "q_x4b_lang_quality" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          GF.lang_id(col("text")).as("lang_guess"),
          round(GF.quality_score(col("text")), 4).as("quality"),
          round(GF.stopword_ratio(col("text")), 6).as("stop_ratio"),
          GF.token_count_bpe(col("text")).cast("long").as("n_bpeish"))
        .orderBy("doc_id")),

    // ---- X4o: language ID alone, ORACLED — the oracle rebuilds the
    // marker profile and reproduces the (score, lang) struct-max via a
    // "digit:lang" string greatest (single-digit scores make
    // lexicographic ≡ numeric; the string tie-break equals the struct
    // tie-break). The composite q_x4b stays rows-only for its other
    // columns. ----
    "q_x4o_langid" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), GF.lang_id(col("text")).as("lang_guess"))
        .orderBy("doc_id")),

    // ---- X4c: vocabulary building (top-k token counts) ----
    "q_x4c_vocab_topk" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(split(trim(col("text")), "\\s+")).as("tk"))
        .groupBy("tk").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tk"))
        .limit(20)),

    // ---- X4d: exact length percentiles (corpus statistics) ----
    "q_x4d_length_percentiles" -> ((s, dir) =>
      t(s, dir, "documents")
        .agg(
          round(percentile(col("n_chars"), lit(0.5)), 4).as("p50"),
          round(percentile(col("n_chars"), lit(0.9)), 4).as("p90"),
          round(percentile(col("n_chars"), lit(0.99)), 4).as("p99"),
          count(lit(1)).as("n_docs"))),

    // ---- X4d2: the same exact interpolated percentiles PER GROUP — the
    // per-language corpus-shape report (partial-agg groupBy, one shuffle
    // on the group key). ----
    "q_x4d2_pctl_by_lang" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy("lang")
        .agg(
          round(percentile(col("n_chars"), lit(0.5)), 4).as("p50"),
          round(percentile(col("n_chars"), lit(0.9)), 4).as("p90"),
          count(lit(1)).as("n_docs"))
        .orderBy("lang")),

    // ---- X4l: blocklist filter — word-boundary banned-term hits
    // (portable plain-alternation regex) + the C4-style keep flag ----
    "q_x4l_blocklist" -> ((s, dir) => {
      val terms = Seq("slow", "dup", "big data")
      t(s, dir, "documents").select(col("doc_id"),
          GF.blocklist_hits(col("text"), terms).as("n_hits"),
          GF.blocklist_ok(col("text"), terms).as("kept"))
        .orderBy("doc_id")
    }),

    // ---- X4e: text cleaning — PII redaction (synthetic email/IP injected
    // per row so every row exercises replacement) + repetition ratio ----
    "q_x4e_clean_repetition" -> ((s, dir) => {
      val dirty = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("mail u"), col("doc_id"), lit("@ex.org ip 10.0.0."),
          col("doc_id") % 256, lit(" "), col("text")).as("dirty"))
      dirty.select(col("doc_id"),
        GF.redact_pii(col("dirty")).as("redacted"),
        round(GF.repetition_ratio(col("dirty")), 6).as("rep_ratio"))
        .orderBy("doc_id")
    }),

    // ---- X4s: Flesch readability — exact regex-run counts (words /
    // sentence marks / vowel groups, RE2-portable classes), the two
    // classic scores e4-integerized ----
    // ---- X4t: PII scrubbing — emails/IPv4/SSN/phone → typed tokens
    // with per-category audit counts. Known PII is injected per doc
    // (id-keyed, so ground truth is deterministic) on top of whatever
    // the raw text happens to contain; the oracle replays the staged
    // regex fold verbatim (the patterns are the Java∩RE2 subset, so
    // DuckDB's RE2 executes the identical semantics) and md5 pins the
    // scrubbed text byte-for-byte. ----
    "q_x4t_pii_scrub" -> ((s, dir) => {
      val aug = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com or 10."),
          (col("doc_id") % 256).cast("string"),
          lit(".0.7 tel +1 (555) 123-4567 ssn 123-45-6789")).as("text"))
      Curation.scrubPii(aug, "text")
        .select(col("doc_id"),
          col("n_emails").cast("long").as("n_emails"),
          col("n_ips").cast("long").as("n_ips"),
          col("n_ssns").cast("long").as("n_ssns"),
          col("n_phones").cast("long").as("n_phones"),
          md5(col("text_scrubbed").cast("binary")).as("scrub_md5"))
        .orderBy("doc_id")
    }),

    // ---- X4u: HTML main-text extraction — the WET-file reduction
    // every web-crawl pipeline runs first: drop script/style/comment
    // payloads, keep paragraph structure via block-closer newlines,
    // strip tags, decode the common entities (&amp; last), normalize
    // whitespace. Each doc's text is wrapped in a deterministic HTML
    // shell (id-keyed script/nav/anchor boilerplate + entity bait) so
    // every row exercises every stage; the oracle rebuilds the shell
    // and replays the staged Java∩RE2 regex fold verbatim, md5
    // pinning the extracted text byte-for-byte. ----
    "q_x4u_html_extract" -> ((s, dir) => {
      val html = t(s, dir, "documents").select(col("doc_id"), concat(
        lit("<html><head><title>Doc "), col("doc_id"),
        lit("</title><script type=\"text/javascript\">var x = "),
        col("doc_id"),
        lit(";</script><style>.c { color: red }</style></head>" +
          "<body><!-- nav "), col("doc_id"),
        lit(" --><h1>Title "), col("doc_id"),
        lit("</h1><p>"), col("text"),
        lit("</p><div class=\"f\">copy &amp;lt; paste &lt;here&gt;" +
          "&nbsp;&#39;now&quot;</div><a href=\"http://ex.org/"),
        col("doc_id"), lit("\">link</a><br/></body></html>"))
        .as("html"))
      Curation.extractMainText(html, "html")
        .select(col("doc_id"),
          col("n_scripts").cast("long").as("n_scripts"),
          col("n_links").cast("long").as("n_links"),
          col("n_tags").cast("long").as("n_tags"),
          md5(col("main_text").cast("binary")).as("text_md5"))
        .orderBy("doc_id")
    }),

    // ---- X4v: fenced code-block extraction — the code/prose split a
    // mixed markdown corpus needs before quality scoring (code and
    // prose take different models). Deterministic markdown built from
    // the documents table (every doc gets 2 fences, every 4th a third
    // sql fence); the staged Java∩RE2 fold is replayed verbatim by
    // the oracle and md5 pins both outputs byte-for-byte. ----
    "q_x4v_code_extract" -> ((s, dir) => {
      val md = t(s, dir, "documents").select(col("doc_id"), concat(
        lit("# doc\n\n"), substring(col("text"), 1, 60),
        lit("\n```"),
        when(col("doc_id") % 3 === 0, lit("python"))
          .when(col("doc_id") % 3 === 1, lit("scala"))
          .otherwise(lit("")),
        lit("\n"), substring(col("text"), 20, 45),
        lit("\n```\n"), substring(col("text"), 60, 30),
        when(col("doc_id") % 4 === 0,
          concat(lit("\n```sql\nSELECT "),
            (col("doc_id") % 97).cast("string"), lit(";\n```")))
          .otherwise(lit(""))).as("md"))
      Curation.extractCodeBlocks(md, "md")
        .select(col("doc_id"), col("n_fences"), col("code_chars"),
          md5(col("code_text").cast("binary")).as("code_md5"),
          md5(col("prose_text").cast("binary")).as("prose_md5"),
          col("fence_langs"))
        .orderBy("doc_id")
    }),

    // ---- X4w: Zipf power-law fit over token frequencies — the
    // corpus-health alpha a pretraining mix report leads with (the
    // text twin of q_g22's degree fit, same 1e9-integerized exact
    // log-sum discipline, fMin = 2 drops hapax legomena). ----
    "q_x4w_zipf" -> ((s, dir) =>
      Relevance.zipfAlpha(t(s, dir, "documents"), "text", fMin = 2L)
        .select(col("n_types"), col("f_min"),
          floor(col("alpha") * lit(1e6) + lit(0.5)).cast("long")
            .as("alpha_e6"),
          floor(col("alpha_se") * lit(1e6) + lit(0.5)).cast("long")
            .as("se_e6"))),

    "q_x4s_readability" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), GF.reading_ease(col("text")).as("r"))
        .select(col("doc_id"),
          col("r.n_words").as("n_words"),
          col("r.n_sentences").as("n_sentences"),
          col("r.n_syllables").as("n_syllables"),
          floor(col("r.flesch") * lit(1e4) + lit(0.5)).cast("long")
            .as("flesch_e4"),
          floor(col("r.fk_grade") * lit(1e4) + lit(0.5)).cast("long")
            .as("fk_e4"))
        .orderBy("doc_id")),

    // ---- X4p: model-based quality scoring — hashed-feature linear
    // classifier (fastText shape) under the engine-portable md5-48
    // hashing trick and the seed-derived audit weight table, so the
    // oracle rebuilds features, weights, and scores; e6-integerized
    // against summation-order ulps ----
    "q_x4p_quality_model" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      // Milli-scaled INTEGER-VALUED weights: a sum of ≤2^53 integers in
      // doubles is exact and ORDER-INDEPENDENT, so the only rounding is
      // the final division — bit-identical across engines (the [-1,1]
      // float weights put 2 of 500 docs on an e6 floor boundary where
      // summation order flipped the last digit). floor(score*1e3) of the
      // milli score equals floor(real_score*1e6).
      val wMilli = QualityModel.seededWeights(s, 1024)
        .select(col("feature_id"), round(col("weight") * 1000, 0).as("weight"))
      QualityModel.scoreHashedLinear(d, "text", "doc_id", wMilli, 1024)
        .select(col("doc_id"),
          floor(col("score") * 1e3 + 0.5).cast("long").as("score_e6"),
          col("n_tokens"))
        .orderBy("doc_id")
    }),

    // ---- X10: one-call corpus curation (quality → dedup → decontaminate
    // → per-lang quota) — the end-to-end composition; output is the
    // decision report aggregated per stage. Portable-dedup mode makes
    // stages 1–3 SQL-rebuildable; the quota stage's PER-STAGE COUNT is
    // pure arithmetic (min(n_g, 40) kept per group) even though its
    // member choice (ES sampling, libm pow) isn't — exactly what the
    // aggregated report needs. ----
    "q_x10_curate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val (_, report) = Curation.curateCorpus(
        d.filter(col("doc_id") % 97 =!= 0), "text", "doc_id",
        d.filter(col("doc_id") % 97 === 0), "text", "doc_id",
        minWords = 20, dedupThreshold = 0.8, contaminationShingle = 3,
        quotaGroupCol = Some("lang"), quotaPerGroup = 40,
        portableDedup = true)
      report.groupBy("stage").agg(count(lit(1)).as("n")).orderBy("stage")
    }),

    // ---- X10b: curation with α=0.5 TEMPERATURE mixing in the quota
    // stage — per-lang keep rate ∝ √n/Σ√n toward 150 total, seeded
    // portable Bernoulli so the oracle rebuilds membership doc by doc ----
    "q_x10b_curate_temperature" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val (_, report) = Curation.curateCorpus(
        d.filter(col("doc_id") % 97 =!= 0), "text", "doc_id",
        d.filter(col("doc_id") % 97 === 0), "text", "doc_id",
        minWords = 20, dedupThreshold = 0.8, contaminationShingle = 3,
        quotaGroupCol = Some("lang"), portableDedup = true,
        temperatureAlpha = Some(0.5), temperatureTarget = 150L,
        portableSample = true)
      report.groupBy("stage").agg(count(lit(1)).as("n")).orderBy("stage")
    }),

    // ---- X11: DSIR importance resampling — select the 100 raw docs
    // most target-like (target = the English subset) by hashed-unigram
    // importance weights with Gumbel-top-k. Both hashes are portable
    // md5-48; ranking is on the e4-integerized perturbed score, so the
    // oracle rebuilds models, weights, Gumbels, and the exact pick. ----
    "q_x11_dsir" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Sampling.dsirSample(d,
          d.filter(col("lang") === "en").select("doc_id"),
          "doc_id", "text", k = 100, numBuckets = 1024)
        .select(col("id").as("doc_id"),
          floor(col("lw") * lit(1e4) + lit(0.5)).cast("long").as("lw_e4"),
          col("score_e4"))
        .orderBy("doc_id")
    }),

    // ---- X4h: heavy hitters via the Misra–Gries typed aggregate —
    // bounded O(capacity) state instead of a full vocabulary groupBy. The
    // corpus vocabulary fits the capacity, so the sketch runs in its exact
    // regime and the oracle is plain SQL top-k. ----
    "q_x4h_heavy_hitters" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(split(trim(col("text")), "\\s+")).as("tk"))
        .agg(GF.topk_freq(col("tk"), 10, 1024).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.item").as("item"), col("e.min_count").as("n"))
        .orderBy(col("n").desc, col("item"))),

    // ---- X15: Count-Min sketch over document tokens (portable md5-48
    // rows, depth 3 × width 64) — every counter cell rebuilt in SQL, so
    // the green row certifies the sketch bit-for-bit ----
    "q_x15_cms" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(split(trim(col("text")), "\\s+")).as("tk"))
        .agg(GF.cms_sketch(col("tk"), depth = 3, width = 64, seed = 7L,
          portable = true).as("sk"))
        .select(posexplode(col("sk")).as(Seq("d", "row")))
        .select(col("d"), posexplode(col("row")).as(Seq("b", "cnt")))
        .orderBy("d", "b")),

    // ---- X15b: CMS point estimates for the 20 most frequent tokens —
    // the min-over-rows probe runs column-side (element_at + least, no
    // UDF) against the broadcast sketch; estimates are upper bounds,
    // and the oracle recomputes them exactly ----
    "q_x15b_cms_estimate" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(split(trim(col("text")), "\\s+")).as("tk"))
      val sk = toks.agg(GF.cms_sketch(col("tk"), depth = 3, width = 64,
        seed = 7L, portable = true).as("sk"))
      toks.groupBy("tk").agg(count(lit(1)).as("true_n"))
        .orderBy(col("true_n").desc, col("tk")).limit(20)
        .crossJoin(broadcast(sk))
        .select(col("tk"), col("true_n"),
          graft.functions.CmsSketch.estimateCol(col("sk"), col("tk"),
            depth = 3, width = 64, seed = 7L, portable = true)
            .as("est_n"))
        .orderBy(col("true_n").desc, col("tk"))
    }),

    // ---- X4g: Gopher-style hard quality rules — per-rule booleans so a
    // pipeline can log WHY a doc was dropped. minWords=20 fits the
    // synthetic corpus' length distribution (the default 50 is for web
    // pages). Booleans cast to int for a type-stable oracle compare. ----
    "q_x4g_gopher_rules" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          GF.gopher_rules(col("text"), minWords = 20).as("g"))
        .select(col("doc_id"),
          col("g.words_ok").cast("int").as("words_ok"),
          col("g.mean_word_ok").cast("int").as("mean_word_ok"),
          col("g.stopwords_ok").cast("int").as("stopwords_ok"),
          col("g.symbol_ok").cast("int").as("symbol_ok"),
          col("g.pass").cast("int").as("pass"))
        .orderBy("doc_id")),

    // ---- X4j: document chunking — fixed-size overlapping character
    // windows (context-window fitting / RAG indexing); pure
    // projection+explode arithmetic, fully SQL-expressible. ----
    "q_x4j_chunking" -> ((s, dir) =>
      Chunking.chunkDocs(t(s, dir, "documents"), "text", "doc_id",
        size = 120, overlap = 20)
        .select(col("doc_id"), col("chunk_id"),
          col("chunk_len").cast("long").as("chunk_len"), col("chunk_text"))
        .orderBy("doc_id", "chunk_id")),

    // ---- X4i: unigram-LM perplexity (CCNet-style quality filter) —
    // self-trained unigram model, per-doc avg log-prob + perplexity.
    // ln + cross-engine summation order → both compared floats are
    // integerized (the e4 pattern). ----
    "q_x4i_unigram_ppl" -> ((s, dir) =>
      Relevance.unigramPerplexity(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("doc_len"),
          floor(col("log_prob") * lit(1e4) + lit(0.5)).as("log_prob_e4"),
          floor(col("ppl") * lit(1e4) + lit(0.5)).as("ppl_e4"))
        .orderBy("doc_id")),

    // ---- X4q: CCNet-style per-language perplexity buckets — ntile(3)
    // over the INTEGERIZED ppl (identical longs on both engines, q_x4i's
    // proven kernel) with doc_id tie-break, so the tiling is a total
    // order and head/middle/tail agree bit-for-bit ----
    "q_x4q_ppl_buckets" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val scored = Relevance.unigramPerplexity(d, "doc_id", "text")
        .select(col("doc_id"),
          floor(col("ppl") * lit(1e4) + lit(0.5)).cast("long").as("ppl_e4"))
        .join(d.select(col("doc_id"), col("lang")), Seq("doc_id"))
      Sampling.scoreBuckets(scored, "ppl_e4", "doc_id",
          nBuckets = 3, groupCol = Some("lang"))
        .orderBy("doc_id")
    }),

    // ---- X4r: bigram-LM perplexity — Laplace-smoothed bigram model
    // trained on the corpus, word-order-aware twin of q_x4i. The ln
    // operand shape is mirrored exactly in the oracle; outputs are
    // e4-integerized (x4i's proven pattern). ----
    "q_x4r_bigram_ppl" -> ((s, dir) =>
      Relevance.bigramPerplexity(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_bigrams"),
          floor(col("log_prob") * lit(1e4) + lit(0.5)).as("log_prob_e4"),
          floor(col("ppl") * lit(1e4) + lit(0.5)).as("ppl_e4"))
        .orderBy("doc_id")),

    // ---- X14: interpolated Kneser–Ney bigram perplexity (d=0.75) —
    // the proper-smoothing upgrade of q_x4r; same e4 contract ----
    "q_x14_kn_ppl" -> ((s, dir) =>
      Relevance.knBigramPerplexity(t(s, dir, "documents"), "doc_id",
          "text")
        .select(col("doc_id"), col("n_bigrams"),
          floor(col("log_prob") * lit(1e4) + lit(0.5)).as("log_prob_e4"),
          floor(col("ppl") * lit(1e4) + lit(0.5)).as("ppl_e4"))
        .orderBy("doc_id")),

    // ---- X14b: interpolated Kneser–Ney TRIGRAM perplexity (d=0.75) —
    // the n-gram ladder completed: top order discounts raw trigram
    // counts, lower orders are continuation-type distributions all
    // derived from ONE trigram aggregation; same e4 contract ----
    "q_x14b_kn_trigram_ppl" -> ((s, dir) =>
      Relevance.knTrigramPerplexity(t(s, dir, "documents"), "doc_id",
          "text")
        .select(col("doc_id"), col("n_trigrams"),
          floor(col("log_prob") * lit(1e4) + lit(0.5)).as("log_prob_e4"),
          floor(col("ppl") * lit(1e4) + lit(0.5)).as("ppl_e4"))
        .orderBy("doc_id")),

    // ---- X14c: MODIFIED Kneser–Ney trigram perplexity — the ladder's
    // last rung: count-class discounts d1/d2/d3+ estimated per order
    // from its own count-of-counts n1..n4 (the Chen–Goodman/KenLM
    // estimator), trigram level from raw counts, bigram level from
    // continuation counts; every discount a fixed double expression
    // of exact longs with operand association mirrored in the oracle.
    // ----
    // The modified-KN rows run on the FULL corpus carrying the
    // count-diverse token tier (mknCorpus): the estimator NEEDS
    // n1..n3 > 0 at both orders (KenLM's own precondition, enforced
    // loudly), and the raw synthetic corpus's vocabulary SATURATES at
    // sf0.1 — count-1 continuation pairs vanish and the engine
    // correctly refuses. The deterministic per-doc tail guarantees
    // every count class at EVERY SF, so the rows are bench-loaded on
    // the whole table instead of fenced to a prefix (the r13 state).
    "q_x14c_mkn_trigram_ppl" -> ((s, dir) =>
      Relevance.knTrigramPerplexityModified(
          mknCorpus(t(s, dir, "documents")),
          "doc_id", "text")
        .select(col("doc_id"), col("n_trigrams"),
          floor(col("log_prob") * lit(1e4) + lit(0.5)).as("log_prob_e4"),
          floor(col("ppl") * lit(1e4) + lit(0.5)).as("ppl_e4"))
        .orderBy("doc_id")),

    // ---- X14d: trigram-LM store maintenance — the n-gram model's
    // member of the maintenance grid (q_x9f's fixture discipline):
    // build the count store on the %7≠3 base corpus (cached), then
    // ONE maintenance call — adds bring in the %7==3 group plus
    // RE-ADDS of live %11==0 docs (whose old rows ship in
    // removedDocs: the store keeps no per-doc counts, so erasure
    // carries the ground-truth text), takedowns remove %5==0. Served
    // KN perplexity over the post-change corpus must be bit-identical
    // to a full rebuild, which the oracle computes directly: live ⇔
    // %5≠0 ∨ %7==3 ∨ %11==0. Same e4 contract as q_x14b. ----
    "q_x14d_lm_maintenance" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val lm0 = x14dBaseLm(s, dir)
      val adds = d.filter(col("doc_id") % 7 === 3 ||
        col("doc_id") % 11 === 0)
      val rems = d.filter(col("doc_id") % 7 =!= 3 &&
        (col("doc_id") % 5 === 0 || col("doc_id") % 11 === 0))
      val m = Relevance.maintainTrigramLm(lm0, adds, rems, "doc_id",
        "text")
      val live = d.filter(col("doc_id") % 5 =!= 0 ||
        col("doc_id") % 7 === 3 || col("doc_id") % 11 === 0)
      Relevance.knTrigramFromModel(m.model, live, "doc_id", "text")
        .select(col("doc_id"), col("n_trigrams"),
          floor(col("log_prob") * lit(1e4) + lit(0.5)).as("log_prob_e4"),
          floor(col("ppl") * lit(1e4) + lit(0.5)).as("ppl_e4"))
        .orderBy("doc_id")
    }),

    // ---- X14e: MODIFIED-KN served off a maintained store — the
    // production estimator (count-class discounts re-derived from the
    // MAINTAINED counts' count-of-counts) after an adds-only
    // maintenance call brings the %7==3 group into a base built on
    // the rest, making the effective corpus exactly q_x14c's full
    // count-diverse corpus: the oracle is q_x14c's proven chain, so a
    // green row certifies the whole discount ladder survives
    // maintenance bit-exactly. (A takedown subset can't carry this
    // row — removing docs only thins the count classes further; the
    // removal path stays oracled by q_x14d's plain-KN row.) ----
    "q_x14e_lm_maintained_mkn" -> ((s, dir) => {
      val d = mknCorpus(t(s, dir, "documents"))
      val lm0 = Relevance.buildTrigramLm(
        d.filter(col("doc_id") % 7 =!= 3), "doc_id", "text")
      val m = Relevance.maintainTrigramLm(lm0,
        d.filter(col("doc_id") % 7 === 3), d.limit(0), "doc_id",
        "text")
      Relevance.knTrigramFromModelModified(m.model, d, "doc_id",
          "text")
        .select(col("doc_id"), col("n_trigrams"),
          floor(col("log_prob") * lit(1e4) + lit(0.5)).as("log_prob_e4"),
          floor(col("ppl") * lit(1e4) + lit(0.5)).as("ppl_e4"))
        .orderBy("doc_id")
    }),

    // ---- X8: TF-IDF term weighting (sparse-relevance counterpart of the
    // dense X3 similarity tier). Restricted to doc_id < 20 to bound output;
    // the aggregation still runs over the whole corpus (df and N are
    // corpus-global). ----
    "q_x9_tfidf" -> ((s, dir) =>
      Relevance.tfidf(t(s, dir, "documents"), "doc_id", "text")
        .filter(col("doc_id") < 20)
        .select(col("doc_id"), col("token"), col("tf"), col("df"),
          round(col("tfidf"), 6).as("tfidf"))
        .orderBy("doc_id", "token")),

    // ---- X8b: Okapi BM25 weights (k1=1.2, b=0.75). The compared column
    // is integerized (floor(x·1e4+0.5) → BIGINT) so the driver's hash
    // compare is immune to libm ln / decimal-literal evaluation drift
    // between DuckDB builds — a 6-decimal ROUND proved one driver-DuckDB
    // upgrade away from flaking (r4's only red row). ----
    "q_x9b_bm25" -> ((s, dir) =>
      Relevance.bm25(t(s, dir, "documents"), "doc_id", "text")
        .filter(col("doc_id") < 20)
        .select(col("doc_id"), col("token"), col("tf"), col("df"),
          col("doc_len"),
          floor(col("bm25") * lit(1e4) + lit(0.5)).as("bm25_e4"))
        .orderBy("doc_id", "token")),

    // ---- X9f: lexical-index maintenance — build the serving store on
    // a partial corpus, then ONE maintenance call: adds bring in the
    // missing doc_id%7==3 group plus RE-ADDS of live %11==0 docs
    // (replace semantics), takedowns remove doc_id%5==0 (adds win on
    // the overlap — e.g. doc 10 is both). Served BM25 must be
    // bit-identical to a full rebuild over the post-change corpus,
    // which the oracle rebuilds directly: live ⇔ %5≠0 ∨ %7==3 ∨
    // %11==0. Same e4 integerization as q_x9b. ----
    "q_x9f_lex_maintenance" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val ix = x9fBaseIndex(s, dir)
      val adds = d.filter(col("doc_id") % 7 === 3 ||
        col("doc_id") % 11 === 0)
      val dels = d.filter(col("doc_id") % 5 === 0).select("doc_id")
      val m = Relevance.maintainLexIndex(ix, adds, dels, "doc_id",
        "text")
      Relevance.bm25FromIndex(m)
        .filter(col("doc_id") < 20)
        .select(col("doc_id"), col("token"), col("tf"), col("df"),
          col("doc_len"),
          floor(col("bm25") * lit(1e4) + lit(0.5)).as("bm25_e4"))
        .orderBy("doc_id", "token")
    }),

    // ---- X9h: BM25 SEARCH served off the maintained index — the
    // lexical store's full lifecycle in one row (build on the base,
    // maintain adds+takedowns, search the result): rankings must be
    // bit-equal to q_x9c's search over the post-change corpus. ----
    "q_x9h_lex_search_maintained" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val adds = d.filter(col("doc_id") % 7 === 3 ||
        col("doc_id") % 11 === 0)
      val dels = d.filter(col("doc_id") % 5 === 0).select("doc_id")
      val m = Relevance.maintainLexIndex(x9fBaseIndex(s, dir), adds,
        dels, "doc_id", "text")
      Relevance.searchBm25FromIndex(m, "data model the", k = 100000)
        .select(col("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // ---- X9j: the lexical store round-trip through the ATOMIC
    // commit — the q_x2t/q_g3e stored-path discipline on the
    // four-frame index: maintain exactly q_x9h's index, commit it
    // through saveLexIndex (all four frames + ONE marker), load,
    // serve. SHARES
    // q_x9h's oracle verbatim: any loss or drift through the
    // versioned store hash-mismatches. ----
    "q_x9j_lex_store_versioned" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val adds = d.filter(col("doc_id") % 7 === 3 ||
        col("doc_id") % 11 === 0)
      val dels = d.filter(col("doc_id") % 5 === 0).select("doc_id")
      val m = Relevance.maintainLexIndex(x9fBaseIndex(s, dir), adds,
        dels, "doc_id", "text")
      val storeDir = freshStoreDir("lexstore")
      Relevance.saveLexIndex(m, storeDir): Unit
      Relevance.searchBm25FromIndex(
          Relevance.loadLexIndex(s, storeDir), "data model the",
          k = 100000)
        .select(col("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // ---- X9i: the lexical CDC COMPOSITION — the q_x1g batch
    // discipline applied to the serving index (what the streaming
    // lexical twin's per-trigger fold maintains): from the shared
    // base fixture, TWO sequential maintenance batches with the
    // twin's same-batch-del-beats-add fold. Batch 1 adds the %7==3
    // group and takes down %5==0 (the fold drops adds the same batch
    // kills), leaving live = %5≠0; batch 2 re-adds %11==0 (replace
    // for live ids, resurrection for dead ones) and takes down
    // %13==0. Served BM25 must be bit-identical to a full rebuild
    // over the effective corpus: (%5≠0 ∨ %11==0) ∧ %13≠0. ----
    "q_x9i_lex_cdc" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val b1adds = d.filter(col("doc_id") % 7 === 3 &&
        col("doc_id") % 5 =!= 0)
      val b1dels = d.filter(col("doc_id") % 5 === 0).select("doc_id")
      val m1 = Relevance.maintainLexIndex(x9fBaseIndex(s, dir),
        b1adds, b1dels, "doc_id", "text")
      val b2adds = d.filter(col("doc_id") % 11 === 0 &&
        col("doc_id") % 13 =!= 0)
      val b2dels = d.filter(col("doc_id") % 13 === 0).select("doc_id")
      val m2 = Relevance.maintainLexIndex(m1, b2adds, b2dels,
        "doc_id", "text")
      Relevance.bm25FromIndex(m2)
        .filter(col("doc_id") < 20)
        .select(col("doc_id"), col("token"), col("tf"), col("df"),
          col("doc_len"),
          floor(col("bm25") * lit(1e4) + lit(0.5)).as("bm25_e4"))
        .orderBy("doc_id", "token")
    }),

    // ---- X9e: feature-hashed TF-IDF document vectors (the hashing
    // trick) — text-only fixed-dim embeddings, no vocabulary, no model.
    // e6-integerized weights make the per-bucket sums exact long
    // arithmetic (order-free), so the unnormalized vector is oracle-
    // rebuildable entry by entry; posexplode flattens the fixed-dim
    // contract (every doc emits ALL 64 positions, zeros included). ----
    "q_x9e_hashed_vectors" -> ((s, dir) =>
      Relevance.hashedVectors(t(s, dir, "documents"), "doc_id", "text",
          dim = 64, normalize = false)
        .select(col("doc_id"), posexplode(col("vector")))
        .select(col("doc_id"), col("pos").cast("long").as("j"),
          floor(col("col") * lit(1e6) + lit(0.5)).cast("long").as("v_e6"))
        .orderBy("doc_id", "j")),

    // ---- X9c: BM25 document search — rank docs for a fixed query string
    // (sparse-retrieval counterpart of the X3 dense search). k covers the
    // whole corpus so the oracle compare has no top-k boundary to straddle
    // on float ulps; ordering is by the ROUNDED score for the same reason.
    // ----
    "q_x9c_bm25_search" -> ((s, dir) =>
      Relevance.searchBm25(t(s, dir, "documents"), "doc_id", "text",
        "data model the", k = 100000)
        .select(col("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id"))),

    // ---- X12: cluster topic labeling by class-TF-IDF (the BERTopic
    // reduction): IVF cells over the document embeddings (doc_id ≡ vec_id
    // in the synthetic corpus) become topics; each cell is labeled by its
    // top-5 c-TF-IDF terms. Ranking is on the INTEGERIZED score with a
    // term tie-break, so the top-k selection is engine-exact; the oracle
    // rebuilds the hash-ranked centroid pick, the cosine assignment, and
    // the ln operand shape verbatim. ----
    "q_x12_cluster_topics" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val (_, assigned) = Similarity.ivfIndex(
        e.select(col("vec_id"), col("embedding")), "embedding", "vec_id",
        k = 8)
      Relevance.clusterTopics(
        assigned.select(col("vec_id").as("doc_id"),
          col("centroid_id").as("cluster_id")),
        t(s, dir, "documents"), "doc_id", "text", topK = 5)
        .orderBy("cluster_id", "rnk")
    }),

    // ---- X13: BPE merge induction (Sennrich et al. 2016) — learn the
    // first 8 merges over the documents corpus. All iteration state is
    // vocabulary-sized; the argmax is a total order (count desc, pair
    // asc), so the learned table is partitioning-exact and the oracle
    // replays every round with a list_reduce fold. ----
    "q_x13_bpe_merges" -> ((s, dir) => {
      val (merges, _) = Tokenizer.bpeMerges(t(s, dir, "documents"), "text",
        numMerges = 8)
      merges.select(col("merge_rank"), col("left").as("lhs"),
          col("right").as("rhs"), col("pair_count"))
        .orderBy("merge_rank")
    }),

    // ---- X13b: apply the learned segmentation — per-doc word + subword
    // totals under the 8-merge vocabulary (the token-budget number a
    // packing stage consumes) ----
    "q_x13b_bpe_encode" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val (_, vocab) = Tokenizer.bpeMerges(d, "text", numMerges = 8)
      Tokenizer.bpeEncode(d, "doc_id", "text", vocab).orderBy("doc_id")
    }),

    // ---- X13e: BPE merges off a MAINTAINED word store — the
    // tokenizer vocabulary joins the maintenance grid (the last store
    // without a story): the (word, wc) table is subtractable, so one
    // maintenance call (adds %7==3 + re-adds of live %11==0 docs with
    // old rows shipped, takedowns %5==0) updates it in exact long
    // deltas, and the 8-merge induction re-runs MODEL-sized off the
    // maintained counts — bit-identical to training on the effective
    // corpus, which is exactly what the oracle rebuilds. ----
    "q_x13e_bpe_maintained" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val adds = d.filter(col("doc_id") % 7 === 3 ||
        col("doc_id") % 11 === 0)
      val rems = d.filter(col("doc_id") % 7 =!= 3 &&
        (col("doc_id") % 5 === 0 || col("doc_id") % 11 === 0))
      val m = Tokenizer.maintainWordStore(x13eBaseWords(s, dir),
        adds, rems, "doc_id", "text")
      val (merges, _) = Tokenizer.bpeMergesFromWords(m.words,
        numMerges = 8)
      merges.select(col("merge_rank"), col("left").as("lhs"),
          col("right").as("rhs"), col("pair_count"))
        .orderBy("merge_rank")
    }),

    // ---- X13f: unigram candidates off the SAME maintained word
    // store — the other inducer served from one maintained table (the
    // whole point of making the store the shared source of truth). ----
    "q_x13f_unigram_maintained" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val adds = d.filter(col("doc_id") % 7 === 3 ||
        col("doc_id") % 11 === 0)
      val rems = d.filter(col("doc_id") % 7 =!= 3 &&
        (col("doc_id") % 5 === 0 || col("doc_id") % 11 === 0))
      val m = Tokenizer.maintainWordStore(x13eBaseWords(s, dir),
        adds, rems, "doc_id", "text")
      Tokenizer.unigramCandidatesFromWords(m.words, maxPieceLen = 3,
          minFreq = 5L, maxVocab = 50)
        .orderBy(col("freq").desc, col("piece"))
    }),

    // ---- X13c: unigram-LM (SentencePiece-style) candidate vocabulary
    // — the substring-frequency seed the EM estimator prunes: every
    // length ≤ 3 substring occurrence-weighted by word count, single
    // chars unconditional, top-50 multi-char by the (freq, piece)
    // total order. The EM/Viterbi stages are spec-verified against
    // exhaustive enumeration (float log-costs aren't oracle-exact);
    // the candidate stage is pure integer arithmetic and fully
    // SQL-rebuilt here. ----
    "q_x13c_unigram_candidates" -> ((s, dir) =>
      Tokenizer.unigramCandidates(t(s, dir, "documents"), "text",
        maxPieceLen = 3, minFreq = 5L, maxVocab = 50)
        .orderBy(col("freq").desc, col("piece"))),

    // ---- X13d: unigram ENCODE with integerized piece costs — the
    // Viterbi path onto the driver's hash gate (q_x13c oracles only
    // the candidate stage; the EM/Viterbi stages were spec-proven):
    // candidate pieces priced at floor((ln T − ln freq)·1e6 + 0.5)
    // BIGINT (the g22/x4w integerization discipline), so every DP
    // sum/comparison is exact integer arithmetic in BOTH engines and
    // the oracle replays the relaxation verbatim — reachable-state
    // recursion for dp, the smallest-l-at-the-minimum backpointer
    // rule, and the backtrack piece counts. ----
    "q_x13d_unigram_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cand = Tokenizer.unigramCandidates(docs, "text",
        maxPieceLen = 3, minFreq = 5L, maxVocab = 50)
      val tot = cand.agg(sum(col("freq")).as("_t"))
      val priced = cand.crossJoin(broadcast(tot)).select(col("piece"),
        floor((log(col("_t").cast("double")) -
          log(col("freq").cast("double"))) * lit(1e6) + lit(0.5))
          .cast("long").cast("double").as("cost"))
      Tokenizer.unigramEncode(docs, "doc_id", "text", priced,
          maxPieceLen = 3)
        .select(col("doc_id"), col("n_words"), col("n_pieces"),
          col("cost").cast("long").as("cost_e6"))
        .orderBy("doc_id")
    }),

    // ---- X4n: PMI bigram collocations — the phrase-mining signal; the
    // bigram stream is a narrow array zip (no positional self-join on
    // the Spark side; the oracle rebuilds positionally) ----
    "q_x4n_pmi" -> ((s, dir) =>
      Relevance.pmiBigrams(t(s, dir, "documents"), "doc_id", "text",
        minCount = 25)
        .select(col("w1"), col("w2"), col("c_ab"), col("c_a"), col("c_b"),
          floor(col("pmi") * lit(1e4) + lit(0.5)).as("pmi_e4"))
        .orderBy("w1", "w2")),
  )

  /** The COUNT-DIVERSE corpus the modified-KN rows run on: every
    * document carries a deterministic 24-token tail of repeated
    * groups — three `<d div 2>` triples (trigram count class 2), two
    * `<d div 3>` triples (class 3), one `<d div 4>` triple (class 4),
    * each preceded by a per-doc UNIQUE token (class 1, and the
    * continuation-count classes 2/3/4 for the bigram order). The
    * group mix is sized so the Chen–Goodman inequalities
    * d2 = 2 − 3Y·n3/n2 > 0 and d3 = 3 − 4Y·n4/n3 > 0 hold with
    * margin at EVERY scale factor: the raw corpus saturates at sf0.1
    * (its surviving classes skew n3/n4 high — measured n2/n3/n4 =
    * 2622/2020/1950, d2 = −0.07 — which the engine now refuses
    * loudly), and the tail's ~2.5:1 n2:n3 and ~1.9:1 n3:n4 dominate
    * it back into the valid region. Mirrored verbatim by
    * [[mknCorpusSql]]. */
  private def mknCorpus(d: DataFrame): DataFrame =
    d.select(col("doc_id"), concat(col("text"),
      lit(" knu"), col("doc_id").cast("string"),
      lit(" kne"), expr("doc_id div 2").cast("string"),
      lit(" knf"), expr("doc_id div 2").cast("string"),
      lit(" kng"), expr("doc_id div 2").cast("string"),
      lit(" kna"), col("doc_id").cast("string"),
      lit(" knb"), expr("doc_id div 2").cast("string"),
      lit(" knc"), expr("doc_id div 2").cast("string"),
      lit(" knd"), expr("doc_id div 2").cast("string"),
      lit(" kni"), col("doc_id").cast("string"),
      lit(" knj"), expr("doc_id div 2").cast("string"),
      lit(" knk"), expr("doc_id div 2").cast("string"),
      lit(" knl"), expr("doc_id div 2").cast("string"),
      lit(" knv"), col("doc_id").cast("string"),
      lit(" knp"), expr("doc_id div 3").cast("string"),
      lit(" knq"), expr("doc_id div 3").cast("string"),
      lit(" knr"), expr("doc_id div 3").cast("string"),
      lit(" knm"), col("doc_id").cast("string"),
      lit(" knn"), expr("doc_id div 3").cast("string"),
      lit(" kno"), expr("doc_id div 3").cast("string"),
      lit(" knz"), expr("doc_id div 3").cast("string"),
      lit(" knw"), col("doc_id").cast("string"),
      lit(" kns"), expr("doc_id div 4").cast("string"),
      lit(" knt"), expr("doc_id div 4").cast("string"),
      lit(" knx"), expr("doc_id div 4").cast("string")).as("text"))

  // this fragment is INJECTED into mknOracle's stripMargin'd template,
  // so no line may START with '|' (stripMargin would eat one pipe of
  // a leading '||') — every concat operator trails its line instead
  private val mknCorpusSql: String =
    """(SELECT doc_id, text ||
      ' knu' || CAST(doc_id AS VARCHAR) ||
      ' kne' || CAST(doc_id // 2 AS VARCHAR) ||
      ' knf' || CAST(doc_id // 2 AS VARCHAR) ||
      ' kng' || CAST(doc_id // 2 AS VARCHAR) ||
      ' kna' || CAST(doc_id AS VARCHAR) ||
      ' knb' || CAST(doc_id // 2 AS VARCHAR) ||
      ' knc' || CAST(doc_id // 2 AS VARCHAR) ||
      ' knd' || CAST(doc_id // 2 AS VARCHAR) ||
      ' kni' || CAST(doc_id AS VARCHAR) ||
      ' knj' || CAST(doc_id // 2 AS VARCHAR) ||
      ' knk' || CAST(doc_id // 2 AS VARCHAR) ||
      ' knl' || CAST(doc_id // 2 AS VARCHAR) ||
      ' knv' || CAST(doc_id AS VARCHAR) ||
      ' knp' || CAST(doc_id // 3 AS VARCHAR) ||
      ' knq' || CAST(doc_id // 3 AS VARCHAR) ||
      ' knr' || CAST(doc_id // 3 AS VARCHAR) ||
      ' knm' || CAST(doc_id AS VARCHAR) ||
      ' knn' || CAST(doc_id // 3 AS VARCHAR) ||
      ' kno' || CAST(doc_id // 3 AS VARCHAR) ||
      ' knz' || CAST(doc_id // 3 AS VARCHAR) ||
      ' knw' || CAST(doc_id AS VARCHAR) ||
      ' kns' || CAST(doc_id // 4 AS VARCHAR) ||
      ' knt' || CAST(doc_id // 4 AS VARCHAR) ||
      ' knx' || CAST(doc_id // 4 AS VARCHAR) AS text
      FROM documents)"""

  /** Modified-KN oracle chain, parameterized on the corpus relation
    * so the one-shot row (q_x14c) and the maintained-store row
    * (q_x14e) — both on the full count-diverse [[mknCorpus]] — can
    * never drift. Every CASE / quotient association mirrors the
    * engine column expressions exactly (Y inlined per discount —
    * identical doubles either way). */
  private def mknOracle(rel: String): String =
    s"""WITH arr AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS a
        |  FROM $rel),
        |tg AS (
        |  SELECT doc_id, a[i] AS w1, a[i + 1] AS w2, a[i + 2] AS w3
        |  FROM arr, LATERAL (SELECT unnest(range(1, len(a) - 1)) AS i) u),
        |ctg AS (SELECT w1, w2, w3, count(*) AS c123 FROM tg
        |        GROUP BY 1, 2, 3),
        |cx AS (SELECT w1, w2, sum(c123) AS c12,
        |         sum(CASE WHEN c123 = 1 THEN 1 ELSE 0 END) AS k1t,
        |         sum(CASE WHEN c123 = 2 THEN 1 ELSE 0 END) AS k2t,
        |         sum(CASE WHEN c123 >= 3 THEN 1 ELSE 0 END) AS k3t
        |       FROM ctg GROUP BY 1, 2),
        |mid AS (SELECT w2, w3, count(*) AS n1b23 FROM ctg GROUP BY 1, 2),
        |mcx AS (SELECT w2, sum(n1b23) AS m2,
        |          sum(CASE WHEN n1b23 = 1 THEN 1 ELSE 0 END) AS k1m,
        |          sum(CASE WHEN n1b23 = 2 THEN 1 ELSE 0 END) AS k2m,
        |          sum(CASE WHEN n1b23 >= 3 THEN 1 ELSE 0 END) AS k3m
        |        FROM mid GROUP BY 1),
        |low AS (SELECT w3, count(*) AS n1b3 FROM mid GROUP BY 1),
        |tt AS (SELECT count(*) AS tt FROM mid),
        |coct AS (SELECT
        |    sum(CASE WHEN c123 = 1 THEN 1 ELSE 0 END) AS n1,
        |    sum(CASE WHEN c123 = 2 THEN 1 ELSE 0 END) AS n2,
        |    sum(CASE WHEN c123 = 3 THEN 1 ELSE 0 END) AS n3,
        |    sum(CASE WHEN c123 = 4 THEN 1 ELSE 0 END) AS n4
        |  FROM ctg),
        |dt AS (SELECT
        |    1.0 - 2.0 * (CAST(n1 AS DOUBLE) / CAST(n1 + 2 * n2 AS DOUBLE))
        |      * n2 / n1 AS d1t,
        |    2.0 - 3.0 * (CAST(n1 AS DOUBLE) / CAST(n1 + 2 * n2 AS DOUBLE))
        |      * n3 / n2 AS d2t,
        |    3.0 - 4.0 * (CAST(n1 AS DOUBLE) / CAST(n1 + 2 * n2 AS DOUBLE))
        |      * n4 / n3 AS d3t
        |  FROM coct),
        |cocm AS (SELECT
        |    sum(CASE WHEN n1b23 = 1 THEN 1 ELSE 0 END) AS n1,
        |    sum(CASE WHEN n1b23 = 2 THEN 1 ELSE 0 END) AS n2,
        |    sum(CASE WHEN n1b23 = 3 THEN 1 ELSE 0 END) AS n3,
        |    sum(CASE WHEN n1b23 = 4 THEN 1 ELSE 0 END) AS n4
        |  FROM mid),
        |dm AS (SELECT
        |    1.0 - 2.0 * (CAST(n1 AS DOUBLE) / CAST(n1 + 2 * n2 AS DOUBLE))
        |      * n2 / n1 AS d1m,
        |    2.0 - 3.0 * (CAST(n1 AS DOUBLE) / CAST(n1 + 2 * n2 AS DOUBLE))
        |      * n3 / n2 AS d2m,
        |    3.0 - 4.0 * (CAST(n1 AS DOUBLE) / CAST(n1 + 2 * n2 AS DOUBLE))
        |      * n4 / n3 AS d3m
        |  FROM cocm),
        |dtf AS (SELECT doc_id, w1, w2, w3, count(*) AS ttf FROM tg
        |        GROUP BY 1, 2, 3, 4),
        |per AS (
        |  SELECT d.doc_id, CAST(sum(d.ttf) AS BIGINT) AS n_trigrams,
        |    sum(d.ttf * ln(
        |      greatest(ctg.c123 - (CASE WHEN ctg.c123 = 1 THEN dt.d1t
        |          WHEN ctg.c123 = 2 THEN dt.d2t ELSE dt.d3t END),
        |          CAST(0 AS DOUBLE)) / CAST(cx.c12 AS DOUBLE)
        |      + (dt.d1t * cx.k1t + dt.d2t * cx.k2t + dt.d3t * cx.k3t)
        |          / CAST(cx.c12 AS DOUBLE)
        |        * (greatest(mid.n1b23 - (CASE WHEN mid.n1b23 = 1
        |              THEN dm.d1m WHEN mid.n1b23 = 2 THEN dm.d2m
        |              ELSE dm.d3m END), CAST(0 AS DOUBLE))
        |            / CAST(mcx.m2 AS DOUBLE)
        |          + (dm.d1m * mcx.k1m + dm.d2m * mcx.k2m
        |              + dm.d3m * mcx.k3m) / CAST(mcx.m2 AS DOUBLE)
        |            * (low.n1b3 / CAST(tt.tt AS DOUBLE))))) AS lp
        |  FROM dtf d JOIN ctg USING (w1, w2, w3) JOIN cx USING (w1, w2)
        |    JOIN mid USING (w2, w3) JOIN mcx USING (w2)
        |    JOIN low USING (w3), tt, dt, dm
        |  GROUP BY d.doc_id)
        |SELECT doc_id, n_trigrams,
        |  CAST(floor(lp / n_trigrams * 1e4 + CAST(0.5 AS DOUBLE))
        |    AS BIGINT) AS log_prob_e4,
        |  CAST(floor(exp(-(lp / n_trigrams)) * 1e4 + CAST(0.5 AS DOUBLE))
        |    AS BIGINT) AS ppl_e4
        |FROM per ORDER BY doc_id""".stripMargin

  // q_x9h/q_x9j's shared oracle (the versioned-store path must
  // reproduce the in-memory maintained serve exactly): q_x9c's chain
  // over the post-change live corpus (the q_x9f live set).
  private def x9hSearchSql: String =
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id % 5 <> 0 OR doc_id % 7 = 3 OR doc_id % 11 = 0),
        |tok AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM d),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
        |       GROUP BY doc_id, token),
        |lens AS (SELECT doc_id, sum(tf) AS doc_len FROM tf GROUP BY doc_id),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n FROM d),
        |al AS (SELECT avg(doc_len) AS avg_len FROM lens)
        |SELECT tf.doc_id,
        |  ROUND(SUM(ln(1 + (n.n - dfreq.df + CAST(0.5 AS DOUBLE))
        |      / (dfreq.df + CAST(0.5 AS DOUBLE)))
        |    * (tf.tf * CAST(2.2 AS DOUBLE))
        |    / (tf.tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
        |        + CAST(0.75 AS DOUBLE) * lens.doc_len
        |        / al.avg_len))), 6) AS score
        |FROM tf JOIN dfreq USING (token) JOIN lens USING (doc_id), n, al
        |WHERE tf.token IN ('data', 'model', 'the')
        |GROUP BY tf.doc_id
        |ORDER BY score DESC, tf.doc_id""".stripMargin

  def oracles: Map[String, String] = Map(
    // BPE rebuild: 8 unrolled (pairs → argmax → fold) rounds; the merge
    // table is the union of the per-round argmax rows.
    "q_x13_bpe_merges" -> (bpeOracleCtes(8) + "\n" +
      (1 to 8).map(k =>
          s"SELECT CAST($k AS BIGINT) AS merge_rank, l AS lhs, r AS rhs," +
            s" cnt AS pair_count FROM b$k")
        .mkString("sel AS (\n", "\nUNION ALL\n", ")\n") +
      "SELECT merge_rank, lhs, rhs, pair_count FROM sel ORDER BY merge_rank"),

    // Maintained-store BPE: the q_x13 chain over the post-change live
    // corpus — the maintained word table must induce the exact merges
    // a fresh corpus build would.
    "q_x13e_bpe_maintained" -> (OracleCtes.bpeOracleCtes(8,
      "(SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0 " +
        "OR doc_id % 7 = 3 OR doc_id % 11 = 0)") + "\n" +
      (1 to 8).map(k =>
          s"SELECT CAST($k AS BIGINT) AS merge_rank, l AS lhs, r AS rhs," +
            s" cnt AS pair_count FROM b$k")
        .mkString("sel AS (\n", "\nUNION ALL\n", ")\n") +
      "SELECT merge_rank, lhs, rhs, pair_count FROM sel ORDER BY merge_rank"),

    // Maintained-store unigram candidates: the q_x13c chain over the
    // post-change live corpus.
    "q_x13f_unigram_maintained" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+'))
        |    AS word
        |  FROM documents
        |  WHERE doc_id % 5 <> 0 OR doc_id % 7 = 3 OR doc_id % 11 = 0),
        |w AS (SELECT word, count(*) AS wc FROM tok
        |  WHERE length(word) > 0 GROUP BY word),
        |p AS (
        |  SELECT unnest(flatten(list_transform(
        |      range(1, length(word) + 1), s ->
        |    list_transform(
        |      range(1, least(3, length(word) - s + 1) + 1), l ->
        |      substr(word, CAST(s AS INTEGER), CAST(l AS INTEGER))))))
        |    AS piece, wc
        |  FROM w),
        |f AS (SELECT piece, CAST(sum(wc) AS BIGINT) AS freq
        |  FROM p GROUP BY piece),
        |multi AS (
        |  SELECT piece, freq FROM f
        |  WHERE length(piece) > 1 AND freq >= 5
        |  ORDER BY freq DESC, piece LIMIT 50),
        |chars AS (SELECT piece, freq FROM f WHERE length(piece) = 1)
        |SELECT piece, freq FROM
        |  (SELECT * FROM chars UNION ALL SELECT * FROM multi)
        |ORDER BY freq DESC, piece""".stripMargin,

    // Candidate-vocabulary rebuild: the same nested substring
    // explosion (range is end-exclusive — +1 mirrors sequence's
    // inclusive bound), exact integer sums, the same (freq, piece)
    // total order for the top-V cut, single chars unioned in whole.
    "q_x13c_unigram_candidates" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+'))
        |    AS word
        |  FROM documents),
        |w AS (SELECT word, count(*) AS wc FROM tok
        |  WHERE length(word) > 0 GROUP BY word),
        |p AS (
        |  SELECT unnest(flatten(list_transform(
        |      range(1, length(word) + 1), s ->
        |    list_transform(
        |      range(1, least(3, length(word) - s + 1) + 1), l ->
        |      substr(word, CAST(s AS INTEGER), CAST(l AS INTEGER))))))
        |    AS piece, wc
        |  FROM w),
        |f AS (SELECT piece, CAST(sum(wc) AS BIGINT) AS freq
        |  FROM p GROUP BY piece),
        |multi AS (
        |  SELECT piece, freq FROM f
        |  WHERE length(piece) > 1 AND freq >= 5
        |  ORDER BY freq DESC, piece LIMIT 50),
        |chars AS (SELECT piece, freq FROM f WHERE length(piece) = 1)
        |SELECT piece, freq FROM
        |  (SELECT * FROM chars UNION ALL SELECT * FROM multi)
        |ORDER BY freq DESC, piece""".stripMargin,

    // Encode rebuild: the x13c candidate CTEs, integer costs
    // floor((ln T − ln freq)·1e6 + 0.5), then the Viterbi DP replayed
    // as reachable-state recursion (UNION dedups equal states; costs
    // are BIGINT so min/compare are exact in both engines), the
    // engine's smallest-l-at-the-minimum backpointer, and a recursive
    // backtrack for the piece counts. unk = max cost + 1 (single
    // chars only), mirroring viterbiSegment's fallback.
    "q_x13d_unigram_encode" ->
      """WITH RECURSIVE tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+'))
        |    AS word
        |  FROM documents),
        |w AS (SELECT word, count(*) AS wc FROM tok
        |  WHERE length(word) > 0 GROUP BY word),
        |p AS (
        |  SELECT unnest(flatten(list_transform(
        |      range(1, length(word) + 1), s ->
        |    list_transform(
        |      range(1, least(3, length(word) - s + 1) + 1), l ->
        |      substr(word, CAST(s AS INTEGER), CAST(l AS INTEGER))))))
        |    AS piece, wc
        |  FROM w),
        |f AS (SELECT piece, CAST(sum(wc) AS BIGINT) AS freq
        |  FROM p GROUP BY piece),
        |multi AS (
        |  SELECT piece, freq FROM f
        |  WHERE length(piece) > 1 AND freq >= 5
        |  ORDER BY freq DESC, piece LIMIT 50),
        |chars AS (SELECT piece, freq FROM f WHERE length(piece) = 1),
        |vocab AS (
        |  SELECT * FROM chars UNION ALL SELECT * FROM multi),
        |tt AS (SELECT CAST(sum(freq) AS BIGINT) AS t FROM vocab),
        |vc AS (SELECT piece,
        |    CAST(floor((ln(CAST(t AS DOUBLE)) - ln(CAST(freq AS DOUBLE)))
        |      * 1e6 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS c
        |  FROM vocab, tt),
        |unk AS (SELECT max(c) + 1 AS u FROM vc),
        |grid AS (
        |  SELECT w.word, CAST(s.s AS INTEGER) AS s,
        |    CAST(l.l AS INTEGER) AS l,
        |    substr(w.word, CAST(s.s AS INTEGER), CAST(l.l AS INTEGER))
        |      AS piece
        |  FROM w, range(1, 65) s(s), range(1, 4) l(l)
        |  WHERE s.s + l.l - 1 <= length(w.word)),
        |pc AS (
        |  SELECT g.word, g.s, g.l,
        |    coalesce(v.c, CASE WHEN g.l = 1 THEN unk.u END) AS c
        |  FROM grid g LEFT JOIN vc v ON v.piece = g.piece, unk
        |  WHERE v.c IS NOT NULL OR g.l = 1),
        |seg AS (
        |  SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS cost FROM w
        |  UNION
        |  SELECT s.word, s.pos + p2.l, s.cost + p2.c
        |  FROM seg s JOIN pc p2
        |    ON p2.word = s.word AND p2.s = s.pos + 1),
        |dp AS (SELECT word, pos, min(cost) AS cost FROM seg
        |  GROUP BY word, pos),
        |bk AS (
        |  SELECT d.word, d.pos, min(p2.l) AS back
        |  FROM dp d
        |  JOIN pc p2 ON p2.word = d.word AND p2.s = d.pos - p2.l + 1
        |  JOIN dp prev ON prev.word = d.word AND prev.pos = d.pos - p2.l
        |  WHERE prev.cost + p2.c = d.cost AND d.pos > 0
        |  GROUP BY d.word, d.pos),
        |bt AS (
        |  SELECT word, CAST(length(word) AS INTEGER) AS pos, 0 AS np
        |  FROM w
        |  UNION ALL
        |  SELECT b.word, CAST(b.pos - k.back AS INTEGER), b.np + 1
        |  FROM bt b JOIN bk k ON k.word = b.word AND k.pos = b.pos
        |  WHERE b.pos > 0),
        |ws AS (
        |  SELECT b.word, b.np, d.cost
        |  FROM bt b JOIN dp d
        |    ON d.word = b.word AND d.pos = length(b.word)
        |  WHERE b.pos = 0),
        |dw AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |  FROM documents)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(s2.np) AS BIGINT) AS n_pieces,
        |  CAST(sum(s2.cost) AS BIGINT) AS cost_e6
        |FROM dw JOIN ws s2 USING (word)
        |WHERE length(dw.word) > 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Encode rebuild: final vocab v8 joined back to the corpus words;
    // OOV fallback mirrored (coalesce to len+1) though the training
    // corpus is the encoded corpus here.
    "q_x13b_bpe_encode" -> (bpeOracleCtes(8) + "\n" +
      """seg AS (SELECT word, len(syms) AS sl FROM v8),
        |dw AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |  FROM documents)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(coalesce(s.sl, len(d.word) + 1)) AS BIGINT) AS n_subwords
        |FROM dw d LEFT JOIN seg s USING (word)
        |WHERE len(d.word) > 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // The whole curation pipeline, stage by stage: Gopher quality rules
    // (q_x4g's rebuild), exact keepers, portable-LSH dedup among the
    // representatives (6-round CC unroll), trigram decontamination vs the
    // bench slice (reusing the rep shingles — dedup survivors are reps),
    // and the quota stage as per-group count arithmetic. Rows with n = 0
    // are filtered to mirror the groupBy over an attributed report.
    "q_x10_curate" ->
      s"""$curationOracleCtes
         |SELECT stage, CAST(n AS BIGINT) AS n FROM (
         |  SELECT 'quality' AS stage,
         |    (SELECT count(*) FROM corpus) - (SELECT count(*) FROM g) AS n
         |  UNION ALL SELECT 'dedup',
         |    (SELECT count(*) FROM g) - (SELECT count(*) FROM ded)
         |  UNION ALL SELECT 'decontamination',
         |    (SELECT count(*) FROM ded) - (SELECT count(*) FROM dec)
         |  UNION ALL SELECT 'quota',
         |    (SELECT COALESCE(sum(CASE WHEN n > 40 THEN n - 40 ELSE 0 END),
         |       0) FROM counts)
         |  UNION ALL SELECT 'kept',
         |    (SELECT COALESCE(sum(least(n, 40)), 0) FROM counts)
         |) WHERE n > 0 ORDER BY stage""".stripMargin,

    // Temperature tail: per-lang keep rate least(1, T·√n/Σ√n/n) exactly
    // as the engine computes it (same IEEE ops over the same exact
    // integer n), membership via the portable md5-48 bucket; the rate
    // threshold truncates (Spark double→long cast ≡ floor for
    // non-negative).
    "q_x10b_curate_temperature" ->
      s"""$curationOracleCtes,
         |rates AS (
         |  SELECT lang, least(CAST(1 AS DOUBLE),
         |    150 * sqrt(CAST(n AS DOUBLE)) /
         |    (SELECT sum(sqrt(CAST(n AS DOUBLE))) FROM counts) / n) AS rate
         |  FROM counts
         |), tkept AS (
         |  SELECT d.doc_id FROM dec d JOIN rates r USING (lang)
         |  WHERE CAST(concat('0x',
         |      substr(md5(concat(42, ':', d.doc_id)), 1, 12)) AS BIGINT)
         |    % 1000000 < CAST(floor(r.rate * 1000000) AS BIGINT)
         |)
         |SELECT stage, CAST(n AS BIGINT) AS n FROM (
         |  SELECT 'quality' AS stage,
         |    (SELECT count(*) FROM corpus) - (SELECT count(*) FROM g) AS n
         |  UNION ALL SELECT 'dedup',
         |    (SELECT count(*) FROM g) - (SELECT count(*) FROM ded)
         |  UNION ALL SELECT 'decontamination',
         |    (SELECT count(*) FROM ded) - (SELECT count(*) FROM dec)
         |  UNION ALL SELECT 'temperature',
         |    (SELECT count(*) FROM dec) - (SELECT count(*) FROM tkept)
         |  UNION ALL SELECT 'kept', (SELECT count(*) FROM tkept)
         |) WHERE n > 0 ORDER BY stage""".stripMargin,

    // DSIR: hashed-unigram (md5-48 mod 1024) bucket models with Laplace
    // smoothing on target (lang='en') and raw; per-doc log-ratio weight;
    // Gumbel from the id hash ((h+0.5)/2^48); rank on the e4-integerized
    // perturbed score with doc-id tie-break, take 100. ln/exp and the
    // e4 pattern are the proven q_x4i machinery.
    "q_x11_dsir" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |feat AS (
        |  SELECT doc_id, CAST(concat('0x', substr(md5(concat(
        |      42, ':', token)), 1, 12)) AS BIGINT) % 1024 AS b,
        |    count(*) AS c
        |  FROM tok GROUP BY 1, 2),
        |tc AS (SELECT b, sum(c) AS tn FROM feat
        |       WHERE doc_id IN (SELECT doc_id FROM documents
        |                        WHERE lang = 'en')
        |       GROUP BY b),
        |rc AS (SELECT b, sum(c) AS rn FROM feat GROUP BY b),
        |tt AS (SELECT sum(tn) AS t FROM tc),
        |rt AS (SELECT sum(rn) AS t FROM rc),
        |ratio AS (
        |  SELECT r.b,
        |    ln(CAST(COALESCE(t.tn, 0) + 1 AS DOUBLE)
        |       / ((SELECT t FROM tt) + 1024))
        |    - ln(CAST(r.rn + 1 AS DOUBLE)
        |       / ((SELECT t FROM rt) + 1024)) AS lr
        |  FROM rc r LEFT JOIN tc t USING (b)),
        |lw AS (
        |  SELECT f.doc_id, sum(f.c * ratio.lr) AS lw
        |  FROM feat f JOIN ratio USING (b) GROUP BY 1),
        |sc AS (
        |  SELECT doc_id,
        |    CAST(floor(lw * 1e4 + CAST(0.5 AS DOUBLE)) AS BIGINT)
        |      AS lw_e4,
        |    CAST(floor((lw - ln(-ln(
        |      (CAST(concat('0x', substr(md5(concat(43, ':', doc_id)),
        |        1, 12)) AS BIGINT) + CAST(0.5 AS DOUBLE))
        |      / 281474976710656.0))) * 1e4 + CAST(0.5 AS DOUBLE))
        |      AS BIGINT) AS score_e4
        |  FROM lw)
        |SELECT doc_id, lw_e4, score_e4 FROM (
        |  SELECT *, row_number() OVER (
        |    ORDER BY score_e4 DESC, doc_id) AS rn FROM sc)
        |WHERE rn <= 100
        |ORDER BY doc_id""".stripMargin,

    // The EXACT Fingerprint64 hash (31-polynomial mod 2^64 over UTF-8
    // bytes, seed 1125899906842597), not a portable stand-in: HUGEINT
    // list_reduce with explicit wrap, reinterpreted signed at the end.
    // Empty text folds nothing (fp = seed); null text stays null.
    "q_text_fingerprint" ->
      """WITH b AS (
        |  SELECT doc_id, hex(encode(text)) AS hx FROM documents
        |  WHERE text IS NOT NULL
        |), e AS (
        |  SELECT doc_id, u.i,
        |    CAST(concat('0x', substr(hx, u.i * 2 - 1, 2)) AS INTEGER) AS byte
        |  FROM b, LATERAL (SELECT unnest(range(1, length(hx) // 2 + 1)) AS i) u
        |), f AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(1125899906842597 AS HUGEINT),
        |        list(CAST(byte AS HUGEINT) ORDER BY i)),
        |      (acc, x) -> (acc * 31 + x) % 18446744073709551616::HUGEINT)
        |      AS h
        |  FROM e GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  CASE WHEN d.text IS NULL THEN NULL
        |    ELSE CAST(CASE
        |      WHEN COALESCE(f.h, 1125899906842597::HUGEINT)
        |        >= 9223372036854775808::HUGEINT
        |      THEN COALESCE(f.h, 1125899906842597::HUGEINT)
        |        - 18446744073709551616::HUGEINT
        |      ELSE COALESCE(f.h, 1125899906842597::HUGEINT) END AS BIGINT)
        |  END AS fp
        |FROM documents d LEFT JOIN f USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // Same plain-alternation pattern under RE2; list length = hit count.
    "q_x4l_blocklist" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(lower(text),
        |    '\b(slow|dup|big data)\b', 1)) AS INTEGER) AS n_hits,
        |  len(regexp_extract_all(lower(text),
        |    '\b(slow|dup|big data)\b', 1)) = 0 AS kept
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_x4_text_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |ROUND(avg(n_chars), 4) AS avg_chars,
        |ROUND(avg(CASE WHEN length(trim(text)) = 0 THEN 0
        |  ELSE array_length(regexp_split_to_array(trim(text), '\s+')) END), 4)
        |  AS avg_tokens,
        |ROUND(avg(length(text)), 4) AS avg_len
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_x4c_vocab_topk" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tk
        |  FROM documents)
        |SELECT tk, count(*) AS n FROM tok GROUP BY tk
        |ORDER BY n DESC, tk LIMIT 20""".stripMargin,

    "q_x4d_length_percentiles" ->
      """SELECT ROUND(quantile_cont(n_chars, 0.5), 4) AS p50,
        |ROUND(quantile_cont(n_chars, 0.9), 4) AS p90,
        |ROUND(quantile_cont(n_chars, 0.99), 4) AS p99,
        |count(*) AS n_docs FROM documents""".stripMargin,

    "q_x4d2_pctl_by_lang" ->
      """SELECT lang,
        |ROUND(quantile_cont(n_chars, 0.5), 4) AS p50,
        |ROUND(quantile_cont(n_chars, 0.9), 4) AS p90,
        |count(*) AS n_docs FROM documents
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q_x4e_clean_repetition" ->
      """WITH dirty AS (
        |  SELECT doc_id,
        |    'mail u' || doc_id || '@ex.org ip 10.0.0.' || (doc_id % 256)
        |      || ' ' || text AS dirty
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(dirty,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS redacted,
        |  ROUND(CASE WHEN length(trim(dirty)) = 0 THEN 0.0
        |    ELSE 1.0 -
        |      CAST(array_length(list_distinct(
        |        regexp_split_to_array(trim(dirty), '\s+'))) AS DOUBLE) /
        |      array_length(regexp_split_to_array(trim(dirty), '\s+'))
        |  END, 6) AS rep_ratio
        |FROM dirty ORDER BY doc_id""".stripMargin,

    // PII-scrub rebuild: the same four-stage fold, each stage counting
    // on the previous stage's output then replacing globally; the
    // pattern strings are interpolated from the engine's own constants
    // (Java∩RE2 subset), so both engines execute identical regexes.
    "q_x4t_pii_scrub" ->
      s"""WITH aug AS (
         |  SELECT doc_id, text || ' contact user' || doc_id::VARCHAR ||
         |    '@example.com or 10.' || (doc_id % 256)::VARCHAR ||
         |    '.0.7 tel +1 (555) 123-4567 ssn 123-45-6789' AS t0
         |  FROM documents),
         |s1 AS (SELECT doc_id,
         |  len(regexp_extract_all(t0, '${Curation.EmailRe}'))
         |    AS n_emails,
         |  regexp_replace(t0, '${Curation.EmailRe}', '<EMAIL>', 'g')
         |    AS t1 FROM aug),
         |s2 AS (SELECT doc_id, n_emails,
         |  len(regexp_extract_all(t1, '${Curation.IpV4Re}')) AS n_ips,
         |  regexp_replace(t1, '${Curation.IpV4Re}', '<IP>', 'g')
         |    AS t2 FROM s1),
         |s3 AS (SELECT doc_id, n_emails, n_ips,
         |  len(regexp_extract_all(t2, '${Curation.SsnRe}')) AS n_ssns,
         |  regexp_replace(t2, '${Curation.SsnRe}', '<SSN>', 'g')
         |    AS t3 FROM s2),
         |s4 AS (SELECT doc_id, n_emails, n_ips, n_ssns,
         |  len(regexp_extract_all(t3, '${Curation.PhoneRe}'))
         |    AS n_phones,
         |  regexp_replace(t3, '${Curation.PhoneRe}', '<PHONE>', 'g')
         |    AS t4 FROM s3)
         |SELECT doc_id, n_emails, n_ips, n_ssns, n_phones,
         |  md5(t4) AS scrub_md5
         |FROM s4 ORDER BY doc_id""".stripMargin,

    // HTML shell rebuilt by string concat, then the staged regex fold
    // replayed verbatim (shared Java∩RE2 patterns interpolated from
    // the engine constants; chr(10) is the newline replacement —
    // single-quoted SQL keeps backslashes literal, so '\n' in a
    // PATTERN is RE2's newline escape while a REPLACEMENT needs the
    // real character).
    "q_x4u_html_extract" ->
      s"""WITH aug AS (
         |  SELECT doc_id, '<html><head><title>Doc ' || doc_id::VARCHAR
         |    || '</title><script type="text/javascript">var x = '
         |    || doc_id::VARCHAR
         |    || ';</script><style>.c { color: red }</style></head>'
         |    || '<body><!-- nav ' || doc_id::VARCHAR
         |    || ' --><h1>Title ' || doc_id::VARCHAR
         |    || '</h1><p>' || text
         |    || '</p><div class="f">copy &amp;lt; paste &lt;here&gt;'
         |    || '&nbsp;&#39;now&quot;</div><a href="http://ex.org/'
         |    || doc_id::VARCHAR || '">link</a><br/></body></html>'
         |    AS t0
         |  FROM documents),
         |s1 AS (SELECT doc_id,
         |  len(regexp_extract_all(t0, '${Curation.HtmlScriptRe}'))
         |    AS n_scripts,
         |  regexp_replace(regexp_replace(regexp_replace(t0,
         |    '${Curation.HtmlScriptRe}', '', 'g'),
         |    '${Curation.HtmlStyleRe}', '', 'g'),
         |    '${Curation.HtmlCommentRe}', '', 'g') AS t1 FROM aug),
         |s2 AS (SELECT doc_id, n_scripts,
         |  len(regexp_extract_all(t1, '${Curation.HtmlLinkRe}'))
         |    AS n_links,
         |  regexp_replace(t1, '${Curation.HtmlBlockSepRe}', chr(10),
         |    'g') AS t2 FROM s1),
         |s3 AS (SELECT doc_id, n_scripts, n_links,
         |  len(regexp_extract_all(t2, '${Curation.HtmlTagRe}'))
         |    AS n_tags,
         |  regexp_replace(t2, '${Curation.HtmlTagRe}', '', 'g')
         |    AS t3 FROM s2),
         |s4 AS (SELECT doc_id, n_scripts, n_links, n_tags,
         |  regexp_replace(regexp_replace(regexp_replace(
         |  regexp_replace(regexp_replace(regexp_replace(t3,
         |    '&lt;', '<', 'g'), '&gt;', '>', 'g'),
         |    '&quot;', '"', 'g'), '&#39;', '''', 'g'),
         |    '&nbsp;', ' ', 'g'), '&amp;', '&', 'g') AS t4 FROM s3),
         |s5 AS (SELECT doc_id, n_scripts, n_links, n_tags,
         |  regexp_replace(regexp_replace(regexp_replace(
         |  regexp_replace(t4,
         |    '[ \\t\\r]+', ' ', 'g'),
         |    ' ?\\n ?', chr(10), 'g'),
         |    '\\n{3,}', chr(10) || chr(10), 'g'),
         |    '^[ \\n]+|[ \\n]+$$', '', 'g') AS t5 FROM s4)
         |SELECT doc_id, n_scripts, n_links, n_tags, md5(t5) AS text_md5
         |FROM s5 ORDER BY doc_id""".stripMargin,

    // The code-fence fold replayed stage-for-stage with the SAME
    // interpolated pattern (the x4u discipline): group extractions for
    // bodies/infos, the fence-strip + whitespace normalize for prose,
    // md5 pinning both byte-for-byte; empty-list array_to_string
    // coalesces to '' (DuckDB returns NULL).
    "q_x4v_code_extract" ->
      s"""WITH md AS (
         |  SELECT doc_id,
         |    '# doc' || chr(10) || chr(10) || substr(text, 1, 60)
         |    || chr(10) || '```'
         |    || CASE WHEN doc_id % 3 = 0 THEN 'python'
         |            WHEN doc_id % 3 = 1 THEN 'scala' ELSE '' END
         |    || chr(10) || substr(text, 20, 45)
         |    || chr(10) || '```' || chr(10) || substr(text, 60, 30)
         |    || CASE WHEN doc_id % 4 = 0
         |         THEN chr(10) || '```sql' || chr(10) || 'SELECT '
         |           || (doc_id % 97)::VARCHAR || ';' || chr(10) || '```'
         |         ELSE '' END AS t0
         |  FROM documents),
         |x AS (
         |  SELECT doc_id,
         |    regexp_extract_all(t0, '${Curation.CodeFenceRe}', 1)
         |      AS infos,
         |    regexp_extract_all(t0, '${Curation.CodeFenceRe}', 2)
         |      AS bodies,
         |    regexp_replace(regexp_replace(regexp_replace(t0,
         |      '${Curation.CodeFenceRe}', ' ', 'g'),
         |      '[ \\t\\r]+', ' ', 'g'),
         |      '^[ \\n]+|[ \\n]+$$', '', 'g') AS prose
         |  FROM md)
         |SELECT doc_id,
         |  CAST(len(bodies) AS BIGINT) AS n_fences,
         |  CAST(length(coalesce(array_to_string(bodies, ''), ''))
         |    AS BIGINT) AS code_chars,
         |  md5(coalesce(array_to_string(bodies, chr(10) || chr(10)), ''))
         |    AS code_md5,
         |  md5(prose) AS prose_md5,
         |  coalesce(array_to_string(
         |    list_transform(infos, z -> trim(z)), ','), '')
         |    AS fence_langs
         |FROM x ORDER BY doc_id""".stripMargin,

    // Zipf fit rebuild — q_g22's exact-integer log-sum shape over the
    // token-frequency histogram instead of the degree histogram.
    "q_x4w_zipf" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tk
        |  FROM documents),
        |tok2 AS (SELECT tk FROM tok WHERE length(tk) > 0),
        |freq AS (SELECT tk, count(*) AS f FROM tok2 GROUP BY tk),
        |h AS (SELECT f, count(*) AS n_f FROM freq WHERE f >= 2
        |  GROUP BY f),
        |s AS (
        |  SELECT CAST(sum(n_f) AS BIGINT) AS n_types,
        |    sum(CAST(n_f AS HUGEINT)
        |      * CAST(floor(ln(CAST(f AS DOUBLE) / CAST(2 AS DOUBLE))
        |          * 1e9 + CAST(0.5 AS DOUBLE)) AS HUGEINT)) AS s_e9
        |  FROM h),
        |a AS (
        |  SELECT n_types,
        |    CASE WHEN s_e9 = 0 THEN NULL
        |      ELSE CAST(1 AS DOUBLE) + CAST(n_types AS DOUBLE)
        |        / (CAST(s_e9 AS DOUBLE) / 1e9) END AS alpha
        |  FROM s)
        |SELECT n_types, CAST(2 AS BIGINT) AS f_min,
        |  CAST(floor(alpha * 1e6 + CAST(0.5 AS DOUBLE)) AS BIGINT)
        |    AS alpha_e6,
        |  CAST(floor((alpha - CAST(1 AS DOUBLE))
        |      / sqrt(CAST(n_types AS DOUBLE)) * 1e6
        |    + CAST(0.5 AS DOUBLE)) AS BIGINT) AS se_e6
        |FROM a""".stripMargin,

    // Readability rebuild: identical RE2-safe run patterns, exact
    // counts, score shapes mirrored term-for-term ((206.835 − 1.015·ws)
    // − 84.6·yw; (0.39·ws + 11.8·yw) − 15.59), e4.
    "q_x4s_readability" ->
      """WITH r AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '[A-Za-z]+')) AS w,
        |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
        |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS y
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, w, s, y,
        |    CAST(w AS DOUBLE) / CAST(s AS DOUBLE) AS ws,
        |    CAST(y AS DOUBLE) / CAST(w AS DOUBLE) AS yw
        |  FROM r)
        |SELECT doc_id, CAST(w AS BIGINT) AS n_words,
        |  CAST(s AS BIGINT) AS n_sentences, CAST(y AS BIGINT) AS n_syllables,
        |  CASE WHEN w = 0 THEN NULL ELSE
        |    CAST(floor((CAST(206.835 AS DOUBLE) - CAST(1.015 AS DOUBLE) * ws
        |      - CAST(84.6 AS DOUBLE) * yw) * 1e4
        |      + CAST(0.5 AS DOUBLE)) AS BIGINT) END AS flesch_e4,
        |  CASE WHEN w = 0 THEN NULL ELSE
        |    CAST(floor((CAST(0.39 AS DOUBLE) * ws + CAST(11.8 AS DOUBLE) * yw
        |      - CAST(15.59 AS DOUBLE)) * 1e4
        |      + CAST(0.5 AS DOUBLE)) AS BIGINT) END AS fk_e4
        |FROM d ORDER BY doc_id""".stripMargin,

    // Hashed-feature linear scorer: rebuild feature ids (md5-48 mod
    // 1024), the seeded weight table (md5-48 of "w:<f>" affine-mapped to
    // [-1,1]), and the per-doc mean; e6-integerized.
    "q_x4p_quality_model" ->
      """WITH tok AS (
        |  SELECT doc_id, u.tk FROM (
        |    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
        |    FROM documents WHERE text IS NOT NULL),
        |    LATERAL (SELECT unnest(arr) AS tk) u
        |  WHERE u.tk <> ''
        |), f AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(concat(42, ':', tk)), 1, 12))
        |      AS BIGINT) % 1024 AS feature_id
        |  FROM tok
        |), w AS (
        |  SELECT g.f AS feature_id,
        |    CAST(CAST(concat('0x', substr(md5(concat(42, ':', 'w:', g.f)),
        |        1, 12)) AS BIGINT) % 2001 - 1000 AS DOUBLE) AS weight
        |  FROM generate_series(0, 1023) g(f)
        |), s AS (
        |  SELECT f.doc_id, sum(w.weight) / count(*) AS score,
        |    count(*) AS n
        |  FROM f JOIN w USING (feature_id) GROUP BY f.doc_id
        |)
        |SELECT d.doc_id,
        |  CAST(floor(COALESCE(s.score, 0) * 1e3 + CAST(0.5 AS DOUBLE))
        |    AS BIGINT) AS score_e6,
        |  COALESCE(s.n, 0) AS n_tokens
        |FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
        |LEFT JOIN s USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Exact regime (capacity ≥ |vocab|): MG counts equal true counts, and
    // the (count desc, item) tie-break matches on both sides.
    "q_x4h_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tk
        |  FROM documents)
        |SELECT tk AS item, count(*) AS n FROM tok GROUP BY tk
        |ORDER BY n DESC, item LIMIT 10""".stripMargin,

    // CMS rebuild: every (row, bucket) counter = count of tokens whose
    // md5-48 under seed 7+d lands in the bucket — the exact portable-
    // hash contract, zero-filled over the full depth × width grid.
    "q_x15_cms" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tk
        |  FROM documents),
        |h AS (
        |  SELECT dd.d,
        |    CAST(concat('0x', substr(md5(concat(
        |      CAST(7 + dd.d AS VARCHAR), ':', tk)), 1, 12)) AS BIGINT)
        |      % 64 AS b
        |  FROM tok, (SELECT unnest(range(3)) AS d) dd),
        |c AS (SELECT d, b, count(*) AS n FROM h GROUP BY 1, 2),
        |grid AS (
        |  SELECT dd.d, bb.b
        |  FROM (SELECT unnest(range(3)) AS d) dd,
        |    (SELECT unnest(range(64)) AS b) bb)
        |SELECT CAST(grid.d AS INTEGER) AS d, CAST(grid.b AS INTEGER)
        |    AS b,
        |  CAST(coalesce(c.n, 0) AS BIGINT) AS cnt
        |FROM grid LEFT JOIN c USING (d, b)
        |ORDER BY d, b""".stripMargin,

    // CMS estimate rebuild: same counters, min over the three probed
    // cells per top-20 token — certifies the column-side probe path.
    "q_x15b_cms_estimate" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tk
        |  FROM documents),
        |h AS (
        |  SELECT dd.d,
        |    CAST(concat('0x', substr(md5(concat(
        |      CAST(7 + dd.d AS VARCHAR), ':', tk)), 1, 12)) AS BIGINT)
        |      % 64 AS b
        |  FROM tok, (SELECT unnest(range(3)) AS d) dd),
        |c AS (SELECT d, b, count(*) AS n FROM h GROUP BY 1, 2),
        |top AS (
        |  SELECT tk, count(*) AS true_n FROM tok GROUP BY 1
        |  ORDER BY true_n DESC, tk LIMIT 20),
        |probe AS (
        |  SELECT top.tk, top.true_n, dd.d,
        |    CAST(concat('0x', substr(md5(concat(
        |      CAST(7 + dd.d AS VARCHAR), ':', top.tk)), 1, 12)) AS BIGINT)
        |      % 64 AS b
        |  FROM top, (SELECT unnest(range(3)) AS d) dd)
        |SELECT tk, CAST(true_n AS BIGINT) AS true_n,
        |  CAST(min(c.n) AS BIGINT) AS est_n
        |FROM probe JOIN c USING (d, b)
        |GROUP BY tk, true_n
        |ORDER BY true_n DESC, tk""".stripMargin,

    // Rule inputs recomputed in SQL from the same definitions the fused
    // kernel uses: whitespace tokens, non-ws char count, ASCII punct
    // class, lowercased-whole-token stopword hits.
    "q_x4g_gopher_rules" ->
      ("""WITH s AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END
        |      AS n_toks,
        |    length(regexp_replace(text, '\s', '', 'g')) AS n_nonws,
        |    length(regexp_replace(text, '[^!-/:-@\[-`{-~]', '', 'g'))
        |      AS n_punct,
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> lower(x) IN ('the','a','an','and','or','of','to','in',
        |        'is','are','was','it','that','this','for','on','with','as',
        |        'be','by','at'))) AS n_stop
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN n_toks BETWEEN 20 AND 100000 THEN 1 ELSE 0 END
        |    AS words_ok,
        |  CASE WHEN n_toks > 0
        |        AND (n_nonws * 1.0 / n_toks) BETWEEN 3.0 AND 10.0
        |       THEN 1 ELSE 0 END AS mean_word_ok,
        |  CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS stopwords_ok,
        |  CASE WHEN n_toks > 0 AND n_punct * 1.0 / n_toks < 0.5
        |       THEN 1 ELSE 0 END AS symbol_ok,
        |  CASE WHEN n_toks BETWEEN 20 AND 100000
        |        AND n_toks > 0
        |        AND (n_nonws * 1.0 / n_toks) BETWEEN 3.0 AND 10.0
        |        AND n_stop >= 2
        |        AND n_punct * 1.0 / n_toks < 0.5
        |       THEN 1 ELSE 0 END AS pass
        |FROM s ORDER BY doc_id""").stripMargin,

    // The maintained-index search rebuild: q_x9c's chain over the
    // post-change live corpus (the q_x9f live set).
    "q_x9h_lex_search_maintained" -> x9hSearchSql,

    // the versioned-store path must reproduce the in-memory maintained
    // serve exactly — the shared oracle IS the claim
    "q_x9j_lex_store_versioned" -> x9hSearchSql,


    "q_x9c_bm25_search" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
        |       GROUP BY doc_id, token),
        |lens AS (SELECT doc_id, sum(tf) AS doc_len FROM tf GROUP BY doc_id),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n FROM documents),
        |al AS (SELECT avg(doc_len) AS avg_len FROM lens)
        |SELECT tf.doc_id,
        |  ROUND(SUM(ln(1 + (n.n - dfreq.df + CAST(0.5 AS DOUBLE))
        |      / (dfreq.df + CAST(0.5 AS DOUBLE)))
        |    * (tf.tf * CAST(2.2 AS DOUBLE))
        |    / (tf.tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
        |        + CAST(0.75 AS DOUBLE) * lens.doc_len
        |        / al.avg_len))), 6) AS score
        |FROM tf JOIN dfreq USING (token) JOIN lens USING (doc_id), n, al
        |WHERE tf.token IN ('data', 'model', 'the')
        |GROUP BY tf.doc_id
        |ORDER BY score DESC, tf.doc_id""".stripMargin,

    // Chunk count = max(1, ceil((len − overlap)/stride)); both engines
    // compute the count in double from the same integers and slice with
    // the same 1-based substring semantics.
    "q_x4j_chunking" ->
      """SELECT doc_id, chunk_id,
        |  CAST(length(substring(text, CAST(chunk_id*100 + 1 AS INT), 120))
        |    AS BIGINT) AS chunk_len,
        |  substring(text, CAST(chunk_id*100 + 1 AS INT), 120) AS chunk_text
        |FROM (
        |  SELECT doc_id, text,
        |    unnest(generate_series(0,
        |      CAST(greatest(1, ceil((length(text) - 20)
        |        / CAST(100 AS DOUBLE))) AS BIGINT) - 1)) AS chunk_id
        |  FROM documents)
        |ORDER BY doc_id, chunk_id""".stripMargin,

    // Self-trained unigram model: p(t) = n/total in double on both
    // engines; the e4 integerization absorbs ln-libm and sum-order ulps.
    "q_x4i_unigram_ppl" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
        |       GROUP BY doc_id, token),
        |uni AS (SELECT token, sum(tf) AS n FROM tf GROUP BY token),
        |tot AS (SELECT sum(n) AS total FROM uni),
        |per AS (SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS doc_len,
        |          sum(tf.tf * ln(uni.n / tot.total)) AS lp
        |        FROM tf JOIN uni USING (token), tot GROUP BY tf.doc_id)
        |SELECT doc_id, doc_len,
        |  CAST(floor(lp / doc_len * 1e4 + CAST(0.5 AS DOUBLE)) AS BIGINT)
        |    AS log_prob_e4,
        |  CAST(floor(exp(-(lp / doc_len)) * 1e4 + CAST(0.5 AS DOUBLE))
        |    AS BIGINT) AS ppl_e4
        |FROM per ORDER BY doc_id""".stripMargin,

    // q_x4i's ppl kernel → integerized score → per-lang ntile with
    // doc_id tie-break (same total order both engines).
    "q_x4q_ppl_buckets" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
        |       GROUP BY doc_id, token),
        |uni AS (SELECT token, sum(tf) AS n FROM tf GROUP BY token),
        |tot AS (SELECT sum(n) AS total FROM uni),
        |per AS (SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS doc_len,
        |          sum(tf.tf * ln(uni.n / tot.total)) AS lp
        |        FROM tf JOIN uni USING (token), tot GROUP BY tf.doc_id),
        |ppl AS (SELECT doc_id,
        |          CAST(floor(exp(-(lp / doc_len)) * 1e4
        |            + CAST(0.5 AS DOUBLE)) AS BIGINT) AS ppl_e4
        |        FROM per),
        |b AS (
        |  SELECT d.doc_id, p.ppl_e4, d.lang,
        |    CAST(ntile(3) OVER (PARTITION BY d.lang
        |      ORDER BY p.ppl_e4, d.doc_id) AS BIGINT) AS bucket
        |  FROM documents d JOIN ppl p USING (doc_id))
        |SELECT doc_id, ppl_e4, lang, bucket,
        |  CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
        |    ELSE 'tail' END AS bucket_label
        |FROM b ORDER BY doc_id""".stripMargin,

    // Bigram LM: Laplace (c_ab+1)/(c1+V) with the exact ln operand shape
    // of the Spark side; bigrams via 1-based positional list indexing
    // (both engines), outputs e4-integerized like q_x4i.
    "q_x4r_bigram_ppl" ->
      """WITH arr AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, a[i] AS w1, a[i + 1] AS w2
        |  FROM arr, LATERAL (SELECT unnest(range(1, len(a))) AS i) u),
        |cb AS (SELECT w1, w2, count(*) AS c_ab FROM bg GROUP BY 1, 2),
        |cx AS (SELECT w1, sum(c_ab) AS c1 FROM cb GROUP BY 1),
        |v AS (SELECT count(DISTINCT t) AS v FROM (
        |  SELECT unnest(a) AS t FROM arr)),
        |dtf AS (SELECT doc_id, w1, w2, count(*) AS btf FROM bg
        |        GROUP BY 1, 2, 3),
        |per AS (
        |  SELECT d.doc_id, CAST(sum(d.btf) AS BIGINT) AS n_bigrams,
        |    sum(d.btf * ln((cb.c_ab + CAST(1 AS DOUBLE))
        |      / CAST(cx.c1 + v.v AS DOUBLE))) AS lp
        |  FROM dtf d JOIN cb USING (w1, w2) JOIN cx USING (w1), v
        |  GROUP BY d.doc_id)
        |SELECT doc_id, n_bigrams,
        |  CAST(floor(lp / n_bigrams * 1e4 + CAST(0.5 AS DOUBLE))
        |    AS BIGINT) AS log_prob_e4,
        |  CAST(floor(exp(-(lp / n_bigrams)) * 1e4 + CAST(0.5 AS DOUBLE))
        |    AS BIGINT) AS ppl_e4
        |FROM per ORDER BY doc_id""".stripMargin,

    // Kneser–Ney rebuild: same bigram tables as q_x4r plus the
    // continuation counts; the interpolated-P operand chain mirrors the
    // Spark association left-to-right (max-discount term + ((d·n1f)/c1)
    // · (n1b/tt)); e4 absorbs ln/sum-order ulps (the q_x4r precedent).
    "q_x14_kn_ppl" ->
      """WITH arr AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, a[i] AS w1, a[i + 1] AS w2
        |  FROM arr, LATERAL (SELECT unnest(range(1, len(a))) AS i) u),
        |cb AS (SELECT w1, w2, count(*) AS c_ab FROM bg GROUP BY 1, 2),
        |cx AS (SELECT w1, sum(c_ab) AS c1, count(*) AS n1f FROM cb
        |       GROUP BY 1),
        |ct AS (SELECT w2, count(*) AS n1b FROM cb GROUP BY 1),
        |tt AS (SELECT count(*) AS tt FROM cb),
        |dtf AS (SELECT doc_id, w1, w2, count(*) AS btf FROM bg
        |        GROUP BY 1, 2, 3),
        |per AS (
        |  SELECT d.doc_id, CAST(sum(d.btf) AS BIGINT) AS n_bigrams,
        |    sum(d.btf * ln(
        |      greatest(cb.c_ab - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE))
        |        / CAST(cx.c1 AS DOUBLE)
        |      + CAST(0.75 AS DOUBLE) * cx.n1f / CAST(cx.c1 AS DOUBLE)
        |        * (ct.n1b / CAST(tt.tt AS DOUBLE)))) AS lp
        |  FROM dtf d JOIN cb USING (w1, w2) JOIN cx USING (w1)
        |    JOIN ct USING (w2), tt
        |  GROUP BY d.doc_id)
        |SELECT doc_id, n_bigrams,
        |  CAST(floor(lp / n_bigrams * 1e4 + CAST(0.5 AS DOUBLE))
        |    AS BIGINT) AS log_prob_e4,
        |  CAST(floor(exp(-(lp / n_bigrams)) * 1e4 + CAST(0.5 AS DOUBLE))
        |    AS BIGINT) AS ppl_e4
        |FROM per ORDER BY doc_id""".stripMargin,

    // Trigram KN rebuild: one trigram type table feeds every
    // continuation level (mid = distinct-w1 counts per (w2,w3), its
    // per-w2 rollup, the per-w3 type counts, the type total), operand
    // associations mirrored exactly; same positional-unnest trigram
    // stream and e4 floor as q_x14.
    "q_x14b_kn_trigram_ppl" ->
      """WITH arr AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
        |  FROM documents),
        |tg AS (
        |  SELECT doc_id, a[i] AS w1, a[i + 1] AS w2, a[i + 2] AS w3
        |  FROM arr, LATERAL (SELECT unnest(range(1, len(a) - 1)) AS i) u),
        |ctg AS (SELECT w1, w2, w3, count(*) AS c123 FROM tg
        |        GROUP BY 1, 2, 3),
        |cx AS (SELECT w1, w2, sum(c123) AS c12, count(*) AS n1f12
        |       FROM ctg GROUP BY 1, 2),
        |mid AS (SELECT w2, w3, count(*) AS n1b23 FROM ctg GROUP BY 1, 2),
        |mcx AS (SELECT w2, sum(n1b23) AS m2, count(*) AS d2 FROM mid
        |        GROUP BY 1),
        |low AS (SELECT w3, count(*) AS n1b3 FROM mid GROUP BY 1),
        |tt AS (SELECT count(*) AS tt FROM mid),
        |dtf AS (SELECT doc_id, w1, w2, w3, count(*) AS ttf FROM tg
        |        GROUP BY 1, 2, 3, 4),
        |per AS (
        |  SELECT d.doc_id, CAST(sum(d.ttf) AS BIGINT) AS n_trigrams,
        |    sum(d.ttf * ln(
        |      greatest(ctg.c123 - CAST(0.75 AS DOUBLE),
        |          CAST(0 AS DOUBLE)) / CAST(cx.c12 AS DOUBLE)
        |      + CAST(0.75 AS DOUBLE) * cx.n1f12 / CAST(cx.c12 AS DOUBLE)
        |        * (greatest(mid.n1b23 - CAST(0.75 AS DOUBLE),
        |              CAST(0 AS DOUBLE)) / CAST(mcx.m2 AS DOUBLE)
        |          + CAST(0.75 AS DOUBLE) * mcx.d2
        |            / CAST(mcx.m2 AS DOUBLE)
        |            * (low.n1b3 / CAST(tt.tt AS DOUBLE))))) AS lp
        |  FROM dtf d JOIN ctg USING (w1, w2, w3) JOIN cx USING (w1, w2)
        |    JOIN mid USING (w2, w3) JOIN mcx USING (w2)
        |    JOIN low USING (w3), tt
        |  GROUP BY d.doc_id)
        |SELECT doc_id, n_trigrams,
        |  CAST(floor(lp / n_trigrams * 1e4 + CAST(0.5 AS DOUBLE))
        |    AS BIGINT) AS log_prob_e4,
        |  CAST(floor(exp(-(lp / n_trigrams)) * 1e4 + CAST(0.5 AS DOUBLE))
        |    AS BIGINT) AS ppl_e4
        |FROM per ORDER BY doc_id""".stripMargin,

    // Modified-KN rebuild: x14b's join graph plus the two
    // count-of-counts CTEs and their discount rows; every CASE /
    // quotient association mirrors the engine column expressions
    // exactly (Y inlined per discount — identical doubles either way).
    "q_x14c_mkn_trigram_ppl" -> mknOracle(mknCorpusSql),

    // Maintained-store modified-KN: the adds-only maintenance makes
    // the effective corpus exactly the one-shot row's full
    // count-diverse corpus, so the oracle is the same chain — any
    // drift in the maintained counts' count-of-counts, discounts, or
    // γ weights hash-mismatches.
    "q_x14e_lm_maintained_mkn" -> mknOracle(mknCorpusSql),

    // Maintained-LM rebuild: q_x14b's exact chain over the POST-CHANGE
    // live corpus (takedowns %5==0 out unless re-added; %7==3 new
    // adds; %11==0 live re-adds with identical text) — a green row
    // certifies the maintained count store serves bit-identically to
    // a from-scratch build.
    "q_x14d_lm_maintenance" ->
      """WITH live AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id % 5 <> 0 OR doc_id % 7 = 3 OR doc_id % 11 = 0),
        |arr AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
        |  FROM live),
        |tg AS (
        |  SELECT doc_id, a[i] AS w1, a[i + 1] AS w2, a[i + 2] AS w3
        |  FROM arr, LATERAL (SELECT unnest(range(1, len(a) - 1)) AS i) u),
        |ctg AS (SELECT w1, w2, w3, count(*) AS c123 FROM tg
        |        GROUP BY 1, 2, 3),
        |cx AS (SELECT w1, w2, sum(c123) AS c12, count(*) AS n1f12
        |       FROM ctg GROUP BY 1, 2),
        |mid AS (SELECT w2, w3, count(*) AS n1b23 FROM ctg GROUP BY 1, 2),
        |mcx AS (SELECT w2, sum(n1b23) AS m2, count(*) AS d2 FROM mid
        |        GROUP BY 1),
        |low AS (SELECT w3, count(*) AS n1b3 FROM mid GROUP BY 1),
        |tt AS (SELECT count(*) AS tt FROM mid),
        |dtf AS (SELECT doc_id, w1, w2, w3, count(*) AS ttf FROM tg
        |        GROUP BY 1, 2, 3, 4),
        |per AS (
        |  SELECT d.doc_id, CAST(sum(d.ttf) AS BIGINT) AS n_trigrams,
        |    sum(d.ttf * ln(
        |      greatest(ctg.c123 - CAST(0.75 AS DOUBLE),
        |          CAST(0 AS DOUBLE)) / CAST(cx.c12 AS DOUBLE)
        |      + CAST(0.75 AS DOUBLE) * cx.n1f12 / CAST(cx.c12 AS DOUBLE)
        |        * (greatest(mid.n1b23 - CAST(0.75 AS DOUBLE),
        |              CAST(0 AS DOUBLE)) / CAST(mcx.m2 AS DOUBLE)
        |          + CAST(0.75 AS DOUBLE) * mcx.d2
        |            / CAST(mcx.m2 AS DOUBLE)
        |            * (low.n1b3 / CAST(tt.tt AS DOUBLE))))) AS lp
        |  FROM dtf d JOIN ctg USING (w1, w2, w3) JOIN cx USING (w1, w2)
        |    JOIN mid USING (w2, w3) JOIN mcx USING (w2)
        |    JOIN low USING (w3), tt
        |  GROUP BY d.doc_id)
        |SELECT doc_id, n_trigrams,
        |  CAST(floor(lp / n_trigrams * 1e4 + CAST(0.5 AS DOUBLE))
        |    AS BIGINT) AS log_prob_e4,
        |  CAST(floor(exp(-(lp / n_trigrams)) * 1e4 + CAST(0.5 AS DOUBLE))
        |    AS BIGINT) AS ppl_e4
        |FROM per ORDER BY doc_id""".stripMargin,

    // Whitespace tokenization on both sides; idf = ln((N+1)/(df+1)) + 1
    // (smoothed); ROUND(_, 6) absorbs libm ulps between JVM and DuckDB ln.
    "q_x9_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
        |       GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
        |  ROUND(tf.tf * (ln((n.n + 1) / (dfreq.df + 1)) + 1), 6) AS tfidf
        |FROM tf JOIN dfreq USING (token), n
        |WHERE tf.doc_id < 20
        |ORDER BY tf.doc_id, tf.token""".stripMargin,

    // Hashing-trick vectors rebuilt entry by entry: md5-48 bucket
    // (h % 64) and sign bit ((h >> 20) & 1), e6-integerized tf-idf
    // weights summed as BIGINTs, zero-filled over the full 64-position
    // grid per document.
    "q_x9e_hashed_vectors" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
        |       WHERE token <> '' GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n FROM documents),
        |w AS (
        |  SELECT tf.doc_id,
        |    CAST(concat('0x',
        |      substr(md5(concat(42, ':', tf.token)), 1, 12)) AS BIGINT)
        |      AS h,
        |    CAST(floor(tf.tf * (ln((n.n + 1) / (dfreq.df + 1)) + 1)
        |      * 1e6 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS we6
        |  FROM tf JOIN dfreq USING (token), n),
        |b AS (
        |  SELECT doc_id, h % 64 AS j,
        |    sum(CASE WHEN (h >> 20) & 1 = 1 THEN -we6 ELSE we6 END)
        |      AS v_e6
        |  FROM w GROUP BY doc_id, h % 64),
        |grid AS (
        |  SELECT d.doc_id, g.j
        |  FROM (SELECT DISTINCT doc_id FROM documents) d,
        |    (SELECT unnest(range(0, 64)) AS j) g)
        |SELECT grid.doc_id, CAST(grid.j AS BIGINT) AS j,
        |  CAST(coalesce(b.v_e6, 0) AS BIGINT) AS v_e6
        |FROM grid LEFT JOIN b ON b.doc_id = grid.doc_id AND b.j = grid.j
        |ORDER BY grid.doc_id, grid.j""".stripMargin,

    // Every decimal literal is CAST AS DOUBLE (bare decimals are DECIMAL
    // in DuckDB → different evaluation order than Spark's IEEE doubles)
    // and the compared score is integerized — see the query comment.
    // Maintained-index rebuild: q_x9b's chain over the POST-CHANGE
    // live corpus (takedowns %5==0 out, unless re-added: %7==3 new
    // adds, %11==0 live re-adds with identical text — adds win) —
    // maintenance must equal the full rebuild bit-for-bit, so the
    // oracle IS the full rebuild.
    "q_x9f_lex_maintenance" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id % 5 <> 0 OR doc_id % 7 = 3 OR doc_id % 11 = 0),
        |tok AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM d),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
        |       GROUP BY doc_id, token),
        |lens AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS doc_len
        |         FROM tf GROUP BY doc_id),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n FROM d),
        |al AS (SELECT avg(doc_len) AS avg_len FROM lens)
        |SELECT tf.doc_id, tf.token, tf.tf, dfreq.df, lens.doc_len,
        |  CAST(floor(ln(1 + (n.n - dfreq.df + CAST(0.5 AS DOUBLE))
        |        / (dfreq.df + CAST(0.5 AS DOUBLE)))
        |    * (tf.tf * CAST(2.2 AS DOUBLE))
        |    / (tf.tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
        |        + CAST(0.75 AS DOUBLE) * lens.doc_len / al.avg_len))
        |    * 1e4 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS bm25_e4
        |FROM tf JOIN dfreq USING (token) JOIN lens USING (doc_id), n, al
        |WHERE tf.doc_id < 20
        |ORDER BY tf.doc_id, tf.token""".stripMargin,

    // The CDC-composition rebuild: q_x9b's chain over the corpus the
    // two folded batches leave live — (%5≠0 ∨ %11==0) ∧ %13≠0. Two
    // sequential maintenance calls must compose to the same index a
    // one-shot build over the effective corpus produces, bit-for-bit.
    "q_x9i_lex_cdc" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE (doc_id % 5 <> 0 OR doc_id % 11 = 0)
        |    AND doc_id % 13 <> 0),
        |tok AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM d),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
        |       GROUP BY doc_id, token),
        |lens AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS doc_len
        |         FROM tf GROUP BY doc_id),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n FROM d),
        |al AS (SELECT avg(doc_len) AS avg_len FROM lens)
        |SELECT tf.doc_id, tf.token, tf.tf, dfreq.df, lens.doc_len,
        |  CAST(floor(ln(1 + (n.n - dfreq.df + CAST(0.5 AS DOUBLE))
        |        / (dfreq.df + CAST(0.5 AS DOUBLE)))
        |    * (tf.tf * CAST(2.2 AS DOUBLE))
        |    / (tf.tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
        |        + CAST(0.75 AS DOUBLE) * lens.doc_len / al.avg_len))
        |    * 1e4 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS bm25_e4
        |FROM tf JOIN dfreq USING (token) JOIN lens USING (doc_id), n, al
        |WHERE tf.doc_id < 20
        |ORDER BY tf.doc_id, tf.token""".stripMargin,

    "q_x9b_bm25" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
        |       GROUP BY doc_id, token),
        |lens AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS doc_len
        |         FROM tf GROUP BY doc_id),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n FROM documents),
        |al AS (SELECT avg(doc_len) AS avg_len FROM lens)
        |SELECT tf.doc_id, tf.token, tf.tf, dfreq.df, lens.doc_len,
        |  CAST(floor(ln(1 + (n.n - dfreq.df + CAST(0.5 AS DOUBLE))
        |        / (dfreq.df + CAST(0.5 AS DOUBLE)))
        |    * (tf.tf * CAST(2.2 AS DOUBLE))
        |    / (tf.tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
        |        + CAST(0.75 AS DOUBLE) * lens.doc_len / al.avg_len))
        |    * 1e4 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS bm25_e4
        |FROM tf JOIN dfreq USING (token) JOIN lens USING (doc_id), n, al
        |WHERE tf.doc_id < 20
        |ORDER BY tf.doc_id, tf.token""".stripMargin,

    // c-TF-IDF rebuild: hash-ranked centroid pick (LIMIT 8) → cosine
    // cell assignment (same tie-break as the Spark max-struct) → the
    // exact ln operand shape of Relevance.clusterTopics, integerized;
    // top-5 per cluster by (score_e DESC, term).
    "q_x12_cluster_topics" ->
      """WITH cent AS (
        |  SELECT vec_id AS centroid_id, embedding AS cv FROM (
        |    SELECT vec_id, embedding FROM embeddings
        |    ORDER BY (vec_id * 2654435761) % 4294967296, vec_id
        |    LIMIT 8)),
        |asn0 AS (
        |  SELECT e.vec_id, ct.centroid_id,
        |    (SELECT sum(CAST(x AS DOUBLE)*CAST(y AS DOUBLE))
        |       FROM (SELECT unnest(e.embedding) x, unnest(ct.cv) y)) /
        |    (sqrt((SELECT sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE))
        |       FROM (SELECT unnest(e.embedding) x))) *
        |     sqrt((SELECT sum(CAST(y AS DOUBLE)*CAST(y AS DOUBLE))
        |       FROM (SELECT unnest(ct.cv) y)))) AS csim
        |  FROM embeddings e CROSS JOIN cent ct),
        |asn AS MATERIALIZED (
        |  SELECT vec_id AS doc_id, centroid_id AS cluster_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY csim DESC, centroid_id) rn FROM asn0)
        |  WHERE rn = 1),
        |tok AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents),
        |tfc AS MATERIALIZED (
        |  SELECT a.cluster_id, t.term, count(*) AS tf
        |  FROM tok t JOIN asn a USING (doc_id)
        |  GROUP BY a.cluster_id, t.term),
        |ft AS (SELECT term, CAST(sum(tf) AS BIGINT) AS f
        |       FROM tfc GROUP BY term),
        |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS tot,
        |               count(DISTINCT cluster_id) AS nc FROM tfc),
        |scored AS (
        |  SELECT c.cluster_id, c.term, c.tf,
        |    CAST(floor(c.tf * ln(CAST(1 AS DOUBLE) +
        |        (CAST(t.tot AS DOUBLE) / t.nc) / f.f)
        |      * 1e4 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS score_e
        |  FROM tfc c JOIN ft f USING (term) CROSS JOIN tot t)
        |SELECT cluster_id, rnk, term, tf, score_e FROM (
        |  SELECT *, row_number() OVER (PARTITION BY cluster_id
        |    ORDER BY score_e DESC, term) AS rnk FROM scored)
        |WHERE rnk <= 5
        |ORDER BY cluster_id, rnk""".stripMargin,

    // Top-terms rebuild: q_x9_tfidf's score chain e6-integerized, then
    // the same (score_e6 DESC, token) row_number cut.
    "q_x9d_keywords" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
        |       GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n FROM documents),
        |sc AS (
        |  SELECT tf.doc_id, tf.token, tf.tf,
        |    CAST(floor(tf.tf * (ln((n.n + 1) / (dfreq.df + 1)) + 1) * 1e6
        |      + CAST(0.5 AS DOUBLE)) AS BIGINT) AS score_e6
        |  FROM tf JOIN dfreq USING (token), n),
        |r AS (
        |  SELECT doc_id, token, tf, score_e6,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score_e6 DESC, token) AS rank
        |  FROM sc)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, token, tf, score_e6
        |FROM r
        |WHERE rank <= 3 AND doc_id < 40
        |ORDER BY doc_id, rank""".stripMargin,

    // Marker-profile language ID: per-language presence counts over the
    // padded lowered text; argmax-with-max-lang-tie-break reproduced as
    // greatest() over 'digit:lang' strings (scores are 0..5, single
    // digit → lexicographic ≡ (score, lang) struct order).
    "q_x4o_langid" ->
      s"""WITH $langGuessCtes
        |SELECT doc_id, lang_guess FROM lg
        |ORDER BY doc_id""".stripMargin,

    // The composite lang/quality report: lang ID (q_x4o's rebuild) plus
    // the kernel's profile counters in SQL — quality is a sum of exact
    // 0.25 bands, stop_ratio a small-rational ROUND, n_bpeish = alnum
    // runs + non-alnum non-ws chars.
    "q_x4b_lang_quality" ->
      s"""WITH $langGuessCtes,
        |prof AS (
        |  SELECT doc_id,
        |    length(text) AS n_chars,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
        |      AS n_toks,
        |    length(regexp_replace(text, '\\s', '', 'g')) AS n_nonws,
        |    length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g'))
        |      AS n_punct,
        |    len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
        |      x -> lower(x) IN ('the','a','an','and','or','of','to','in',
        |        'is','are','was','it','that','this','for','on','with','as',
        |        'be','by','at'))) AS n_stop,
        |    len(regexp_extract_all(text, '[A-Za-z0-9]+'))
        |      + length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
        |      AS n_bpeish
        |  FROM documents)
        |SELECT p.doc_id, lg.lang_guess,
        |  CAST(ROUND(
        |    CASE WHEN p.n_chars BETWEEN 50 AND 20000 THEN 0.25 ELSE 0 END
        |    + CASE WHEN p.n_toks > 0
        |        AND (p.n_nonws * 1.0 / p.n_toks) BETWEEN 2.0 AND 12.0
        |      THEN 0.25 ELSE 0 END
        |    + CASE WHEN p.n_toks > 0
        |        AND p.n_stop * 1.0 / p.n_toks > 0.01
        |      THEN 0.25 ELSE 0 END
        |    + CASE WHEN (CASE WHEN p.n_chars = 0 THEN 0.0
        |        ELSE p.n_punct * 1.0 / p.n_chars END) < 0.2
        |      THEN 0.25 ELSE 0 END, 4) AS DOUBLE) AS quality,
        |  ROUND(CASE WHEN p.n_toks = 0 THEN 0.0
        |    ELSE p.n_stop * 1.0 / p.n_toks END, 6) AS stop_ratio,
        |  CAST(p.n_bpeish AS BIGINT) AS n_bpeish
        |FROM prof p JOIN lg ON lg.doc_id = p.doc_id
        |ORDER BY p.doc_id""".stripMargin,

    // PMI rebuilt positionally: adjacent-token pairs via
    // generate_subscripts; association order mirrors the Spark query:
    // (c_ab·t·t) / ((bt·c_a)·c_b), both engines left-assoc.
    "q_x4n_pmi" ->
      """WITH tok AS (
        |  SELECT doc_id, u.tk, u.pos
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
        |        FROM documents),
        |       LATERAL (SELECT unnest(arr) AS tk,
        |                generate_subscripts(arr, 1) AS pos) u),
        |uc AS (SELECT tk AS w, count(*) AS c FROM tok GROUP BY tk),
        |tt AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM tok),
        |bg AS (
        |  SELECT a.tk AS w1, b.tk AS w2
        |  FROM tok a JOIN tok b
        |    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
        |bc AS (SELECT w1, w2, count(*) AS c_ab FROM bg GROUP BY w1, w2),
        |bt AS (SELECT CAST(sum(c_ab) AS DOUBLE) AS b FROM bc)
        |SELECT bc.w1, bc.w2, bc.c_ab, u1.c AS c_a, u2.c AS c_b,
        |  CAST(floor(ln((CAST(bc.c_ab AS DOUBLE) * tt.t * tt.t)
        |      / (bt.b * u1.c * u2.c)) * 1e4
        |    + CAST(0.5 AS DOUBLE)) AS BIGINT) AS pmi_e4
        |FROM bc
        |JOIN uc u1 ON u1.w = bc.w1
        |JOIN uc u2 ON u2.w = bc.w2, tt, bt
        |WHERE bc.c_ab >= 25
        |ORDER BY bc.w1, bc.w2""".stripMargin,
  )
}
