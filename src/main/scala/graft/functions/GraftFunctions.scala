package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Column-level function surface of the engine. Custom Catalyst expressions
  * are registered per-session and invoked through the function registry
  * (`call_function`), which keeps us on the public Column API. */
object GraftFunctions {

  /** Register the engine's native expressions with a session. Idempotent
    * (createOrReplaceTempFunction overwrites in place). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "ascii_fold", exprs => AsciiFold(exprs.head), "built-in")
    reg.createOrReplaceTempFunction(
      "fingerprint64", exprs => Fingerprint64(exprs.head), "built-in")
    reg.createOrReplaceTempFunction(
      "simhash64", exprs => SimHash64(exprs.head), "built-in")
  }

  /** F1: NFKD → ASCII fold (see [[AsciiFold]]). Session must be
    * [[register]]ed. */
  def ascii_fold(c: Column): Column = call_function("ascii_fold", c)

  /** Deterministic fixed-k per-group id sample (bottom-k by seeded hash;
    * see [[SampleK]]) — same members every run on any cluster, O(k) state
    * per group. */
  def sample_k(c: Column, k: Int, seed: Long = 42L,
      portable: Boolean = false): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(
      SampleK(ColumnShim.expression(c), k, seed, portable)
        .toAggregateExpression())
  }

  /** Rolling-hash 64-bit document fingerprint. */
  def fingerprint64(c: Column): Column = call_function("fingerprint64", c)

  /** Per-group LONG-key Bloom sketch (binary; see [[BloomLongAgg]]) —
    * the layout manifest's point-lookup membership column. */
  def bloom_long(c: Column, numBits: Int = 1 << 13,
      numHashes: Int = 5): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(
      BloomLongAgg(ColumnShim.expression(c), numBits, numHashes)
        .toAggregateExpression())
  }

  /** Probe a [[bloom_long]] sketch: false ⇒ key certainly absent. */
  def bloom_might_contain(bloom: Column, v: Column,
      numHashes: Int = 5): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(BloomMightContainLong(
      ColumnShim.expression(bloom), ColumnShim.expression(v), numHashes))
  }

  /** Heavy hitters with bounded state (Misra–Gries; see [[TopKFreq]]):
    * top `k` items as `array<struct(item, min_count)>`. Counts are lower
    * bounds, off by at most n/(capacity+1); exact when `capacity` covers
    * the distinct-item count. */
  def topk_freq(c: Column, k: Int, capacity: Int = 4096): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(
      TopKFreq(ColumnShim.expression(c), capacity, k).toAggregateExpression())
  }

  /** Count-Min sketch build (see [[CmsSketch]]): `depth`×`width` counter
    * matrix as `array<array<bigint>>`, mergeable, O(depth·width) state
    * per group. Probe with [[CmsSketch.estimateCol]] (column, codegen)
    * or [[CmsSketch.estimate]] (JVM). */
  def cms_sketch(c: Column, depth: Int = 4, width: Int = 1024,
      seed: Long = 42L, portable: Boolean = false): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(
      CmsSketch(ColumnShim.expression(c), depth, width, seed, portable)
        .toAggregateExpression())
  }

  // ---- text analysis over the fused one-pass TextProfile expression ----
  // Every counter below projects a field off TextProfile(c); identical
  // trees collapse to ONE kernel evaluation per row under whole-stage
  // codegen subexpression elimination (vs ~6 regex scans previously —
  // measured ~3× on the lang/quality query at sf0.1).

  private def profile(c: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(TextProfile(ColumnShim.expression(c)))
  }

  /** Whitespace token count. Matches `regexp_split_to_array`-based SQL:
    * leading/trailing whitespace creates no tokens; empty/blank text
    * counts 0. */
  def token_count_ws(c: Column): Column = profile(c).getField("n_tokens")

  /** BPE-ish token estimate: word pieces (runs of letters/digits) +
    * punctuation marks — a deterministic stand-in for a real subword
    * tokenizer's piece count. */
  def token_count_bpe(c: Column): Column = profile(c).getField("n_bpeish")

  /** Punctuation character ratio ∈ [0,1] (0 for empty text). */
  def punct_ratio(c: Column): Column = {
    val p = profile(c)
    when(p.getField("n_chars") === 0, lit(0.0))
      .otherwise(p.getField("n_punct").cast("double") / p.getField("n_chars"))
  }

  /** Uppercase character ratio ∈ [0,1]. */
  def upper_ratio(c: Column): Column = {
    val p = profile(c)
    when(p.getField("n_chars") === 0, lit(0.0))
      .otherwise(p.getField("n_upper").cast("double") / p.getField("n_chars"))
  }

  /** English stopword ratio over whitespace tokens — one quality-scoring
    * signal (boilerplate/navigation text scores low, prose scores higher). */
  val EnglishStopwords: Seq[String] = TextKernels.EnglishStopwords

  def stopword_ratio(c: Column): Column = {
    val p = profile(c)
    when(p.getField("n_tokens") === 0, lit(0.0))
      .otherwise(p.getField("n_stop").cast("double") / p.getField("n_tokens"))
  }

  /** Heuristic document quality score ∈ [0,1]: combines length band,
    * mean-word-length band, stopword presence and low punctuation noise —
    * the shape of C4/Gopher-style quality filters, deterministic, one
    * kernel pass. */
  def quality_score(c: Column): Column = {
    val p = profile(c)
    val nChars = p.getField("n_chars")
    val nToks = p.getField("n_tokens")
    val meanWord = when(nToks === 0, lit(0.0))
      .otherwise(p.getField("n_nonws").cast("double") / nToks)
    val lenOk = when(nChars.between(50, 20000), lit(0.25)).otherwise(lit(0.0))
    val wordOk = when(meanWord.between(2.0, 12.0), lit(0.25)).otherwise(lit(0.0))
    val stopOk = when(stopword_ratio(c) > 0.01, lit(0.25)).otherwise(lit(0.0))
    val punctOk = when(punct_ratio(c) < 0.2, lit(0.25)).otherwise(lit(0.0))
    lenOk + wordOk + stopOk + punctOk
  }

  /** Gopher-style hard quality RULES (Rae et al. 2021 §A1.1 shape, the
    * deterministic subset computable from one [[TextKernels.textProfile]]
    * pass): token count in `[minWords, maxWords]`, mean word length in
    * [3, 10], at least 2 stopword hits, punctuation-to-word ratio < 0.5.
    * Returns a struct of the four per-rule booleans plus `pass` (their
    * conjunction) so pipelines can log WHY a doc was dropped, not just
    * that it was. One kernel scan, fully codegen — safe in a 100 TB
    * full-corpus filter. */
  def gopher_rules(c: Column, minWords: Int = 50,
      maxWords: Int = 100000): Column = {
    val p = profile(c)
    val nToks = p.getField("n_tokens")
    val meanWord = when(nToks === 0, lit(0.0))
      .otherwise(p.getField("n_nonws").cast("double") / nToks)
    val wordsOk = nToks.between(minWords, maxWords)
    val meanOk = meanWord.between(3.0, 10.0)
    val stopOk = p.getField("n_stop") >= 2
    val symbolOk = when(nToks === 0, lit(false))
      .otherwise(p.getField("n_punct").cast("double") / nToks < 0.5)
    struct(wordsOk.as("words_ok"), meanOk.as("mean_word_ok"),
      stopOk.as("stopwords_ok"), symbolOk.as("symbol_ok"),
      (wordsOk && meanOk && stopOk && symbolOk).as("pass"))
  }

  /** PII redaction for web-scale text cleaning: emails and IPv4 literals
    * are replaced with stable placeholders. Patterns are kept inside the
    * RE2-compatible subset (no lookarounds/backrefs) so the same strings
    * behave identically across regex engines — redaction must be
    * reproducible wherever the pipeline reruns. Chain of codegen'd
    * `regexp_replace` — no UDF. */
  def redact_pii(c: Column): Column = {
    val email = regexp_replace(c,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]")
    regexp_replace(email,
      "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "[IP]")
  }

  /** Flesch readability over engine-portable counts: words are
    * alphabetic runs, sentences are `[.!?]+` runs (min 1), "syllables"
    * the standard vowel-group proxy (`[aeiouy]+` runs, lowercased) —
    * the classic curation signal for "is this prose a human could read
    * or tag soup / legalese?" (CCNet buckets by an LM; this is the
    * model-free sibling). All three counts are exact integers from
    * codegen'd `regexp_extract_all`, kept RE2-compatible (plain classes,
    * no lookarounds) so any engine re-auditing the corpus reproduces
    * them; the two scores are a handful of double ops on top.
    *
    * @return struct (`n_words`, `n_sentences`, `n_syllables`, `flesch`,
    *         `fk_grade`); scores are null for wordless text. Flesch
    *         reading ease ≈ 90+ grade-school, < 30 academic;
    *         Flesch–Kincaid grade is the US school-grade form. */
  def reading_ease(c: Column): Column = {
    val words = size(regexp_extract_all(c, lit("[A-Za-z]+"), lit(0)))
    val sents = greatest(
      size(regexp_extract_all(c, lit("[.!?]+"), lit(0))), lit(1))
    val sylls = size(regexp_extract_all(lower(c), lit("[aeiouy]+"), lit(0)))
    val ws = words.cast("double") / sents.cast("double")
    val yw = sylls.cast("double") / words.cast("double")
    val flesch = lit(206.835) - lit(1.015) * ws - lit(84.6) * yw
    val grade = lit(0.39) * ws + lit(11.8) * yw - lit(15.59)
    struct(words.cast("long").as("n_words"),
      sents.cast("long").as("n_sentences"),
      sylls.cast("long").as("n_syllables"),
      when(words === 0, lit(null).cast("double")).otherwise(flesch)
        .as("flesch"),
      when(words === 0, lit(null).cast("double")).otherwise(grade)
        .as("fk_grade"))
  }

  /** Within-document token repetition ∈ [0,1]: 1 − |distinct tokens| /
    * |tokens| (0 for empty text) — the Gopher-style boilerplate signal
    * (navigation bars and spam repeat; prose doesn't). */
  def repetition_ratio(c: Column): Column = {
    val toks = split(trim(c), "\\s+")
    when(length(trim(c)) === 0, lit(0.0))
      .otherwise(lit(1.0) -
        size(array_distinct(toks)).cast("double") / size(toks))
  }

  /** Character-n-gram language ID over a small built-in profile table —
    * the classic "most frequent character n-grams" heuristic. Scores each
    * language by marker-hit density; `und` if nothing matches. Built from
    * `locate` calls only → fully codegen'd, no UDF. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of ", "ing ", " to "),
    "de" -> Seq(" der ", " und ", " die ", "sch", " ist "),
    "fr" -> Seq(" le ", " la ", " et ", " les ", " des "),
    "es" -> Seq(" el ", " de ", " que ", " los ", " y "),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** C4-style banned-word filter: the number of word-boundary matches of
    * any blocklist term in the lowercased text (phrases allowed). Terms
    * are restricted to `[a-z0-9' -]` so the generated alternation is a
    * PLAIN regex — no metacharacters, no lookarounds — and therefore
    * parses identically under Java regex (Spark) and RE2 (DuckDB, Go
    * tooling): a curation decision must be reproducible by whatever
    * engine audits it later. One narrow codegen'd pass; no shuffle. */
  def blocklist_hits(c: Column, terms: Seq[String]): Column = {
    require(terms.nonEmpty, "blocklist needs at least one term")
    terms.foreach { t =>
      require(t.matches("[a-z0-9' -]+"),
        s"blocklist term '$t' must be lowercase [a-z0-9' -] only " +
          "(keeps the pattern engine-portable)")
    }
    val pat = "\\b(" + terms.mkString("|") + ")\\b"
    size(regexp_extract_all(lower(c), lit(pat), lit(1)))
  }

  /** True when the text has NO blocklist hits — the filter predicate. */
  def blocklist_ok(c: Column, terms: Seq[String]): Column =
    blocklist_hits(c, terms) === 0

  def lang_id(c: Column): Column = {
    val padded = concat(lit(" "), lower(c), lit(" "))
    val scores = LangMarkers.map { case (lang, markers) =>
      val s = markers.map(m =>
        when(locate(m, padded) > 0, lit(1)).otherwise(lit(0)))
        .reduce[Column](_ + _)
      struct(s.as("score"), lit(lang).as("lang"))
    }
    val best = greatest(scores: _*)
    when(best.getField("score") === 0, lit("und"))
      .otherwise(best.getField("lang"))
  }
}
