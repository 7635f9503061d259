package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-statistics relevance weighting — TF-IDF and BM25 over the
  * `documents` table, the scoring layer a training-data pipeline uses for
  * quality-weighted sampling and lexical retrieval (the sparse
  * counterpart of [[Similarity]]'s dense ANN search).
  *
  * Tokenization matches the rest of the text tier: whitespace split of
  * the trimmed text (`split(trim(text), "\\s+")`), so scores compose with
  * [[graft.functions.GraftFunctions]] token counts.
  *
  * Scale notes (100 TB): everything is two hash aggregations and one
  * equi-join on `token` — no window over the full posting list, no
  * driver-side vocabulary. `(doc, token)` term frequencies partial-agg
  * map-side before shuffling (the raw token stream never crosses the
  * wire); document frequency aggregates the ALREADY-distinct `(doc,
  * token)` pairs, so a hot token contributes one row per doc, not one per
  * occurrence. The corpus size joins in as a 1-row broadcast. Skewed
  * tokens ("the") are a groupBy key — AQE splits them if a reducer runs
  * hot.
  */
object Relevance {

  /** Per-(doc, token) weights: `tf` (raw in-doc count), `df` (number of
    * docs containing the token), smoothed `idf = ln((N+1)/(df+1)) + 1`
    * (never negative, never /0 — the sklearn smoothing), and
    * `tfidf = tf · idf`. */
  def tfidf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc_id"),
        explode(split(trim(col(textCol)), "\\s+")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("_n"))
    tf.join(dfreq, Seq("token"))
      .crossJoin(broadcast(n)) // 1 row: corpus size
      .withColumn("idf", log((col("_n") + 1).cast("double") /
        (col("df") + 1)) + 1)
      .withColumn("tfidf", col("tf") * col("idf"))
      .drop("_n")
  }

  /** Per-document top-`k` keywords by TF-IDF — the one-line "what is
    * this document about" summary used for corpus browsing, topic
    * sanity checks, and keyword-conditioned sampling (the per-DOC
    * analogue of [[clusterTopics]]' per-cluster labels).
    *
    * Deterministic ordering: scores are e6-integerized BEFORE ranking
    * (`floor(tfidf·1e6 + 0.5)`) with the token string as tie-break, so
    * the cut is identical across engines and partitionings — a raw-
    * double `ORDER BY` would let an ulp pick different keywords.
    *
    * Scale notes (100 TB): one extra window on `(doc)` over the
    * [[tfidf]] output — same partitioning as the `(doc, token)` tf
    * aggregation, per-partition state is one doc's vocabulary.
    *
    * @return (`doc_id`, `rank` 1..k, `token`, `tf`, `score_e6`). */
  def topTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_e6").desc, col("token"))
    tfidf(docs, idCol, textCol)
      .withColumn("score_e6",
        floor(col("tfidf") * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"),
        col("score_e6"))
  }

  /** Feature-hashed TF-IDF document vectors — the hashing trick
    * (Weinberger et al. 2009, "Feature Hashing for Large Scale
    * Multitask Learning"): every token's smoothed tf-idf weight lands
    * in bucket `hash(token) % dim` with a sign drawn from another hash
    * bit (signed hashing keeps collisions unbiased in expectation), so
    * the corpus embeds into a FIXED `dim` with no vocabulary table, no
    * trained model, and no second pass — the text-only on-ramp to the
    * whole vector tier ([[graft.operators.Similarity]] search,
    * [[graft.operators.Dedup.semanticDedup]], ANN indexing) when no
    * embedding model is in the loop.
    *
    * Determinism discipline: weights are e6-integerized
    * (`floor(tfidf·1e6 + 0.5)`, the [[topTerms]] convention) BEFORE
    * the per-bucket sum, so accumulation is exact long arithmetic —
    * partition- and engine-order-free — and only then divided back to
    * double. The bucket/sign hash is the portable md5-48
    * ([[graft.functions.PortableHash]]), so the whole vector is
    * rebuildable in ANSI SQL (the `q_x9e` oracle does).
    *
    * Scale notes (100 TB): [[tfidf]]'s two hash aggregations + 1-row
    * broadcast are the only corpus-sized work; hashing is a narrow map
    * on `(doc, token)` rows; vector assembly groups ≤ `dim` bucket
    * rows per doc into one `dim`-float array (the higher-order
    * builders run once per DOC, not per token, so CodegenFallback
    * there is off the hot path). Docs with no tokens (empty/NULL
    * text) still emit their all-zero row — downstream joins must not
    * lose them.
    *
    * @return (`doc_id`, `vector` array<double> of length `dim`;
    *         L2-normalized when `normalize`, zero vectors left as-is) */
  def hashedVectors(docs: DataFrame, idCol: String, textCol: String,
      dim: Int = 64, seed: Long = 42L,
      normalize: Boolean = true): DataFrame = {
    require(dim >= 1, "dim must be >= 1")
    val h = graft.functions.PortableHash.hash48(col("token"), seed)
    val w = tfidf(docs, idCol, textCol)
      .filter(col("token") =!= "")
      .select(col("doc_id"), pmod(h, lit(dim.toLong)).as("_j"),
        (when(shiftright(h, 20).bitwiseAND(lit(1L)) === 1L, lit(-1L))
          .otherwise(lit(1L)) *
          floor(col("tfidf") * lit(1e6) + lit(0.5)).cast("long"))
          .as("_we6"))
    val sums = w.groupBy(col("doc_id"), col("_j"))
      .agg(sum("_we6").as("_v"))
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("_j"), col("_v"))))
        .as("_m"))
      .select(col("doc_id"),
        transform(sequence(lit(0L), lit(dim - 1L)), j =>
          coalesce(element_at(col("_m"), j), lit(0L)).cast("double")
            / 1e6).as("vector"))
    val all = docs.select(col(idCol).as("doc_id"))
      .join(sums, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("vector"), array_repeat(lit(0.0), lit(dim)))
          .as("vector"))
    if (!normalize) all
    else {
      val norm = sqrt(aggregate(col("vector"), lit(0.0),
        (a, x) => a + x * x))
      all.withColumn("vector",
        when(norm > lit(0.0), transform(col("vector"), x => x / norm))
          .otherwise(col("vector")))
    }
  }

  /** Per-(doc, token) Okapi BM25 weight:
    * `idf_bm25 = ln(1 + (N − df + 0.5)/(df + 0.5))`, saturated term
    * frequency `tf·(k1+1)/(tf + k1·(1 − b + b·len/avgLen))` with the
    * conventional k1 = 1.2, b = 0.75. `len` is the doc's whitespace token
    * count — computed from the same tokenization as `tf`, in the same
    * aggregation (no second scan). */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25FromIndex(buildLexIndex(docs, idCol, textCol), k1, b)

  /** The lexical serving store — the four frames that BM25/TF-IDF
    * serving actually reads, materialized so corpus CHANGES maintain
    * them instead of re-tokenizing 100 TB:
    *
    *   - `docs` (`doc_id`): the indexed-document registry — carries
    *     docs whose text tokenized to nothing (they still count in N);
    *   - `postings` (`doc_id`, `token`, `tf`): the inverted file;
    *   - `lens` (`doc_id`, `doc_len`): per-doc token counts;
    *   - `dfreq` (`token`, `df`): document frequencies.
    *
    * N and avgdl are NOT stored: both derive from `docs`/`lens` by a
    * one-column aggregate at render time — integer-valued sums are
    * exact in double below 2⁵³, so the derived stats are bit-equal to
    * a fresh build's whatever maintenance history produced the frames
    * (storing them as running deltas would be equal too, but derived
    * scalars cannot drift out of sync with the frames they summarize).
    */
  final case class LexIndex(docs: DataFrame, postings: DataFrame,
      lens: DataFrame, dfreq: DataFrame)

  /** Tokenize `docs` once into a fresh [[LexIndex]] — the ground-truth
    * build that [[maintainLexIndex]] keeps current and
    * [[bm25FromIndex]]/[[tfidfFromIndex]] serve from. Same two hash
    * aggregations as [[tfidf]] (the postings partial-agg map-side; df
    * aggregates the already-distinct pairs). */
  def buildLexIndex(docs: DataFrame, idCol: String,
      textCol: String): LexIndex = {
    val tf = docs
      .select(col(idCol).as("doc_id"),
        explode(split(trim(col(textCol)), "\\s+")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    LexIndex(
      docs = docs.select(col(idCol).as("doc_id")),
      postings = tf,
      // doc length = sum of its term frequencies — derived from tf,
      // not a second pass over the text
      lens = tf.groupBy("doc_id").agg(sum("tf").as("doc_len")),
      dfreq = tf.groupBy("token").agg(count(lit(1)).as("df")))
  }

  /** EXACT maintenance of a [[LexIndex]] under document ADDS and
    * TAKEDOWNS — the lexical serving store's member of the maintenance
    * grid (ANN, SCC, communities, intervals, neighborAgg and dup
    * clusters already have one): removals apply first and adds win,
    * so an id present in both frames ends up live with its NEW
    * content, and re-adding a currently live id REPLACES it
    * (latest-wins, the [[graft.streaming.StreamingIngest]] CDC
    * contract). Removing an id the index never saw is a no-op.
    *
    * Exactness: the refreshed index is frame-for-frame EQUAL to
    * [[buildLexIndex]] over the post-change corpus — untouched docs'
    * postings/lens rows pass through verbatim (two anti-joins), the
    * removed docs' token counts are read from the INDEX (their text is
    * gone — the erasure path must not need it), and `dfreq` absorbs
    * the per-token doc-count deltas in exact long arithmetic (tokens
    * ending at df = 0 leave; new tokens enter). Rendered scores are
    * therefore bit-equal to a full rebuild's.
    *
    * Scale notes (100 TB): the changed-id set is change-batch-sized
    * and broadcast into the two anti-joins and the leaving-postings
    * semi-join — the posting store (the corpus-scale frame) is
    * scanned once, never re-shuffled on its own keys; added text
    * tokenizes delta-sized; the df merge is three vocabulary-sized
    * full joins. Nothing touches untouched rows.
    *
    * @param addedDocs  new/updated documents (`idCol`, `textCol`)
    * @param removedIds one column of taken-down doc ids */
  def maintainLexIndex(ix: LexIndex, addedDocs: DataFrame,
      removedIds: DataFrame, idCol: String,
      textCol: String): LexIndex = {
    val remIds = removedIds
      .select(col(removedIds.columns.head).as("doc_id")).distinct()
    val addIds = addedDocs.select(col(idCol).as("doc_id")).distinct()
    // every id whose OLD rows must leave: takedowns plus re-adds
    // (replace = remove old + append new)
    val gone = remIds.unionByName(addIds).distinct().localCheckpoint()
    val oldP = ix.postings
      .join(broadcast(gone), Seq("doc_id"), "left_semi")
    val dfDec = oldP.groupBy("token").agg(count(lit(1)).as("_dec"))
    val addTf = addedDocs
      .select(col(idCol).as("doc_id"),
        explode(split(trim(col(textCol)), "\\s+")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfInc = addTf.groupBy("token").agg(count(lit(1)).as("_inc"))
    val newDf = ix.dfreq
      .join(dfDec, Seq("token"), "full")
      .join(dfInc, Seq("token"), "full")
      .select(col("token"),
        (coalesce(col("df"), lit(0L)) - coalesce(col("_dec"), lit(0L)) +
          coalesce(col("_inc"), lit(0L))).as("df"))
      .filter(col("df") > 0L)
    LexIndex(
      docs = ix.docs.join(broadcast(gone), Seq("doc_id"), "left_anti")
        .select("doc_id").unionByName(addIds),
      postings = ix.postings
        .join(broadcast(gone), Seq("doc_id"), "left_anti")
        .select("doc_id", "token", "tf")
        .unionByName(addTf.select("doc_id", "token", "tf")),
      lens = ix.lens.join(broadcast(gone), Seq("doc_id"), "left_anti")
        .select("doc_id", "doc_len")
        .unionByName(addTf.groupBy("doc_id")
          .agg(sum("tf").as("doc_len"))),
      dfreq = newDf)
  }

  /** Commit a [[LexIndex]] as the next version of the store at `dir`
    * ([[FrameVersions]]: `docs/`, `postings/`, `lens/`, `dfreq/` under
    * `_v<n>/`, then one marker tagged `tag`) and return the version.
    * A crash mid-save leaves the previous version serving, and a
    * read-modify-write cycle needs no pin: the new frames never
    * replace the directories they were derived from. */
  def saveLexIndex(ix: LexIndex, dir: String, tag: String = "-"): Long =
    FrameVersions.commit(ix.docs.sparkSession, dir, Seq(
      "docs" -> ix.docs, "postings" -> ix.postings,
      "lens" -> ix.lens, "dfreq" -> ix.dfreq), tag)

  /** Load the latest committed [[LexIndex]] at `dir` — every frame
    * from the same version — or, with nothing committed, the frames a
    * former in-place save left at the root. */
  def loadLexIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): LexIndex = {
    val v = FrameVersions.latest(spark, dir)
    LexIndex(docs = v.read("docs"), postings = v.read("postings"),
      lens = v.read("lens"), dfreq = v.read("dfreq"))
  }

  /** Render per-(doc, token) BM25 from a [[LexIndex]] — the exact
    * expression chain of the one-shot [[bm25]] (which routes through
    * here), so scores served off a maintained index are bit-equal to
    * a fresh build's. N and avgdl derive from the registry/lens
    * frames as 1-row broadcast aggregates. */
  def bm25FromIndex(ix: LexIndex, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val stats = ix.docs.agg(count(lit(1)).as("_n"))
    val avgLen = ix.lens
      .agg(org.apache.spark.sql.functions.avg(col("doc_len"))
        .as("_avg_len"))
    ix.postings
      .join(ix.lens.withColumnRenamed("doc_len", "_len"), Seq("doc_id"))
      .join(ix.dfreq, Seq("token"))
      .crossJoin(broadcast(stats))
      .crossJoin(broadcast(avgLen))
      .withColumn("idf",
        log(lit(1.0) + (col("_n") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("bm25",
        col("idf") * (col("tf") * (k1 + 1)) /
          (col("tf") +
            lit(k1) * (lit(1 - b) + lit(b) * col("_len") / col("_avg_len"))))
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        col("_len").as("doc_len"), col("idf"), col("bm25"))
  }

  /** Render per-(doc, token) smoothed TF-IDF from a [[LexIndex]] —
    * [[tfidf]]'s exact expression chain over the stored frames (same
    * sklearn smoothing, same output shape), for serving off a
    * [[maintainLexIndex]]-maintained store. */
  def tfidfFromIndex(ix: LexIndex): DataFrame =
    ix.postings.join(ix.dfreq, Seq("token"))
      .crossJoin(broadcast(ix.docs.agg(count(lit(1)).as("_n"))))
      .withColumn("idf", log((col("_n") + 1).cast("double") /
        (col("df") + 1)) + 1)
      .withColumn("tfidf", col("tf") * col("idf"))
      .drop("_n")

  /** Per-document unigram language-model perplexity — the classic
    * LM-based quality filter (CCNet-style): train a unigram model on the
    * corpus itself (p(t) = count(t)/total tokens), score each document by
    * `ppl = exp(−Σ tf·ln p(t) / len)`. Boilerplate and natural text score
    * low; random or out-of-domain token soup scores high, so filtering on
    * a ppl band is a standard curation signal.
    *
    * Scale notes (100 TB): identical shuffle shape to [[tfidf]] — the
    * (doc, token) frequencies partial-agg map-side, the unigram table
    * aggregates the already-distinct pairs, the total joins in as a 1-row
    * broadcast. Self-scoring means no OOV (every token has corpus mass),
    * so no smoothing constant leaks into the math; to score against a
    * FOREIGN reference corpus, join the reference's unigram table instead
    * and add smoothing.
    *
    * @return (doc_id, doc_len, log_prob — the per-token average ln p,
    *          ppl = exp(−log_prob)) */
  def unigramPerplexity(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc_id"),
        explode(split(trim(col(textCol)), "\\s+")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val unigram = tf.groupBy("token").agg(sum("tf").as("_n"))
    val total = unigram.agg(sum("_n").as("_total"))
    tf.join(unigram, Seq("token"))
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("doc_len"),
        sum(col("tf") * log(col("_n") / col("_total"))).as("_lp"))
      .select(col("doc_id"), col("doc_len"),
        (col("_lp") / col("doc_len")).as("log_prob"),
        exp(-(col("_lp") / col("doc_len"))).as("ppl"))
  }

  /** Per-document BIGRAM language-model perplexity — the word-order-aware
    * sharpening of [[unigramPerplexity]]: a Laplace-smoothed bigram model
    * trained on the corpus itself,
    *
    *   p(w₂ | w₁) = (c(w₁,w₂) + 1) / (c(w₁·) + V)
    *
    * with c(w₁·) the count of bigrams starting at w₁ and V the corpus
    * vocabulary size, scored as `ppl = exp(−Σ tf·ln p / n_bigrams)`.
    * Shuffled or template-stitched text that unigram ppl cannot separate
    * from prose (same token histogram!) scores high here — the standard
    * second-stage LM quality filter. Documents under two tokens have no
    * bigrams and are omitted. Self-scoring keeps every document bigram
    * in-vocabulary; the +1 smoothing is what makes the same model
    * servable against held-out text.
    *
    * Scale notes (100 TB): bigrams come from a NARROW per-row array zip
    * (never a positional self-join), then partial-agg groupBys for the
    * model and per-doc frequencies; the model joins back on the bigram
    * key (vocab²-bounded but count-sparse), context counts on w₁, and V
    * as a 1-row broadcast. Hot function-word bigrams are groupBy/join
    * keys → AQE splits them.
    *
    * @return (doc_id, n_bigrams, log_prob — the per-bigram average ln p,
    *          ppl = exp(−log_prob)) */
  def bigramPerplexity(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      split(trim(col(textCol)), "\\s+").as("_arr"))
    val vocab = toks.select(explode(col("_arr")).as("w"))
      .agg(countDistinct(col("w")).as("_v"))
    val bigrams = toks.filter(size(col("_arr")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(_arr) - 1), " +
          "i -> struct(element_at(_arr, i) AS w1, " +
          "element_at(_arr, i + 1) AS w2))")).as("_b"))
      .select(col("doc_id"), col("_b.w1").as("w1"), col("_b.w2").as("w2"))
    val model = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
    val ctx = model.groupBy("w1").agg(sum("c_ab").as("c1"))
    val dtf = bigrams.groupBy("doc_id", "w1", "w2")
      .agg(count(lit(1)).as("btf"))
    // ln operand shape mirrored exactly in the oracle SQL:
    // (c_ab + 1.0) / CAST(c1 + v AS DOUBLE)
    dtf.join(model, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(sum(col("btf")).as("n_bigrams"),
        sum(col("btf") * log((col("c_ab") + lit(1.0)) /
          (col("c1") + col("_v")).cast("double"))).as("_lp"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("_lp") / col("n_bigrams")).as("log_prob"),
        exp(-(col("_lp") / col("n_bigrams"))).as("ppl"))
  }

  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995; the
    * Chen & Goodman 1998 interpolated form) — the standard n-gram LM
    * smoothing, a materially better quality signal than add-one
    * ([[bigramPerplexity]]): continuation probability ranks words by
    * how many CONTEXTS they follow, not raw frequency, so boilerplate
    * that repeats one collocation ("san francisco") stops looking
    * fluent everywhere:
    *
    *   P(w2|w1) = max(c(w1w2) − d, 0)/c(w1·)
    *              + d·N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··)
    *
    * with discount `d` (conventionally 0.75). All five count tables
    * derive from one bigram aggregation; every in-corpus bigram has
    * c ≥ 1 and the discounted mass keeps P > 0, so no extra smoothing
    * floor is needed. Per-doc score = mean −ln P over the doc's
    * bigrams, `ppl = exp` of it (the [[bigramPerplexity]] contract;
    * docs with < 2 tokens drop out).
    *
    * Scale notes (100 TB): the corpus-sized work is the bigram
    * explode + two partial-agg groupBys; everything after is
    * vocabulary-sized (model/context/continuation tables) joined back
    * on token keys, type totals a 1-row broadcast. Same join graph as
    * [[bigramPerplexity]] plus one vocabulary-sized groupBy. */
  def knBigramPerplexity(docs: DataFrame, idCol: String,
      textCol: String, discount: Double = 0.75,
      ckpt: graft.Checkpointer = graft.Checkpointer.Local): DataFrame = {
    require(discount > 0.0 && discount < 1.0, "discount must be in (0, 1)")
    val toks = docs.select(col(idCol).as("doc_id"),
      split(trim(col(textCol)), "\\s+").as("_arr"))
    val bigrams = toks.filter(size(col("_arr")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(_arr) - 1), " +
          "i -> struct(element_at(_arr, i) AS w1, " +
          "element_at(_arr, i + 1) AS w2))")).as("_b"))
      .select(col("doc_id"), col("_b.w1").as("w1"), col("_b.w2").as("w2"))
    // the vocab-sized model is materialized ONCE: ctx/cont/types all
    // derive from it, and without the cut each would re-run the
    // corpus-sized bigram explode (5 corpus passes instead of 2)
    val model = ckpt(
      bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab")))
    // N1+(w1·) is model's row count per w1 — distinct continuations
    val ctx = model.groupBy("w1")
      .agg(sum("c_ab").as("c1"), count(lit(1)).as("n1f"))
    val cont = model.groupBy("w2").agg(count(lit(1)).as("n1b"))
    val types = model.agg(count(lit(1)).as("_tt"))
    val dtf = bigrams.groupBy("doc_id", "w1", "w2")
      .agg(count(lit(1)).as("btf"))
    // operand shapes mirrored exactly in the oracle SQL
    val p = greatest(col("c_ab") - lit(discount), lit(0.0)) /
        col("c1").cast("double") +
      lit(discount) * col("n1f") / col("c1").cast("double") *
        (col("n1b") / col("_tt").cast("double"))
    dtf.join(model, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(types))
      .groupBy("doc_id")
      .agg(sum(col("btf")).as("n_bigrams"),
        sum(col("btf") * log(p)).as("_lp"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("_lp") / col("n_bigrams")).as("log_prob"),
        exp(-(col("_lp") / col("n_bigrams"))).as("ppl"))
  }

  /** Interpolated Kneser–Ney TRIGRAM scoring — the n-gram ladder's
    * next rung above [[knBigramPerplexity]] (Chen & Goodman 1998's
    * interpolated form at order 3): the top order discounts raw
    * trigram counts and backs off, recursively, into CONTINUATION
    * distributions,
    *
    *   P(w3|w1w2) = max(c(w1w2w3) − d, 0)/c(w1w2·)
    *                + d·N1+(w1w2·)/c(w1w2·) · Pmid(w3|w2)
    *   Pmid(w3|w2) = max(N1+(·w2w3) − d, 0)/N1+(·w2·)
    *                + d·D1+(w2·)/N1+(·w2·) · Plow(w3)
    *   Plow(w3)    = N1+(·w3) / N1+(··)
    *
    * where every lower-order table is a TYPE count over the trigram
    * model (the textbook continuation-counting discipline): N1+(·w2w3)
    * = distinct w1 preceding (w2, w3); N1+(·w2·) = Σ of those over w3;
    * D1+(w2·) = distinct (w2, w3) continuation types per w2; N1+(·w3)
    * = distinct w2 with (w2, w3) a continuation type; N1+(··) = total
    * continuation types. Deriving the whole ladder from ONE trigram
    * aggregation keeps the model self-contained (no separate bigram
    * pass whose edge effects — final bigrams of each doc — would
    * desynchronize the tables). Every in-corpus trigram has c ≥ 1 and
    * N1+(·w2w3) ≥ 1, so P > 0 with no extra floor. Docs with < 3
    * tokens have no trigrams and drop out (the bigram contract, one
    * order up).
    *
    * Scale notes (100 TB): corpus-sized work = one narrow per-row
    * trigram zip (never a positional self-join) + two partial-agg
    * groupBys (model, per-doc frequencies); everything else is
    * vocabulary-sized tables joined back on token keys, the type
    * total a 1-row broadcast — [[knBigramPerplexity]]'s join graph
    * plus two vocabulary-sized groupBys.
    *
    * @return (doc_id, n_trigrams, log_prob — the per-trigram average
    *         ln P, ppl = exp(−log_prob)) */
  def knTrigramPerplexity(docs: DataFrame, idCol: String,
      textCol: String, discount: Double = 0.75,
      ckpt: graft.Checkpointer = graft.Checkpointer.Local): DataFrame = {
    val tris = trigramRows(docs, idCol, textCol)
    knTrigramFromModel(
      tris.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c123")),
      docs, idCol, textCol, discount, ckpt)
  }

  /** One narrow per-row trigram zip (never a positional self-join):
    * (`doc_id`, w1, w2, w3), one output row per trigram OCCURRENCE.
    * Docs with < 3 tokens have no trigrams and drop out. Shared by the
    * one-shot perplexities, the [[TrigramLm]] store build, and its
    * maintenance deltas so the extraction can never drift. */
  private def trigramRows(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        split(trim(col(textCol)), "\\s+").as("_arr"))
      .filter(size(col("_arr")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(_arr) - 2), " +
          "i -> struct(element_at(_arr, i) AS w1, " +
          "element_at(_arr, i + 1) AS w2, " +
          "element_at(_arr, i + 2) AS w3))")).as("_t"))
      .select(col("doc_id"), col("_t.w1").as("w1"),
        col("_t.w2").as("w2"), col("_t.w3").as("w3"))

  /** Score `docs` with interpolated Kneser–Ney off a FIXED trigram
    * count table — [[knTrigramPerplexity]]'s exact expression chain
    * with the model supplied instead of rebuilt, so perplexities
    * served off a [[maintainTrigramLm]]-maintained store are bit-equal
    * to a fresh build's. Every lower-order continuation table derives
    * from `model` alone (the self-contained-ladder discipline of
    * [[knTrigramPerplexity]]).
    *
    * Contract: self-scoring — `docs` must be (drawn from) the corpus
    * the model counts; a trigram absent from the model drops from the
    * scoring inner join (`n_trigrams` reports the scored mass), and a
    * document whose trigrams are ALL unseen drops out. To score a
    * foreign corpus, add an OOV smoothing floor instead.
    *
    * Scale notes (100 TB): corpus-sized work = the one trigram zip of
    * `docs` + its per-doc partial-agg groupBy; the model-derived
    * tables are model-sized (vocabulary-bounded, corpus-sublinear),
    * the type total a 1-row broadcast. */
  def knTrigramFromModel(model: DataFrame, docs: DataFrame,
      idCol: String, textCol: String, discount: Double = 0.75,
      ckpt: graft.Checkpointer = graft.Checkpointer.Local): DataFrame = {
    require(discount > 0.0 && discount < 1.0, "discount must be in (0, 1)")
    // ONE materialization feeds every lower-order type table — without
    // the cut each would re-run the model lineage (for a maintained
    // store that is the whole maintenance DAG)
    val m = ckpt(model.select(col("w1"), col("w2"), col("w3"),
      col("c123").cast("long").as("c123")))
    val ctx = m.groupBy("w1", "w2")
      .agg(sum("c123").as("c12"), count(lit(1)).as("n1f12"))
    val mid = ckpt(m.groupBy("w2", "w3")
      .agg(count(lit(1)).as("n1b23")))
    val midCtx = mid.groupBy("w2")
      .agg(sum("n1b23").as("m2"), count(lit(1)).as("d2"))
    val low = mid.groupBy("w3").agg(count(lit(1)).as("n1b3"))
    val types = mid.agg(count(lit(1)).as("_tt"))
    val dtf = trigramRows(docs, idCol, textCol)
      .groupBy("doc_id", "w1", "w2", "w3")
      .agg(count(lit(1)).as("ttf"))
    // operand shapes mirrored exactly in the oracle SQL
    val plow = col("n1b3") / col("_tt").cast("double")
    val pmid = greatest(col("n1b23") - lit(discount), lit(0.0)) /
        col("m2").cast("double") +
      lit(discount) * col("d2") / col("m2").cast("double") * plow
    val p = greatest(col("c123") - lit(discount), lit(0.0)) /
        col("c12").cast("double") +
      lit(discount) * col("n1f12") / col("c12").cast("double") * pmid
    dtf.join(m, Seq("w1", "w2", "w3"))
      .join(ctx, Seq("w1", "w2"))
      .join(mid, Seq("w2", "w3"))
      .join(midCtx, Seq("w2"))
      .join(low, Seq("w3"))
      .crossJoin(broadcast(types))
      .groupBy("doc_id")
      .agg(sum(col("ttf")).as("n_trigrams"),
        sum(col("ttf") * log(p)).as("_lp"))
      .select(col("doc_id"), col("n_trigrams"),
        (col("_lp") / col("n_trigrams")).as("log_prob"),
        exp(-(col("_lp") / col("n_trigrams"))).as("ppl"))
  }

  /** Trigram language-model SERVING STORE: the raw trigram count table
    * plus a live-document registry. `model` (w1, w2, w3, c123) is the
    * single source of truth — every Kneser–Ney table (contexts,
    * continuations, discounts) derives from it model-sized, so
    * maintaining the counts maintains the whole ladder. `docs` (one
    * `doc_id` column) records which documents the counts cover; the
    * model itself stores NO per-document rows (unlike
    * [[LexIndex.postings]]), which is what makes the store
    * corpus-sublinear — and why the erasure path must ship the leaving
    * text (see [[maintainTrigramLm]]). */
  final case class TrigramLm(docs: DataFrame, model: DataFrame)

  /** Tokenize `docs` once into a fresh [[TrigramLm]] — the ground-truth
    * build [[maintainTrigramLm]] keeps current and
    * [[knTrigramFromModel]] serves from. One corpus-sized trigram zip
    * + one partial-agg groupBy ([[knTrigramPerplexity]]'s exact model
    * aggregation). */
  def buildTrigramLm(docs: DataFrame, idCol: String,
      textCol: String): TrigramLm =
    TrigramLm(
      docs = docs.select(col(idCol).as("doc_id")),
      model = trigramRows(docs, idCol, textCol)
        .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c123")))

  /** EXACT maintenance of a [[TrigramLm]] under document ADDS and
    * TAKEDOWNS — the n-gram LM's member of the maintenance grid
    * (lexical index, ANN, SCC, communities, intervals, neighborAgg,
    * dup clusters all have one): trigram counts are SUBTRACTABLE, so
    * the maintained model is the old counts plus the added documents'
    * trigrams minus the removed documents' trigrams, rows reaching
    * zero leave, in exact long arithmetic — frame-for-frame EQUAL to
    * [[buildTrigramLm]] over the post-change corpus.
    *
    * Contract: the store keeps no per-document rows, so `removedDocs`
    * must carry the GROUND-TRUTH text being erased (at takedown time
    * the document is still in the corpus store — the CDC twin reads it
    * from the op-store fold). Removing an id the registry never saw is
    * a no-op (its rows are filtered out, nothing is subtracted).
    * Re-adding a currently LIVE id REPLACES it, and therefore requires
    * its old row in `removedDocs` — an add of a live id WITHOUT one
    * fails loudly (a silent double-count is the corruption this store
    * cannot detect later). A subtraction driving any count below zero
    * (mis-specified erasure text) also fails loudly instead of
    * quietly clamping. Same-call duplicate ids fold to one
    * deterministic row first (max text — the CDC fold discipline).
    *
    * Scale notes (100 TB): changed-doc trigram extraction is
    * delta-sized; the count merge is two model-sized full joins on
    * trigram keys (vocabulary-bounded, corpus-sublinear — AQE
    * co-partitions them); the registry checks are broadcast-gated on
    * the change-batch ids; the corpus is never rescanned. The clash
    * and negative-count guards ride the output as a 1-row broadcast
    * filter and a per-row predicate — no driver-side action.
    *
    * @param addedDocs   new/updated documents (`idCol`, `textCol`)
    * @param removedDocs taken-down documents WITH their text */
  def maintainTrigramLm(lm: TrigramLm, addedDocs: DataFrame,
      removedDocs: DataFrame, idCol: String,
      textCol: String): TrigramLm = {
    // same-call duplicates fold to one deterministic row per id
    val adds = addedDocs
      .select(col(idCol).as("doc_id"), col(textCol).as("_text"))
      .groupBy("doc_id").agg(max(col("_text")).as("_text"))
      .localCheckpoint()
    val rems = removedDocs
      .select(col(idCol).as("doc_id"), col(textCol).as("_text"))
      .groupBy("doc_id").agg(max(col("_text")).as("_text"))
      .localCheckpoint()
    val remIds = rems.select("doc_id")
    val addIds = adds.select("doc_id")
    // unknown-id takedown no-ops: only registry-live rows subtract
    val liveRems = rems
      .join(lm.docs.select("doc_id"), Seq("doc_id"), "left_semi")
    // fail fast on a re-add of a live id whose old row did not ship —
    // a 1-row broadcast guard crossed into the output (the
    // landmarkReachability fail-before-anything-moves discipline)
    val guard = addIds
      .join(lm.docs.select("doc_id")
        .join(broadcast(remIds), Seq("doc_id"), "left_anti"),
        Seq("doc_id"), "left_semi")
      .agg(count(lit(1)).as("_clash"))
      .filter(
        when(col("_clash") > 0L,
          raise_error(lit("maintainTrigramLm: re-add of a live id " +
            "without its old row in removedDocs — the model stores " +
            "no per-doc counts, so the leaving text must ship"))
            .cast("boolean"))
          .otherwise(lit(true)))
      .select(lit(1).as("_ok"))
    val dec = trigramRows(liveRems, "doc_id", "_text")
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("_dec"))
    val inc = trigramRows(adds, "doc_id", "_text")
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("_inc"))
    val keys = Seq("w1", "w2", "w3")
    val merged = lm.model
      .join(dec, keys, "full")
      .join(inc, keys, "full")
      .select(col("w1"), col("w2"), col("w3"),
        (coalesce(col("c123"), lit(0L)) - coalesce(col("_dec"), lit(0L))
          + coalesce(col("_inc"), lit(0L))).as("c123"))
      .filter(
        when(col("c123") < 0L,
          raise_error(lit("maintainTrigramLm: a trigram count went " +
            "negative — removedDocs text does not match what the " +
            "store counted (erasure must ship ground truth)"))
            .cast("boolean"))
          .otherwise(col("c123") > 0L))
    TrigramLm(
      docs = lm.docs.select("doc_id")
        .join(broadcast(remIds.unionByName(addIds).distinct()),
          Seq("doc_id"), "left_anti")
        .unionByName(addIds),
      model = merged.crossJoin(broadcast(guard)).drop("_ok"))
  }

  /** Commit a [[TrigramLm]] (`docs/`, `model/`) as the next version
    * of the store at `dir` — the [[saveLexIndex]] commit. */
  def saveTrigramLm(lm: TrigramLm, dir: String, tag: String = "-"): Long =
    FrameVersions.commit(lm.docs.sparkSession, dir, Seq(
      "docs" -> lm.docs, "model" -> lm.model), tag)

  /** Load a [[TrigramLm]] — the [[loadLexIndex]] resolution. */
  def loadTrigramLm(spark: org.apache.spark.sql.SparkSession,
      dir: String): TrigramLm = {
    val v = FrameVersions.latest(spark, dir)
    TrigramLm(docs = v.read("docs"), model = v.read("model"))
  }

  /** MODIFIED Kneser–Ney trigram perplexity — [[knTrigramPerplexity]]
    * with the production discount estimator (Chen & Goodman 1998 §3;
    * what KenLM ships): instead of one fixed discount, each model
    * order estimates THREE count-class discounts from its own
    * count-of-counts n₁..n₄ (the number of n-grams seen exactly
    * 1..4 times):
    *
    *   Y  = n₁ / (n₁ + 2·n₂)
    *   D₁ = 1 − 2·Y·n₂/n₁,  D₂ = 2 − 3·Y·n₃/n₂,  D₃₊ = 3 − 4·Y·n₄/n₃
    *
    * A count-1 n-gram then gives back D₁ of its mass, count-2 gives
    * D₂, count ≥ 3 gives D₃₊, and the interpolation weight becomes
    * γ(ctx) = (D₁·N₁(ctx) + D₂·N₂(ctx) + D₃₊·N₃₊(ctx)) / total(ctx),
    * where Nₖ(ctx) counts the context's continuations in count class
    * k — so γ still routes EXACTLY the mass the discounts removed
    * (the distribution stays normalized). The trigram level estimates
    * from raw trigram counts; the bigram level from its
    * CONTINUATION counts (the [[knTrigramPerplexity]] middle layer —
    * modified KN discounts lower orders' type counts, not their raw
    * counts); the unigram base stays the undiscounted continuation
    * distribution. KenLM refuses corpora where n₁..n₃ = 0 at any
    * order ("could not calculate discounts") — this does too, loudly,
    * via a raise_error guard instead of a silent NaN.
    *
    * Exactness: n₁..n₄ and every Nₖ are exact longs; Y and the Ds are
    * fixed double expressions of them with the operand association
    * mirrored in the oracle SQL — identical doubles on both engines.
    *
    * Scale notes (100 TB): identical shuffle shape to
    * [[knTrigramPerplexity]] — corpus-sized work is the one trigram
    * zip and two partial-agg groupBys; the class-count columns ride
    * the SAME aggregations that already build c12/m2 (zero extra
    * shuffles); the two count-of-counts tables are 1-row broadcasts.
    *
    * @return (doc_id, n_trigrams, log_prob, ppl) — [[knTrigramPerplexity]]'s shape. */
  def knTrigramPerplexityModified(docs: DataFrame, idCol: String,
      textCol: String,
      ckpt: graft.Checkpointer = graft.Checkpointer.Local): DataFrame = {
    val tris = trigramRows(docs, idCol, textCol)
    knTrigramFromModelModified(
      tris.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c123")),
      docs, idCol, textCol, ckpt)
  }

  /** Modified-KN scoring off a FIXED trigram count table — the
    * [[knTrigramFromModel]] split applied to
    * [[knTrigramPerplexityModified]]: the count-class discounts, the
    * class-conditioned γ weights, and every continuation table all
    * derive from `model` alone, so modified-KN perplexities served off
    * a [[maintainTrigramLm]]-maintained store are bit-equal to a fresh
    * build's. Same self-scoring contract and shuffle shape as
    * [[knTrigramFromModel]]. */
  def knTrigramFromModelModified(model: DataFrame, docs: DataFrame,
      idCol: String, textCol: String,
      ckpt: graft.Checkpointer = graft.Checkpointer.Local): DataFrame = {
    val model2 = ckpt(model.select(col("w1"), col("w2"), col("w3"),
      col("c123").cast("long").as("c123")))
    def classCol(c: Column, k: Int): Column =
      sum(when(if (k < 3) c === k.toLong else c >= 3L, lit(1L))
        .otherwise(lit(0L)))
    // per-context totals AND count-class continuation counts — the
    // same aggregation that builds c12/m2 carries N1/N2/N3+
    val ctx = model2.groupBy("w1", "w2")
      .agg(sum("c123").as("c12"),
        classCol(col("c123"), 1).as("k1t"),
        classCol(col("c123"), 2).as("k2t"),
        classCol(col("c123"), 3).as("k3t"))
    val mid = ckpt(model2.groupBy("w2", "w3")
      .agg(count(lit(1)).as("n1b23")))
    val midCtx = mid.groupBy("w2")
      .agg(sum("n1b23").as("m2"),
        classCol(col("n1b23"), 1).as("k1m"),
        classCol(col("n1b23"), 2).as("k2m"),
        classCol(col("n1b23"), 3).as("k3m"))
    val low = mid.groupBy("w3").agg(count(lit(1)).as("n1b3"))
    val types = mid.agg(count(lit(1)).as("_tt"))
    // per-order count-of-counts → the three discounts, as a guarded
    // 1-row broadcast (no driver read; the raise_error rides a filter
    // so Catalyst cannot prune it)
    def discounts(counts: DataFrame, cCol: String, sfx: String,
        order: String): DataFrame = {
      val coc = counts.agg(
        classCol(col(cCol), 1).as("n1"),
        classCol(col(cCol), 2).as("n2"),
        sum(when(col(cCol) === 3L, lit(1L)).otherwise(lit(0L))).as("n3"),
        sum(when(col(cCol) === 4L, lit(1L)).otherwise(lit(0L))).as("n4"))
      val y = col("n1").cast("double") /
        (col("n1") + lit(2L) * col("n2")).cast("double")
      // d1 = n1/(n1+2n2) is positive by algebra whenever n1, n2 > 0;
      // d2/d3 can go NEGATIVE on count-of-counts a saturated corpus
      // skews (n3 ≳ (2/3)·n2/Y or n4 ≳ (3/4)·n3/Y) — a negative
      // discount makes the backoff mass γ negative and probabilities
      // follow, so refuse loudly exactly where KenLM prints "could
      // not calculate Kneser-Ney discounts" instead of serving NaNs
      coc.filter(
        when(col("n1") === 0L || col("n2") === 0L || col("n3") === 0L,
          raise_error(lit(s"knTrigramPerplexityModified: $order " +
            "count-of-counts n1..n3 must all be > 0 to estimate " +
            "discounts (KenLM's precondition)")).cast("boolean"))
          .otherwise(lit(true)))
        .filter(
          when(lit(2.0) - lit(3.0) * y * col("n3") / col("n2") <= 0.0
              || lit(3.0) - lit(4.0) * y * col("n4") / col("n3") <= 0.0,
            raise_error(lit(s"knTrigramPerplexityModified: $order " +
              "count-of-counts give a non-positive d2 or d3 discount " +
              "(KenLM's 'could not calculate discounts' condition) — " +
              "the corpus's count classes are too skewed for the " +
              "Chen-Goodman estimator")).cast("boolean"))
            .otherwise(lit(true)))
        .select(
          (lit(1.0) - lit(2.0) * y * col("n2") / col("n1"))
            .as(s"d1$sfx"),
          (lit(2.0) - lit(3.0) * y * col("n3") / col("n2"))
            .as(s"d2$sfx"),
          (lit(3.0) - lit(4.0) * y * col("n4") / col("n3"))
            .as(s"d3$sfx"))
    }
    val discTri = discounts(model2, "c123", "t", "trigram")
    val discMid = discounts(mid, "n1b23", "m", "bigram-continuation")
    val dtf = trigramRows(docs, idCol, textCol)
      .groupBy("doc_id", "w1", "w2", "w3")
      .agg(count(lit(1)).as("ttf"))
    // operand shapes mirrored exactly in the oracle SQL
    val dTop = when(col("c123") === 1L, col("d1t"))
      .when(col("c123") === 2L, col("d2t")).otherwise(col("d3t"))
    val gTop = (col("d1t") * col("k1t") + col("d2t") * col("k2t") +
      col("d3t") * col("k3t")) / col("c12").cast("double")
    val dMid = when(col("n1b23") === 1L, col("d1m"))
      .when(col("n1b23") === 2L, col("d2m")).otherwise(col("d3m"))
    val gMid = (col("d1m") * col("k1m") + col("d2m") * col("k2m") +
      col("d3m") * col("k3m")) / col("m2").cast("double")
    val plow = col("n1b3") / col("_tt").cast("double")
    val pmid = greatest(col("n1b23") - dMid, lit(0.0)) /
      col("m2").cast("double") + gMid * plow
    val p = greatest(col("c123") - dTop, lit(0.0)) /
      col("c12").cast("double") + gTop * pmid
    dtf.join(model2, Seq("w1", "w2", "w3"))
      .join(ctx, Seq("w1", "w2"))
      .join(mid, Seq("w2", "w3"))
      .join(midCtx, Seq("w2"))
      .join(low, Seq("w3"))
      .crossJoin(broadcast(types))
      .crossJoin(broadcast(discTri))
      .crossJoin(broadcast(discMid))
      .groupBy("doc_id")
      .agg(sum(col("ttf")).as("n_trigrams"),
        sum(col("ttf") * log(p)).as("_lp"))
      .select(col("doc_id"), col("n_trigrams"),
        (col("_lp") / col("n_trigrams")).as("log_prob"),
        exp(-(col("_lp") / col("n_trigrams"))).as("ppl"))
  }

  /** Cluster topic labeling by class-TF-IDF (the BERTopic reduction,
    * Grootendorst 2022): given a document→cluster assignment (e.g. from
    * [[Similarity.ivfIndex]] cells over document embeddings), score each
    * (cluster, term) by
    *
    *   score(t, c) = tf(t, c) · ln(1 + A / f(t))
    *
    * where tf(t,c) is the term's count inside the cluster, f(t) its
    * corpus count, and A the average token mass per cluster — terms
    * frequent IN the cluster but rare elsewhere rise, glue words sink.
    * The top `topK` terms per cluster are the cluster's topic label.
    *
    * Ranking happens on the INTEGERIZED score (`floor(score·rankScale +
    * 0.5)` with term tie-break) — a total order over exact longs, so the
    * selected top-k is identical on any engine and partitioning (a raw
    * float rank could flip on a summation-order ulp).
    *
    * Scale notes (100 TB): two partial-agg groupBys ((cluster, term) and
    * term), corpus totals as a 1-row broadcast, one window over
    * (cluster)-partitioned scores — vocabulary-sized, not corpus-sized,
    * after the first aggregation. The assignment join is doc-keyed; hot
    * terms are groupBy keys → AQE splits them.
    *
    * @param assign (`idCol`, cluster_id) — one row per document
    * @return (cluster_id, rnk 1..topK, term, tf, score_e — the
    *         integerized c-TF-IDF score). */
  def clusterTopics(assign: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, topK: Int, rankScale: Double = 1e4): DataFrame = {
    require(topK >= 1, "topK must be >= 1")
    val toks = docs
      .select(col(idCol).as("doc_id"),
        explode(split(trim(col(textCol)), "\\s+")).as("term"))
      .join(assign.select(col(idCol).as("doc_id"), col("cluster_id")),
        Seq("doc_id"))
    val tfc = toks.groupBy("cluster_id", "term")
      .agg(count(lit(1)).as("tf"))
    val ft = tfc.groupBy("term").agg(sum("tf").as("_f"))
    val tot = tfc.agg(sum("tf").as("_tot"),
      countDistinct("cluster_id").as("_nc"))
    // ln operand shape mirrored exactly in the oracle SQL:
    // tf · ln(1 + (CAST(tot AS DOUBLE) / nc) / f) · scale + 0.5
    val scored = tfc.join(ft, Seq("term"))
      .crossJoin(broadcast(tot))
      .select(col("cluster_id"), col("term"), col("tf"),
        floor(col("tf") * log(lit(1.0) +
            (col("_tot").cast("double") / col("_nc")) / col("_f")) *
          rankScale + 0.5).cast("long").as("score_e"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("score_e").desc, col("term"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topK)
      .select(col("cluster_id"), col("rnk"), col("term"), col("tf"),
        col("score_e"))
  }

  /** Pointwise-mutual-information bigram collocations — the phrase-mining
    * primitive ("new york", "machine learning") for tokenizer-vocabulary
    * construction and phrase-aware indexing:
    *
    *   pmi(a,b) = ln( p(a,b) / (p(a)·p(b)) )
    *            = ln( c_ab·T² / (B·c_a·c_b) )
    *
    * with unigram probabilities over the T token occurrences and bigram
    * probability over the B adjacent pairs. `minCount` drops rare pairs
    * (PMI's well-known bias: a typo pair seen once scores astronomically).
    *
    * Scale: bigrams come from a NARROW per-row array zip (no positional
    * self-join — the token stream never joins against itself), then one
    * partial-agg groupBy; unigram counts join in on each side's token
    * (vocab-sized build side), totals as a 1-row broadcast. Hot function
    * words are groupBy keys → AQE splits them.
    *
    * @return (w1, w2, c_ab, c_a, c_b, pmi), one row per surviving bigram */
  def pmiBigrams(docs: DataFrame, idCol: String, textCol: String,
      minCount: Int = 5): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    val toks = docs.select(col(idCol).as("doc_id"),
      split(trim(col(textCol)), "\\s+").as("_arr"))
    val uni = toks.select(explode(col("_arr")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val totalT = uni.agg(sum("c").as("_t"))
    // sequence(1, n) DESCENDS when n < 1 — filter single-token docs out
    // first (they contribute no bigrams anyway)
    val bigrams = toks.filter(size(col("_arr")) >= 2).select(explode(expr(
      "transform(sequence(1, size(_arr) - 1), " +
        "i -> struct(element_at(_arr, i) AS w1, " +
        "element_at(_arr, i + 1) AS w2))")).as("_b"))
      .select(col("_b.w1").as("w1"), col("_b.w2").as("w2"))
    val bc = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
    val totalB = bc.agg(sum("c_ab").as("_bt"))
    bc.filter(col("c_ab") >= minCount)
      .join(uni.select(col("w").as("w1"), col("c").as("c_a")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c_b")), Seq("w2"))
      .crossJoin(broadcast(totalT))
      .crossJoin(broadcast(totalB))
      // association order mirrors the oracle SQL exactly: (c_ab·t·t) /
      // ((bt·c_a)·c_b), left-assoc in both engines
      .withColumn("pmi", log(
        (col("c_ab").cast("double") * col("_t") * col("_t")) /
          (col("_bt").cast("double") * col("c_a") * col("c_b"))))
      .select("w1", "w2", "c_ab", "c_a", "c_b", "pmi")
  }

  /** BM25 document search: rank docs for a literal query string by the sum
    * of their BM25 weights over the query's (distinct) terms — the sparse
    * retrieval counterpart of [[Similarity.bruteForceTopK]]. Ties break by
    * doc id. The term filter is pushed below the weight computation, so
    * only postings of query terms are scored; `orderBy.limit` plans as
    * TakeOrderedAndProject (per-partition top-k, no global sort). */
  def searchBm25(docs: DataFrame, idCol: String, textCol: String,
      query: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    searchBm25FromIndex(buildLexIndex(docs, idCol, textCol), query, k,
      k1, b)

  /** [[searchBm25]] served off a (possibly [[maintainLexIndex]]-
    * maintained) [[LexIndex]] — the QUERY path of the lexical serving
    * store, completing its lifecycle (build → maintain → serve →
    * search). The one-shot [[searchBm25]] routes through here, so
    * search results off a maintained index are bit-equal to a fresh
    * rebuild's.
    *
    * Scale notes (100 TB): Catalyst pushes the query-term filter
    * through the token-keyed joins into BOTH the posting scan and the
    * df lookup — only the query terms' postings ever leave the store
    * (a token-sorted/bucketed posting layout turns that into an index
    * seek); the ranking is a TakeOrderedAndProject top-k, never a
    * full sort. */
  def searchBm25FromIndex(ix: LexIndex, query: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val terms = query.trim.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    require(terms.nonEmpty, "query must contain at least one token")
    bm25FromIndex(ix, k1, b)
      .filter(col("token").isin(terms: _*))
      .groupBy("doc_id").agg(sum("bm25").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Zipf power-law fit over the corpus token-frequency distribution —
    * the text-side twin of the degree power law
    * ([[GraphOps.powerLawFit]]), and the corpus-health number a
    * pretraining mix report leads with: natural language sits near
    * α ≈ 2 (Zipf); heavily templated/boilerplate corpora read far
    * higher, scraped tag soup far lower. Continuous MLE (Clauset-
    * Shirley-Newman): α = 1 + n / Σ ln(f_i / f_min) over token types
    * with frequency ≥ `fMin`, `alpha_se` = (α−1)/√n.
    *
    * Determinism discipline copied from the degree fit verbatim: the
    * log-sum is per-term 1e9-integerized over the DISTINCT-FREQUENCY
    * histogram (types-with-frequency-f counts) and summed exactly in
    * decimal, so α is partition-order independent and the oracle
    * rebuilds it bit-for-bit; one double division at the end.
    *
    * Scale notes (100 TB): token counts partial-aggregate map-side;
    * the histogram groups on the frequency VALUE (thousands of rows,
    * not vocabulary-sized); the final fold is one 1-row aggregate.
    *
    * @return one row: (`n_types`, `f_min`, `alpha`, `alpha_se` —
    *         alpha null when every kept type has frequency `fMin`) */
  def zipfAlpha(docs: DataFrame, textCol: String,
      fMin: Long = 1L): DataFrame = {
    require(fMin >= 1L, "fMin must be >= 1")
    val freq = docs
      .select(explode(split(trim(col(textCol)), "\\s+")).as("tk"))
      .filter(length(col("tk")) > 0)
      .groupBy("tk").agg(count(lit(1)).as("f"))
    val hist = freq.filter(col("f") >= fMin)
      .groupBy("f").agg(count(lit(1)).as("n_f"))
    val lnE9 = floor(
      log(col("f").cast("double") / lit(fMin.toDouble)) * lit(1e9) +
        lit(0.5)).cast("decimal(38,0)")
    val m = hist.agg(
      sum(col("n_f").cast("decimal(38,0)")).cast("long").as("n_types"),
      sum(col("n_f").cast("decimal(38,0)") * lnE9).as("_s_e9"))
    m.select(col("n_types"), lit(fMin).as("f_min"),
        when(col("_s_e9") === 0, lit(null).cast("double"))
          .otherwise(lit(1.0) + col("n_types").cast("double") /
            (col("_s_e9").cast("double") / lit(1e9))).as("alpha"))
      .withColumn("alpha_se",
        (col("alpha") - lit(1.0)) / sqrt(col("n_types").cast("double")))
  }
}
