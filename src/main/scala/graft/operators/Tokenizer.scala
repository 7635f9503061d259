package graft.operators

import graft.Checkpointer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge induction — the tokenizer-vocabulary
  * primitive (Sennrich et al. 2016) a training-data pipeline runs over
  * its corpus before any token budget, packing, or perplexity work is
  * meaningful. [[bpeMerges]] LEARNS the merge table; [[bpeEncode]]
  * applies it, yielding per-document subword counts under the induced
  * vocabulary.
  *
  * The classic scaling trick is structural here: all iteration state
  * lives on the (word, count) VOCABULARY table, never the corpus — one
  * corpus scan builds the vocab, and every merge round after that is
  * vocab-sized (tens of thousands of rows at web scale, independent of
  * corpus size). Per round: one narrow adjacent-pair explode + partial
  * aggregate, a 1-row argmax (count desc, pair asc — a total order, so
  * the learned table is partitioning-invariant), broadcast back as a
  * cross join, and a codegen `aggregate` fold that re-segments each
  * word's symbol array greedily left-to-right — the exact semantics of
  * the reference BPE implementations. The fold starts from an empty
  * accumulator and always appends its first symbol, so a fold seeded
  * with the first element (DuckDB `list_reduce`) reproduces it exactly —
  * that is what makes the learned table oracle-checkable.
  *
  * Each round's vocab is checkpointed (pluggable [[Checkpointer]]), so
  * the plan does not double per merge and cluster runs survive executor
  * loss with [[Checkpointer.Reliable]].
  */
object Tokenizer {

  /** Word-final marker, appended as its own symbol so merges can learn
    * suffixes ("er&lt;/w&gt;") distinct from infixes — standard BPE. */
  val EndOfWord = "</w>"

  /** One corpus scan → (word, syms, wc): whitespace words, counted, each
    * split into single-character symbols plus the [[EndOfWord]] marker. */
  def wordVocab(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(split(trim(col(textCol)), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word")
      .agg(count(lit(1)).as("wc"))
      .select(col("word"),
        concat(split(col("word"), ""), array(lit(EndOfWord))).as("syms"),
        col("wc"))

  /** The tokenizer-vocabulary SERVING STORE — the last maintenance-grid
    * hole closed: both subword inducers ([[bpeMerges]] and the unigram
    * candidate stage) derive everything from the (word, wc) frequency
    * table, which is vocabulary-sized and SUBTRACTABLE, so it takes
    * the [[graft.operators.Relevance.TrigramLm]] discipline verbatim:
    * `words` (word, wc) is the single source of truth (no per-document
    * rows — corpus-sublinear, which is why erasure must ship the
    * leaving text), `docs` the live-id registry. Re-inducing merges or
    * candidates from the maintained table is model-sized work — the
    * corpus is never rescanned. */
  final case class WordStore(docs: DataFrame, words: DataFrame)

  /** One corpus scan → a fresh [[WordStore]] (the ground-truth build
    * [[maintainWordStore]] keeps current). */
  def buildWordStore(docs: DataFrame, idCol: String,
      textCol: String): WordStore =
    WordStore(
      docs = docs.select(col(idCol).as("doc_id")),
      words = docs
        .select(explode(split(trim(col(textCol)), "\\s+")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("wc")))

  /** EXACT maintenance of a [[WordStore]] under document ADDS and
    * TAKEDOWNS — word counts are subtractable, so the maintained table
    * is old + added − removed in exact long arithmetic, zero-count
    * words leaving: frame-for-frame EQUAL to [[buildWordStore]] over
    * the post-change corpus. Contract = the TrigramLm store's:
    * `removedDocs` carries the GROUND-TRUTH text being erased; an
    * unknown-id takedown no-ops (registry semi-join); re-adding a LIVE
    * id REPLACES it and requires its old row in `removedDocs` (a
    * silent double-count is undetectable later — fail loudly);
    * a subtraction driving a count negative fails loudly; same-call
    * duplicate ids fold deterministically (max text, the CDC fold).
    *
    * Scale notes (100 TB): delta-sized tokenization, two
    * vocabulary-sized full joins for the count merge, broadcast-gated
    * registry checks; the corpus is never rescanned. */
  def maintainWordStore(store: WordStore, addedDocs: DataFrame,
      removedDocs: DataFrame, idCol: String,
      textCol: String): WordStore = {
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
    val liveRems = rems
      .join(store.docs.select("doc_id"), Seq("doc_id"), "left_semi")
    val guard = addIds
      .join(store.docs.select("doc_id")
        .join(broadcast(remIds), Seq("doc_id"), "left_anti"),
        Seq("doc_id"), "left_semi")
      .agg(count(lit(1)).as("_clash"))
      .filter(
        when(col("_clash") > 0L,
          raise_error(lit("maintainWordStore: re-add of a live id " +
            "without its old row in removedDocs — the word table " +
            "stores no per-doc counts, so the leaving text must ship"))
            .cast("boolean"))
          .otherwise(lit(true)))
      .select(lit(1).as("_ok"))
    def counts(d: DataFrame, as: String): DataFrame = d
      .select(explode(split(trim(col("_text")), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as(as))
    val merged = store.words
      .join(counts(liveRems, "_dec"), Seq("word"), "full")
      .join(counts(adds, "_inc"), Seq("word"), "full")
      .select(col("word"),
        (coalesce(col("wc"), lit(0L)) - coalesce(col("_dec"), lit(0L))
          + coalesce(col("_inc"), lit(0L))).as("wc"))
      .filter(
        when(col("wc") < 0L,
          raise_error(lit("maintainWordStore: a word count went " +
            "negative — removedDocs text does not match what the " +
            "store counted (erasure must ship ground truth)"))
            .cast("boolean"))
          .otherwise(col("wc") > 0L))
    WordStore(
      docs = store.docs.select("doc_id")
        .join(broadcast(remIds.unionByName(addIds).distinct()),
          Seq("doc_id"), "left_anti")
        .unionByName(addIds),
      words = merged.crossJoin(broadcast(guard)).drop("_ok"))
  }

  /** Commit / load a [[WordStore]] (`docs/`, `words/`) — the
    * [[graft.operators.Relevance.saveLexIndex]] commit and its
    * one-version load. */
  def saveWordStore(store: WordStore, dir: String,
      tag: String = "-"): Long =
    FrameVersions.commit(store.docs.sparkSession, dir, Seq(
      "docs" -> store.docs, "words" -> store.words), tag)

  def loadWordStore(spark: org.apache.spark.sql.SparkSession,
      dir: String): WordStore = {
    val v = FrameVersions.latest(spark, dir)
    WordStore(docs = v.read("docs"), words = v.read("words"))
  }

  /** Learn `numMerges` BPE merges over `docs(textCol)`.
    *
    * Returns `(merges, vocab)`: `merges` is the ordered merge table
    * (merge_rank 1..k, left, right, pair_count — the pair's corpus
    * frequency when it was chosen), `vocab` the final segmentation
    * (word, syms, wc) under all learned merges. If the vocabulary
    * exhausts its pairs early (every word a single symbol), remaining
    * rounds are no-ops and the merge table simply ends short — the
    * sentinel guard keeps the plan total rather than annihilating the
    * vocab on an empty cross join. Routes through
    * [[bpeMergesFromWords]], so a [[maintainWordStore]]-maintained
    * table induces bit-identical merges. */
  def bpeMerges(docs: DataFrame, textCol: String, numMerges: Int,
      ckpt: Checkpointer = Checkpointer.Local): (DataFrame, DataFrame) =
    bpeMergesFromWords(
      wordVocab(docs, textCol).select("word", "wc"), numMerges, ckpt)

  /** [[bpeMerges]] from an existing (word, wc) table — the serving
    * path of the [[WordStore]]: every merge round is vocab-sized, the
    * corpus never enters. */
  def bpeMergesFromWords(words: DataFrame, numMerges: Int,
      ckpt: Checkpointer = Checkpointer.Local): (DataFrame, DataFrame) = {
    require(numMerges >= 1, "numMerges must be >= 1")
    val spark = words.sparkSession
    var vocab = ckpt(words.select(col("word"),
      concat(split(col("word"), ""), array(lit(EndOfWord))).as("syms"),
      col("wc")))
    val bests = Seq.newBuilder[(Long, String, String, Long)]
    for (k <- 1 to numMerges) {
      val prs = transform(
        slice(col("syms"), lit(1), size(col("syms")) - 1),
        (s, i) => struct(s.as("l"), element_at(col("syms"), i + 2).as("r")))
      val pairs = vocab
        .select(explode(prs).as("_p"), col("wc"))
        .groupBy(col("_p.l").as("left"), col("_p.r").as("right"))
        .agg(sum("wc").as("pair_count"))
      // Sentinel (null, null, -1) survives the argmax ONLY when no pair
      // exists; the fold's null condition then never fires (no-op round)
      // and the -1 row is filtered from the merge table below.
      val sentinel = spark.range(1).select(
        lit(null).cast("string").as("left"),
        lit(null).cast("string").as("right"),
        lit(-1L).as("pair_count"))
      // The winning pair is ONE bounded row — fetch it to the driver
      // (same eager job the old per-round checkpoint paid) and fold
      // with LITERALS: the old shape checkpointed the 1-row frame and
      // re-broadcast it into a crossJoin every round (one
      // broadcast-exchange build per merge — pure overhead at any
      // scale, the value is a constant of the round), and the final
      // merge table was an 8-way union of checkpointed 1-row frames.
      val bestRow = pairs.unionByName(sentinel)
        .orderBy(col("pair_count").desc, col("left"), col("right"))
        .limit(1)
        .select(col("left"), col("right"), col("pair_count"))
        .head()
      val ml = bestRow.getString(0)
      val mr = bestRow.getString(1)
      bests += ((k.toLong, ml, mr, bestRow.getLong(2)))
      val mlLit = lit(ml).cast("string")
      val mrLit = lit(mr).cast("string")
      // Greedy left-to-right re-segmentation: merge every adjacent
      // (left, right) occurrence; a just-merged symbol is its CONCAT, so
      // it can only chain where real BPE would chain. `get` (0-based,
      // null on out-of-bounds) keeps the empty-accumulator probe
      // ANSI-safe. A null merge pair (sentinel round) makes the when
      // condition null → otherwise → no-op, exactly the old crossJoin-
      // with-null semantics.
      val folded = aggregate(col("syms"),
        array().cast("array<string>"),
        (acc, x) => when(
          get(acc, size(acc) - 1) === mlLit && x === mrLit,
          concat(slice(acc, lit(1), size(acc) - 1),
            array(concat(mlLit, mrLit))))
          .otherwise(concat(acc, array(x))))
      vocab = ckpt(vocab.select(col("word"), folded.as("syms"), col("wc")))
    }
    // merge table from the collected rows: one local relation (bounded:
    // numMerges rows) instead of a union of checkpointed 1-row frames.
    // Explicit schema so the dumped parquet matches the old union shape
    // exactly (merge_rank non-nullable from lit(k); left/right/
    // pair_count nullable from the agg/union).
    import org.apache.spark.sql.types.{LongType, StringType, StructField,
      StructType}
    val mergeSchema = StructType(Seq(
      StructField("merge_rank", LongType, nullable = false),
      StructField("left", StringType, nullable = true),
      StructField("right", StringType, nullable = true),
      StructField("pair_count", LongType, nullable = true)))
    import scala.jdk.CollectionConverters._
    val merges = spark.createDataFrame(
      bests.result().filter(_._4 >= 0)
        .map { case (k, l, r, c) =>
          org.apache.spark.sql.Row(k, l, r, c) }.asJava,
      mergeSchema)
    (merges, vocab)
  }

  /** Apply a learned segmentation: per-doc word and subword totals under
    * `vocab` (the second half of [[bpeMerges]]'s result). The vocab side
    * broadcasts (it is vocabulary-sized); the corpus never shuffles —
    * words explode narrowly, join against the broadcast, and partial-agg
    * back to one row per doc. Words unseen at training time fall back to
    * character count + 1 (their untrained segmentation). */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame): DataFrame =
    docs
      .select(col(idCol), explode(split(trim(col(textCol)), "\\s+"))
        .as("word"))
      .filter(length(col("word")) > 0)
      .join(broadcast(vocab.select(col("word"),
        size(col("syms")).as("_len"))), Seq("word"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("_len"), length(col("word")) + lit(1)))
          .as("n_subwords"))

  // ------------------------------------------------------------------
  // Unigram-LM tokenizer (SentencePiece-style) — the OTHER standard
  // subword inducer beside BPE: pieces carry probabilities and a word
  // segments as the Viterbi (min −ln p) path over its substrings,
  // rather than by replaying greedy merges. Same structural scaling
  // discipline as [[bpeMerges]]: every stage after the one corpus scan
  // is VOCABULARY-sized — the candidate table, the EM counts, and the
  // per-distinct-word Viterbi all live on (word, wc); the corpus never
  // shuffles. The Viterbi DP itself is a codegen `aggregate` fold over
  // character positions (array-of-struct accumulator, L-way unrolled
  // relaxation, second fold for the backtrack) — no UDF.
  // ------------------------------------------------------------------

  /** Candidate piece vocabulary for the unigram LM: every substring of
    * length 1..`maxPieceLen` of every corpus word, occurrence-weighted
    * by word count (a substring occurring twice in one word counts
    * twice), then the top `maxVocab` multi-character pieces by
    * (freq desc, piece asc — a total order) PLUS every single
    * character unconditionally (single chars keep segmentation total,
    * the SentencePiece invariant). Fully SQL-expressible — the oracle
    * rebuilds it exactly.
    *
    * Scale notes (100 TB): substring explosion runs on the DISTINCT
    * word table (≤ len·L pieces per word); the top-V is
    * TakeOrderedAndProject (per-partition top-V, no full sort).
    *
    * @return (`piece`, `freq`) */
  def unigramCandidates(docs: DataFrame, textCol: String,
      maxPieceLen: Int = 4, minFreq: Long = 2L,
      maxVocab: Int = 4096): DataFrame =
    unigramCandidatesFromWords(
      docs
        .select(explode(split(trim(col(textCol)), "\\s+")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("wc")),
      maxPieceLen, minFreq, maxVocab)

  /** [[unigramCandidates]] from an existing (word, wc) table — the
    * unigram inducer's serving path off the [[WordStore]]; the
    * one-shot routes through it so a maintained table seeds an
    * identical candidate vocabulary. */
  def unigramCandidatesFromWords(words: DataFrame,
      maxPieceLen: Int = 4, minFreq: Long = 2L,
      maxVocab: Int = 4096): DataFrame = {
    require(maxPieceLen >= 1 && maxPieceLen <= 8,
      s"maxPieceLen must be in [1, 8] (got $maxPieceLen)")
    require(minFreq >= 1L && maxVocab >= 1, "minFreq/maxVocab >= 1")
    val subs = flatten(transform(
      sequence(lit(1), length(col("word"))),
      s => transform(
        sequence(lit(1),
          least(lit(maxPieceLen), length(col("word")) - s + 1)),
        l => col("word").substr(s, l))))
    val pieces = words
      .select(explode(subs).as("piece"), col("wc"))
      .groupBy("piece").agg(sum("wc").as("freq"))
    val multi = pieces
      .filter(length(col("piece")) > 1 && col("freq") >= minFreq)
      .orderBy(col("freq").desc, col("piece"))
      .limit(maxVocab)
    pieces.filter(length(col("piece")) === 1).unionByName(multi)
  }

  /** Viterbi-segment the DISTINCT words of `words` (`word`, `wc`)
    * under a piece cost table: min total cost over all segmentations
    * into vocabulary pieces of length ≤ `maxPieceLen`; COST TIES keep
    * the SHORTER piece at the boundary (the relaxation scans l = 1..L
    * and replaces only on strictly smaller cost — deterministic and
    * partitioning-invariant). Single characters absent from the vocab
    * cost `unkCost` (segmentation stays TOTAL on unseen alphabets —
    * the SentencePiece invariant, priced like a one-occurrence piece).
    *
    * Pure expression DP — the [[bpeMerges]] fold discipline pushed to
    * dynamic programming: forward pass folds positions into an
    * array<struct<cost, back>> accumulator with an L-way unrolled
    * relaxation; the backtrack folds again, jumping `back` chars per
    * step. Runs on the distinct-word frame with the cost map
    * broadcast as ONE map-typed row.
    *
    * @return (`word`, `wc`, `pieces` array, `cost` double) */
  def viterbiSegment(words: DataFrame, vocabCosts: DataFrame,
      maxPieceLen: Int = 4): DataFrame = {
    require(maxPieceLen >= 1 && maxPieceLen <= 8,
      s"maxPieceLen must be in [1, 8] (got $maxPieceLen)")
    val vmapRow = vocabCosts.agg(
      map_from_arrays(collect_list(col("piece")),
        collect_list(col("cost").cast("double"))).as("_vmap"))
    // unk cost: one more than the worst vocab cost — any in-vocab
    // piece is preferred, unseen chars stay finite and total (the
    // coalesce covers a degenerate empty vocab)
    val unkRow = vocabCosts.agg(
      coalesce(max(col("cost").cast("double")) + lit(1.0), lit(1.0))
        .as("_unk"))
    val dpStep: (org.apache.spark.sql.Column, org.apache.spark.sql.Column)
        => org.apache.spark.sql.Column = (acc, i) => {
      val cands = (1 to maxPieceLen).map { l =>
        val prev = element_at(acc, i - lit(l) + 1)
        val raw = element_at(col("_vmap"),
          col("word").substr(i - lit(l) + 1, lit(l)))
        val pieceCost =
          if (l == 1) coalesce(raw, col("_unk")) else raw
        when(i >= lit(l) && pieceCost.isNotNull && prev.isNotNull,
          struct((prev.getField("cost") + pieceCost).as("cost"),
            lit(l).as("back")))
          .otherwise(lit(null))
      }
      val best = cands.reduce((a, b) =>
        when(a.isNull, b)
          .when(b.isNull, a)
          .when(b.getField("cost") < a.getField("cost"), b)
          .otherwise(a))
      concat(acc, array(best))
    }
    val dp = aggregate(
      sequence(lit(1), length(col("word"))),
      array(struct(lit(0.0).as("cost"), lit(0).as("back"))),
      dpStep)
    val back = aggregate(
      sequence(lit(1), length(col("word"))),
      struct(length(col("word")).as("pos"),
        array().cast("array<string>").as("pieces")),
      (acc, _) => {
        val pos = acc.getField("pos")
        val l = element_at(col("_dp"), pos + 1).getField("back")
        when(pos > 0, struct(
          (pos - l).as("pos"),
          concat(array(col("word").substr(pos - l + 1, l)),
            acc.getField("pieces")).as("pieces")))
          .otherwise(acc)
      })
    words
      .crossJoin(broadcast(vmapRow))
      .crossJoin(broadcast(unkRow))
      .withColumn("_dp", dp)
      .select(col("word"), col("wc"),
        back.getField("pieces").as("pieces"),
        element_at(col("_dp"), length(col("word")) + 1)
          .getField("cost").as("cost"))
  }

  /** Hard-EM unigram-LM training (the SentencePiece estimator with
    * Viterbi counts instead of full forward–backward): initialize
    * piece counts from [[unigramCandidates]] frequencies, then each
    * round (1) prices pieces at `cost = ln(total) − ln(count)`
    * (−ln p, StrictMath doubles — the engine's `log`), (2) Viterbi-
    * segments the distinct words, (3) re-estimates counts from the
    * segmentation with add-one smoothing (every piece stays alive and
    * priced — hard-EM zeroes would otherwise lock pieces out
    * permanently). Counts monotonically concentrate on reused pieces;
    * rounds are bounded, not a fixpoint probe (the standard EM
    * practice).
    *
    * Scale notes (100 TB): every round is vocabulary-sized — the cost
    * map is ONE map-typed broadcast row, the segmentation runs on
    * distinct words, the re-count is one explode + partial agg.
    *
    * @return final (`piece`, `count`, `cost`) */
  def unigramTrain(docs: DataFrame, textCol: String, rounds: Int = 3,
      maxPieceLen: Int = 4, minFreq: Long = 2L, maxVocab: Int = 4096,
      ckpt: Checkpointer = Checkpointer.Local): DataFrame = {
    require(rounds >= 1 && rounds <= 16,
      s"rounds must be in [1, 16] (got $rounds)")
    val words = ckpt(docs
      .select(explode(split(trim(col(textCol)), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("wc")))
    var vocab = ckpt(unigramCandidates(docs, textCol, maxPieceLen,
      minFreq, maxVocab).withColumnRenamed("freq", "count"))
    for (_ <- 1 to rounds) {
      val priced = withCosts(vocab)
      val seg = viterbiSegment(words, priced, maxPieceLen)
      val counts = seg
        .select(explode(col("pieces")).as("piece"), col("wc"))
        .groupBy("piece").agg(sum("wc").as("_n"))
      vocab = ckpt(vocab.select("piece")
        .join(counts, Seq("piece"), "left")
        .select(col("piece"),
          (coalesce(col("_n"), lit(0L)) + 1L).as("count")))
    }
    withCosts(vocab)
  }

  /** Price a (`piece`, `count`) vocab: `cost = ln(Σcount) − ln(count)`
    * (= −ln p), via the engine's StrictMath `log` so JVM twins can
    * reproduce costs bit-for-bit. */
  def withCosts(vocab: DataFrame): DataFrame = {
    val total = vocab.agg(sum(col("count")).as("_t"))
    vocab.crossJoin(broadcast(total))
      .select(col("piece"), col("count"),
        (log(col("_t").cast("double")) -
          log(col("count").cast("double"))).as("cost"))
  }

  /** Apply a trained unigram vocab: per-doc word/piece totals and the
    * summed Viterbi cost (the corpus "encoding cost" a tokenizer
    * comparison reads). The distinct words segment ONCE and broadcast
    * back — the [[bpeEncode]] discipline; the corpus never shuffles.
    *
    * @return (`idCol`, `n_words`, `n_pieces`, `cost` double) */
  def unigramEncode(docs: DataFrame, idCol: String, textCol: String,
      vocabCosts: DataFrame, maxPieceLen: Int = 4): DataFrame = {
    val docWords = docs
      .select(col(idCol), explode(split(trim(col(textCol)), "\\s+"))
        .as("word"))
      .filter(length(col("word")) > 0)
    val seg = viterbiSegment(
      docWords.groupBy("word").agg(count(lit(1)).as("wc")),
      vocabCosts, maxPieceLen)
    docWords
      .join(broadcast(seg.select(col("word"),
        size(col("pieces")).as("_np"), col("cost").as("_c"))),
        Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("_np")).cast("long").as("n_pieces"),
        sum(col("_c")).as("cost"))
  }
}
