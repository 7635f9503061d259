package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Checkpointer
import graft.functions.VectorFunctions

/** Large-scale document deduplication — the LLM-data-pipeline operator set
  * (BASELINE.json north_star), designed shuffle-minimal for 100 TB:
  *
  *  - exact: one hash-groupBy on a 256-bit content hash (never groups on the
  *    raw text, so shuffle rows are tiny regardless of document size);
  *  - MinHash+LSH: shingle → k seeded min-hashes (one explode + one
  *    groupBy), band → bucket-join so candidate generation never goes
  *    quadratic; verification re-computes exact Jaccard only on candidates;
  *  - SimHash: 64-bit signed-projection fingerprint, near-dups = small
  *    Hamming distance within LSH buckets;
  *  - embedding near-dup: cosine over hyperplane-bucketed candidates.
  *
  * All stages are DataFrame-native (explode/groupBy/join) — no RDDs, no
  * driver-side state — so they scale with the cluster. The only quadratic
  * work ever done is within an LSH bucket, which the band structure keeps
  * small.
  */
object Dedup {

  /** X1: exact dedup. Keeps the lowest-id row per identical content; emits
    * (keeper id, content hash, group size). `idCol` must be unique. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("content_sha256"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_dups"))

  /** Whitespace-token shingles of size `n` as an array column (empty array
    * for texts shorter than `n` tokens). Codegen'd custom expression —
    * see [[graft.functions.TokenShingles]]. */
  def shingles(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(
      graft.functions.TokenShingles(ColumnShim.expression(text), n))
  }

  /** k seeded min-hashes of a shingle set: minhash_i = min over shingles of
    * xxhash64(i, shingle), computed by the one-pass
    * [[graft.functions.MinHashSignature]] codegen kernel — a NARROW map
    * (no explode, no aggregation, no exchange). Bit-identical hashes to
    * the explode + k-column min-aggregation formulation; whole-stage
    * codegen's subexpression elimination evaluates the kernel once per row
    * however many `mh_i` columns the projection reads. (A higher-order
    * `array_min(transform(...))` formulation was also tried and lost 2.3×:
    * HOFs are CodegenFallback.)
    *
    * Docs with fewer than `shingleSize` tokens, and docs with NULL text,
    * produce no row (same as the aggregation formulation, where they had
    * no group). Tokens are maximal runs of non-`\s` characters — the same
    * definition the `token_count_ws` pre-filter counts with, so the filter
    * exactly predicts signature presence. One deliberate divergence from
    * the old formulation: with `shingleSize = 1`, empty/whitespace-only
    * text used to emit a signature over the single empty-string shingle —
    * it is now excluded, so blank boilerplate can never band together as
    * "near duplicates" of each other on hash(""). */
  def minhashSignatures(
      df: DataFrame, textCol: String, idCol: String,
      numHashes: Int, shingleSize: Int): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnShim
    val sig = ColumnShim.column(graft.functions.MinHashSignature(
      ColumnShim.expression(col(textCol)), shingleSize, numHashes))
    // cheap token-count pre-filter (one fused profile scan) so the k-hash
    // kernel below runs exactly once per surviving row — filtering on
    // size(sig) instead would re-evaluate the kernel in the filter
    df.filter(col(textCol).isNotNull &&
        graft.functions.GraftFunctions.token_count_ws(col(textCol))
          >= shingleSize)
      .select(col(idCol) +: (0 until numHashes).map(i =>
        element_at(sig, i + 1).as(s"mh_$i")): _*)
  }

  /** LSH banding: signature of `numHashes` rows split into `bands` bands of
    * r = numHashes/bands hashes; docs sharing any band-hash become
    * candidates. Returns candidate pairs (id_a < id_b) with no duplicates.
    *
    * Pair generation is bucket-local: one groupBy on the band hash, then
    * each bucket expands its own id list into ordered pairs. This evaluates
    * the signature pipeline ONCE (a self-join would compute it for both
    * sides — no exchange reuse across differently-aliased projections) and
    * shuffles only (bandkey, id) rows on uniformly-distributed hash keys.
    * Bucket sizes stay tiny for non-dup corpora, so the in-bucket pair
    * expansion never goes quadratic on healthy data. */
  /** (bandkey, id) rows for the LSH banding — shared by candidate
    * generation and the overflow report. */
  private def bandedKeys(signatures: DataFrame, idCol: String,
      bands: Int): DataFrame = {
    val mhCols = signatures.columns.filter(_.startsWith("mh_"))
    require(mhCols.length % bands == 0, "bands must divide numHashes")
    val r = mhCols.length / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(mhCols.slice(b * r, (b + 1) * r).map(col).toIndexedSeq: _*)
          .as("bh")).as(s"_band_$b")
    }
    signatures
      .select(col(idCol) +: bandCols: _*)
      .select(col(idCol), explode(array((0 until bands).map(b =>
        col(s"_band_$b")): _*)).as("bandkey"))
  }

  /** Buckets larger than `maxBucketSize` are DROPPED from pair expansion:
    * a degenerate corpus (millions of identical boilerplate docs) would
    * otherwise put one giant id list in one task — OOM plus a quadratic
    * explode. Oversized buckets mean the docs are so similar that exact
    * dedup ([[exact]]) or a re-shingle catches them; the drop is surfaced
    * via [[minhashBucketOverflow]], never silent. */
  def minhashCandidates(signatures: DataFrame, idCol: String, bands: Int,
      maxBucketSize: Int = 1000): DataFrame =
    expandBuckets(bandedKeys(signatures, idCol, bands), idCol, maxBucketSize)

  /** Bucket-local ordered-pair expansion shared by the xxhash64 and
    * portable banding paths: (bandkey, id) rows → distinct (id_a < id_b)
    * candidate pairs, oversized buckets dropped (see [[minhashCandidates]]
    * scaladoc for why the cap is safe and how drops surface). */
  private def expandBuckets(keys: DataFrame, idCol: String,
      maxBucketSize: Int): DataFrame = {
    val buckets = keys
      .groupBy(col("bandkey"))
      .agg(collect_list(col(idCol)).as("_ids"))
      .filter(size(col("_ids")) > 1 && size(col("_ids")) <= maxBucketSize)
      .select(array_sort(col("_ids")).as("_ids"))
    buckets
      .select(explode(flatten(transform(col("_ids"), (x, i) =>
        transform(slice(col("_ids"), i + 2, size(col("_ids"))),
          y => struct(x.as("id_a"), y.as("id_b")))))).as("_p"))
      .select(col("_p.id_a"), col("_p.id_b"))
      .distinct()
  }

  /** Overflow side-channel for [[minhashCandidates]]: one row per bucket
    * whose size exceeded `maxBucketSize` (band index + member count), via a
    * count-only aggregation that never materializes the id lists. */
  def minhashBucketOverflow(signatures: DataFrame, idCol: String, bands: Int,
      maxBucketSize: Int = 1000): DataFrame =
    bandedKeys(signatures, idCol, bands)
      .groupBy(col("bandkey"))
      .agg(count(lit(1)).as("n_ids"))
      .filter(col("n_ids") > maxBucketSize)
      .select(col("bandkey.band").as("band"), col("n_ids"))

  /** Exact Jaccard similarity between the shingle SETS of two texts. */
  def jaccard(aText: Column, bText: Column, shingleSize: Int): Column = {
    val sa = array_distinct(shingles(aText, shingleSize))
    val sb = array_distinct(shingles(bText, shingleSize))
    val inter = size(array_intersect(sa, sb))
    val uni = size(array_union(sa, sb))
    when(uni === 0, lit(0.0)).otherwise(inter.cast("double") / uni)
  }

  /** X2 end-to-end: MinHash-LSH candidates verified with exact Jaccard ≥
    * `threshold`. Output: (id_a, id_b, jaccard). */
  def minhashNearDups(
      df: DataFrame, textCol: String, idCol: String,
      threshold: Double, numHashes: Int = 16, bands: Int = 4,
      shingleSize: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    val sigs = minhashSignatures(df, textCol, idCol, numHashes, shingleSize)
    val cands = minhashCandidates(sigs, idCol, bands, maxBucketSize)
    val docs = df.select(col(idCol), col(textCol))
    cands
      .join(docs.withColumnsRenamed(Map(idCol -> "id_a", textCol -> "_ta")),
        Seq("id_a"))
      .join(docs.withColumnsRenamed(Map(idCol -> "id_b", textCol -> "_tb")),
        Seq("id_b"))
      .withColumn("jaccard",
        jaccard(col("_ta"), col("_tb"), shingleSize))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  // ---- engine-portable MinHash (audit mode) ----------------------------
  // Same LSH pipeline as minhashNearDups, but every hash is re-derivable
  // from the SQL-standard surface of any engine (md5 — see
  // graft.functions.PortableHash): base h = md5-48(shingle) mod P31, then
  // k Carter–Wegman permutations (a_i·h + b_i) mod P31. An auditor (or the
  // correctness oracle) can therefore recompute signatures, bands, and the
  // final pair set bit-identically in DuckDB/Trino/anything. The xxhash64
  // one-pass kernel stays the default — this path pays an explode + a
  // shuffle on id + md5 per shingle, worth it only when cross-engine
  // reproducibility is the point.

  /** 2^31 − 1 (prime): the permutation modulus. Products stay < 2^62, so
    * the arithmetic is exact in any engine's checked 64-bit integers. */
  val PortableP: Long = 2147483647L

  /** Seed-derived Carter–Wegman coefficients (a_i ∈ [1, P−1], b_i ∈
    * [0, P−1]) — shared by the Spark path and the generated oracle SQL. */
  def portableCoeffs(numHashes: Int, seed: Long): Seq[(Long, Long)] =
    (0 until numHashes).map { i =>
      val a = graft.functions.PortableHash.hash48(s"a$i", seed) %
        (PortableP - 1) + 1
      val b = graft.functions.PortableHash.hash48(s"b$i", seed) % PortableP
      (a, b)
    }

  /** [[minhashSignatures]], portable mode: same (id, mh_0..mh_{k−1})
    * schema, same no-row rule for docs with < shingleSize tokens. The
    * affine permutations are NOT monotone in h (mod P31 wraps), so the k
    * minima land on different shingles — the property banding relies on.
    * Computed by the one-pass [[graft.functions.MinHashSignaturePortable]]
    * kernel (MD5 per shingle in place — ~2× the hash cost of the
    * xxhash64 default, zero extra shuffles; the previous explode +
    * k-column min-aggregation shuffled every shingle hash). */
  def minhashSignaturesPortable(
      df: DataFrame, textCol: String, idCol: String,
      numHashes: Int, shingleSize: Int, seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnShim
    df.filter(col(textCol).isNotNull)
      .select(col(idCol),
        ColumnShim.column(graft.functions.MinHashSignaturePortable(
          ColumnShim.expression(col(textCol)), shingleSize, numHashes,
          seed)).as("_sig"))
      .filter(size(col("_sig")) === numHashes)
      .select(col(idCol) +: (0 until numHashes).map(i =>
        element_at(col("_sig"), i + 1).as(s"mh_$i")): _*)
  }

  /** Portable banded keys: the band SIGNATURE ITSELF as a string
    * ("band:mh,mh,..."), not an xxhash64 of it — strings any engine can
    * rebuild. Key size is r longs rendered as text; fine for audit mode. */
  private def bandedKeysPortable(signatures: DataFrame, idCol: String,
      bands: Int): DataFrame = {
    val mhCols = signatures.columns.filter(_.startsWith("mh_"))
    require(mhCols.length % bands == 0, "bands must divide numHashes")
    val r = mhCols.length / bands
    val bandCols = (0 until bands).map { b =>
      concat_ws(":", lit(b) +:
        mhCols.slice(b * r, (b + 1) * r).map(col).toIndexedSeq: _*)
        .as(s"_band_$b")
    }
    signatures
      .select(col(idCol) +: bandCols: _*)
      .select(col(idCol), explode(array((0 until bands).map(b =>
        col(s"_band_$b")): _*)).as("bandkey"))
  }

  /** [[minhashCandidates]] over portable banded keys. */
  def minhashCandidatesPortable(signatures: DataFrame, idCol: String,
      bands: Int, maxBucketSize: Int = 1000): DataFrame =
    expandBuckets(bandedKeysPortable(signatures, idCol, bands), idCol,
      maxBucketSize)

  /** [[minhashBucketOverflow]] over portable banded keys (band index is
    * the key's prefix). */
  def minhashBucketOverflowPortable(signatures: DataFrame, idCol: String,
      bands: Int, maxBucketSize: Int = 1000): DataFrame =
    bandedKeysPortable(signatures, idCol, bands)
      .groupBy(col("bandkey"))
      .agg(count(lit(1)).as("n_ids"))
      .filter(col("n_ids") > maxBucketSize)
      .select(split(col("bandkey"), ":").getItem(0).cast("int").as("band"),
        col("n_ids"))

  /** X2, portable mode: candidates from portable LSH, verified with the
    * same exact Jaccard. Output: (id_a, id_b, jaccard). */
  def minhashNearDupsPortable(
      df: DataFrame, textCol: String, idCol: String,
      threshold: Double, numHashes: Int = 16, bands: Int = 4,
      shingleSize: Int = 3, maxBucketSize: Int = 1000,
      seed: Long = 42L): DataFrame = {
    val sigs = minhashSignaturesPortable(df, textCol, idCol, numHashes,
      shingleSize, seed)
    val cands = minhashCandidatesPortable(sigs, idCol, bands, maxBucketSize)
    val docs = df.select(col(idCol), col(textCol))
    cands
      .join(docs.withColumnsRenamed(Map(idCol -> "id_a", textCol -> "_ta")),
        Seq("id_a"))
      .join(docs.withColumnsRenamed(Map(idCol -> "id_b", textCol -> "_tb")),
        Seq("id_b"))
      .withColumn("jaccard",
        jaccard(col("_ta"), col("_tb"), shingleSize))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** LSH BANDING-TUNING audit — measure, don't guess, which
    * (bands, rowsPerBand) split of the signature budget to run at
    * 100 TB: for each candidate configuration over ONE shared
    * portable-signature pass, the MEASURED candidate-pair count (the
    * shuffle/verify bill the banding sends downstream), the verified
    * count at the target Jaccard threshold, the precision, and the
    * THEORETICAL S-curve candidate probability at the threshold,
    * `P = 1 − (1 − t^r)^b`, computed by repeated multiplication with
    * a fixed fold order (no `pow` — libm pow is not reproducible
    * across engines; a left-folded product of the same doubles is).
    * More bands (smaller r) moves the S-curve left: more candidates,
    * higher recall, lower precision — this report quantifies the
    * trade on the actual corpus.
    *
    * Scale notes (100 TB): signatures compute ONCE (the expensive
    * shingle/MD5 pass) and are pinned; per configuration the banding
    * is one narrow explode + bucket groupBy, and the verify joins
    * fetch text only for candidate ids. The report is
    * configurations-sized.
    *
    * @return one row per configuration: (bands, rows_per_band,
    *         n_candidates, n_verified, precision_e6,
    *         p_candidate_at_t_e6) */
  def bandingAudit(df: DataFrame, textCol: String, idCol: String,
      threshold: Double, bandsList: Seq[Int], numHashes: Int = 16,
      shingleSize: Int = 3, maxBucketSize: Int = 1000,
      seed: Long = 42L): DataFrame = {
    val sigs = minhashSignaturesPortable(df, textCol, idCol, numHashes,
      shingleSize, seed).localCheckpoint()
    bandingAuditFromSigs(sigs, df, textCol, idCol, threshold,
      bandsList, numHashes, shingleSize, maxBucketSize)
  }

  /** [[bandingAudit]] over PRE-COMPUTED portable signatures — the
    * share-one-pass entry [[autoTunedNearDups]] rides so audit and
    * serving never re-shingle the corpus. */
  private[graft] def bandingAuditFromSigs(sigs: DataFrame,
      df: DataFrame, textCol: String, idCol: String,
      threshold: Double, bandsList: Seq[Int], numHashes: Int,
      shingleSize: Int, maxBucketSize: Int): DataFrame = {
    // input validation lives HERE so every entry — bandingAudit and
    // autoTunedNearDups — fails loudly with the same messages (an
    // empty bandsList would otherwise die in reduce() with an opaque
    // UnsupportedOperationException, and duplicate band counts would
    // silently double audit rows)
    require(bandsList.nonEmpty && bandsList.distinct.size ==
      bandsList.size, "bandsList must be non-empty and distinct")
    bandsList.foreach(b => require(b >= 1 && numHashes % b == 0,
      s"bands $b must divide numHashes $numHashes"))
    require(threshold > 0.0 && threshold <= 1.0,
      "threshold must be in (0, 1]")
    val docs = df.select(col(idCol), col(textCol))
    bandsList.map { b =>
      val r = numHashes / b
      val cands = minhashCandidatesPortable(sigs, idCol, b,
        maxBucketSize)
      val verified = cands
        .join(docs.withColumnsRenamed(
          Map(idCol -> "id_a", textCol -> "_ta")), Seq("id_a"))
        .join(docs.withColumnsRenamed(
          Map(idCol -> "id_b", textCol -> "_tb")), Seq("id_b"))
        .withColumn("_j", jaccard(col("_ta"), col("_tb"), shingleSize))
      // S-curve at the threshold: left-folded products, the exact
      // association the oracle's generated expression mirrors
      var tr = 1.0
      var i = 0
      while (i < r) { tr = tr * threshold; i += 1 }
      var q = 1.0
      val z = 1.0 - tr
      i = 0
      while (i < b) { q = q * z; i += 1 }
      val pTheory = 1.0 - q
      verified.agg(
          count(lit(1)).as("n_candidates"),
          coalesce(sum(when(col("_j") >= threshold, 1L)
            .otherwise(0L)), lit(0L)).as("n_verified"))
        .select(lit(b.toLong).as("bands"),
          lit(r.toLong).as("rows_per_band"),
          col("n_candidates"), col("n_verified"),
          when(col("n_candidates") > 0L,
            floor(col("n_verified").cast("double") /
              col("n_candidates") * 1e6 + 0.5).cast("long"))
            .otherwise(lit(0L)).as("precision_e6"),
          lit(math.floor(pTheory * 1e6 + 0.5).toLong)
            .as("p_candidate_at_t_e6"))
    }.reduce(_.unionByName(_))
  }

  /** AUTO-TUNED near-dedup — close the measure→act loop on
    * [[bandingAudit]] (the `autoRebatch` discipline: the knob is
    * chosen by MEASUREMENT, not folklore): audit every candidate
    * banding over ONE shared signature pass, pick the configuration
    * by a deterministic rule against the caller's candidate BUDGET
    * (the downstream verify bill a 100 TB run must cap), then serve
    * the near-dup pairs at the chosen banding from the SAME pinned
    * signatures.
    *
    * Decision rule (a pure argmin over the audit table — fully
    * oracle-replayable): among configurations whose measured
    * `n_candidates` fits `candidateBudget`, take the highest
    * `n_verified` (the recall proxy; more true pairs surfaced), ties
    * → fewer candidates, then fewer bands; if NO configuration fits,
    * fall back to the cheapest (`n_candidates`, then bands) — the
    * conservative degradation, never a silent budget blow-through.
    *
    * Scale notes (100 TB): one shingle/MD5 pass total; the audit adds
    * one narrow banding + bucket groupBy per configuration; the
    * choice is a configurations-sized driver fetch (≤ numHashes rows
    * — the bounded-fetch discipline); serving re-bands the pinned
    * signatures once at the winner.
    *
    * @return (bands, id_a, id_b, jaccard) — the winning banding on
    *         every row so the choice audits with the pairs */
  def autoTunedNearDups(df: DataFrame, textCol: String, idCol: String,
      threshold: Double, bandsList: Seq[Int], candidateBudget: Long,
      numHashes: Int = 16, shingleSize: Int = 3,
      maxBucketSize: Int = 1000, seed: Long = 42L): DataFrame = {
    require(candidateBudget >= 0L, "candidateBudget must be >= 0")
    val sigs = minhashSignaturesPortable(df, textCol, idCol, numHashes,
      shingleSize, seed).localCheckpoint()
    val audit = bandingAuditFromSigs(sigs, df, textCol, idCol,
      threshold, bandsList, numHashes, shingleSize, maxBucketSize)
    // configurations-sized fetch: (bands, n_candidates, n_verified)
    val rows = audit.select("bands", "n_candidates", "n_verified")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val within = rows.filter(_._2 <= candidateBudget)
    val chosen =
      if (within.nonEmpty)
        within.minBy { case (b, nc, nv) => (-nv, nc, b) }
      else rows.minBy { case (b, nc, _) => (nc, b) }
    val bChosen = chosen._1.toInt
    val cands = minhashCandidatesPortable(sigs, idCol, bChosen,
      maxBucketSize)
    val docs = df.select(col(idCol), col(textCol))
    cands
      .join(docs.withColumnsRenamed(
        Map(idCol -> "id_a", textCol -> "_ta")), Seq("id_a"))
      .join(docs.withColumnsRenamed(
        Map(idCol -> "id_b", textCol -> "_tb")), Seq("id_b"))
      .withColumn("jaccard",
        jaccard(col("_ta"), col("_tb"), shingleSize))
      .filter(col("jaccard") >= threshold)
      .select(lit(chosen._1).as("bands"), col("id_a"), col("id_b"),
        col("jaccard"))
  }

  /** SimHash 64-bit fingerprint: per token-hash bit b, sum ±1 across the
    * document's tokens; bit b of the fingerprint is 1 iff the sum is
    * positive. Computed by the one-pass [[graft.functions.SimHash64]]
    * codegen kernel — a NARROW per-row map: the token stream never
    * materializes, nothing shuffles, and the whole fingerprint stage
    * disappears from the exchange graph (the previous explode + 64-column
    * hash-aggregation formulation shuffled one 64-column row per doc per
    * partition; same fingerprints, one less shuffle). */
  def simhash64(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnShim
    // null-text docs are dropped (the aggregation formulation had no
    // group for them — emitting (id, null) would feed wasted band work);
    // token-less text fingerprints as 0L (the old path hashed the single
    // empty token from split(trim("")) instead — 0 is the saner "no
    // content" fingerprint and still groups blanks together)
    df.filter(col(textCol).isNotNull)
      .select(col(idCol),
        ColumnShim.column(graft.functions.SimHash64(
          ColumnShim.expression(col(textCol)))).as("simhash"))
  }

  /** [[simhash64]], engine-portable audit mode: a 48-bit fingerprint whose
    * per-token hash is the SQL-rebuildable md5-48
    * ([[graft.functions.PortableHash]]), so an auditor (or the correctness
    * oracle) can recompute every fingerprint — and therefore every
    * near-dup pair — bit-identically in DuckDB/Trino/anything. Bit j of
    * the fingerprint is 1 iff the ±1 vote sum over whitespace-token
    * OCCURRENCES (multiplicity counts, same as the kernel) is positive.
    *
    * Same narrow one-pass kernel shape as the default (MD5 per token in
    * place — [[graft.functions.TextKernels.simHash48Portable]]; ~2× the
    * hash cost of xxhash64, zero extra shuffles). Null-text docs are
    * dropped; docs with no non-empty token fingerprint as 0L (both rules
    * shared with [[simhash64]]). Output: (idCol, `simhash`) —
    * band-compatible with [[simhashNearDups]]; pass `bits = 48` there so
    * the always-zero high bits don't band into degenerate buckets. */
  def simhash48Portable(df: DataFrame, textCol: String, idCol: String,
      seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnShim
    df.filter(col(textCol).isNotNull)
      .select(col(idCol),
        ColumnShim.column(graft.functions.SimHash48Portable(
          ColumnShim.expression(col(textCol)), seed)).as("simhash"))
  }

  /** SimHash near-dups: Hamming distance ≤ `maxHamming` between
    * fingerprints. Candidate generation blocks on `maxHamming + 1` bit
    * bands: by pigeonhole, any pair differing in ≤ maxHamming of 64 bits
    * must match EXACTLY in at least one band — so blocking is lossless for
    * the requested radius (a fixed 4-quadrant split only guarantees
    * Hamming ≤ 3 and silently drops wider pairs whose flipped bits spread
    * across all quadrants). Band widths are ⌊bits/(h+1)⌋ with the
    * remainder spread over the leading bands; the join never goes
    * all-pairs.
    *
    * `bits` is the fingerprint width to band over (default 64). Pass the
    * REAL width for narrower fingerprints ([[simhash48Portable]] → 48):
    * banding a 48-bit value over 64 bits puts the always-zero high bits
    * into bands of their own, and an all-identical band is an all-pairs
    * candidate bucket — correct (verify filters it) but quadratic. */
  def simhashNearDups(
      fingerprints: DataFrame, idCol: String, maxHamming: Int = 3,
      materialize: Boolean = true,
      ckpt: Checkpointer = Checkpointer.Local, bits: Int = 64): DataFrame = {
    require(bits >= 2 && bits <= 64, "bits must be in [2, 64]")
    require(maxHamming >= 0 && maxHamming < bits,
      "maxHamming must be in [0, bits)")
    // The band self-join evaluates its input subtree once per side, which
    // recomputes the whole fingerprint pipeline (token explode + 64-column
    // aggregation — the expensive part). Fingerprints are tiny ((id, 64-bit)
    // per doc), so materializing them first makes the join read a cached
    // table twice instead of recomputing — measured ~2× at sf0.1.
    // CAVEATS of the default: the checkpoint runs a Spark job EAGERLY at
    // composition time, and Checkpointer.Local stores the partitions
    // non-fault-tolerantly on executors — on a cluster, losing an executor
    // after the checkpoint fails the job instead of recomputing. Pass
    // Checkpointer.Reliable (with sparkContext.setCheckpointDir) for
    // long-running cluster deployments, or materialize = false to persist
    // the fingerprints yourself.
    val fps =
      if (materialize) ckpt(fingerprints.select(col(idCol), col("simhash")))
      else fingerprints
    val nBands = maxHamming + 1
    val base = bits / nBands
    val rem = bits % nBands
    val bandCols = (0 until nBands).map { b =>
      val off = b * base + math.min(b, rem)
      val width = base + (if (b < rem) 1 else 0)
      val mask = if (width == 64) -1L else (1L << width) - 1
      struct(lit(b).as("q"),
        shiftrightunsigned(col("simhash"), off)
          .bitwiseAND(lit(mask)).as("qv"))
    }
    val bands = fps.select(col(idCol), col("simhash"),
      explode(array(bandCols: _*)).as("band"))
    // Self-join on the band key: the build side broadcasts (band rows are
    // (band, id, fp) — tiny), so the probe side streams with NO shuffle and
    // the whole pairing stays in codegen. This beats a collect_list +
    // higher-order-function bucket expansion by ~5× at sf0.1 even though
    // the fingerprint pipeline is evaluated once per join side — HOFs are
    // CodegenFallback in Spark 4.1 and object-y aggregation buffers lose to
    // two codegen'd hash aggregates. The Hamming filter runs BEFORE the
    // pair-level distinct, so dedup touches only surviving pairs.
    val a = bands.alias("a")
    val b = bands.alias("b")
    a.join(b, col("a.band") === col("b.band") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** N-gram CONTAINMENT over explicit pairs — the subset-duplication
    * signal Jaccard misses: a doc fully embedded in a 10× larger one has
    * Jaccard ≈ 0.1 but containment ≈ 1.0 (Broder's C(A,B) = |A∩B|/|A|).
    * The quote-inclusion / page-wrapper / aggregation-site case every
    * crawl dedup hits. Emits BOTH directions plus the shared-shingle
    * count: (id_a, id_b, n_inter, c_a_in_b, c_b_in_a); docs with no
    * shingles (shorter than the shingle window) yield 0.0, not null.
    * Same narrow shape as [[ngramJaccardPairs]] — two id joins against
    * the pair list, per-row set intersection in codegen. */
  def ngramContainmentPairs(
      pairs: DataFrame, docs: DataFrame, textCol: String, idCol: String,
      shingleSize: Int): DataFrame = {
    val d = docs.select(col(idCol), col(textCol))
    val sa = array_distinct(shingles(col("_ta"), shingleSize))
    val sb = array_distinct(shingles(col("_tb"), shingleSize))
    val inter = size(array_intersect(sa, sb))
    pairs
      .join(d.withColumnsRenamed(Map(idCol -> "id_a", textCol -> "_ta")),
        Seq("id_a"))
      .join(d.withColumnsRenamed(Map(idCol -> "id_b", textCol -> "_tb")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        inter.cast("long").as("n_inter"),
        when(size(sa) === 0, lit(0.0))
          .otherwise(inter.cast("double") / size(sa)).as("c_a_in_b"),
        when(size(sb) === 0, lit(0.0))
          .otherwise(inter.cast("double") / size(sb)).as("c_b_in_a"))
  }

  /** N-gram Jaccard near-dup over explicit pairs (id_a, id_b) — the exact
    * verification kernel exposed standalone (X2 variant). */
  def ngramJaccardPairs(
      pairs: DataFrame, docs: DataFrame, textCol: String, idCol: String,
      shingleSize: Int): DataFrame = {
    val d = docs.select(col(idCol), col(textCol))
    pairs
      .join(d.withColumnsRenamed(Map(idCol -> "id_a", textCol -> "_ta")),
        Seq("id_a"))
      .join(d.withColumnsRenamed(Map(idCol -> "id_b", textCol -> "_tb")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("_ta"), col("_tb"), shingleSize).as("jaccard"))
  }

  /** Blocked A↔B record linkage — the fuzzy complement to the
    * reference's merge-by-id (graph_db_builder.py:493-497 dedups nodes
    * on an exact `id_key`; real source systems disagree on ids, so the
    * classic ETL step links records by BLOCKING on cheap exact keys and
    * scoring the survivors with token-set similarity).
    *
    * Candidates = the equi-join of `left` and `right` on their block
    * keys (positionally paired; a block key is "same nation + same name
    * initial"-style cheap agreement); score = exact token-shingle
    * Jaccard ([[jaccard]]); matches = score ≥ `threshold`. Set
    * `canonicalPairs = true` for self-linkage (left == right) to emit
    * each unordered pair once (`id_l < id_r`) — the fuzzy-dedup mode
    * whose output feeds [[connectedComponents]] exactly like the X2
    * near-dup pair frames.
    *
    * Scale notes (100 TB): the quadratic step is per-block and gated
    * BEFORE it happens — blocks whose `n_left · n_right` exceeds
    * `maxBlockPairs` are EXCLUDED from the join and reported in the
    * second frame (the [[graft.operators.RelPipeline.cooccurrenceEdges]]
    * overflow discipline; a degenerate block key would otherwise emit a
    * cross join). Block sizes partial-agg map-side; the candidate join
    * shuffles on the block key; token SETS are computed once per record
    * before the join, so each pair costs two array ops (intersect +
    * union), not two shingle pipelines — raw text never enters the
    * join at all.
    *
    * @return (matches (`id_l`, `id_r`, `sim`),
    *         overflow (block key cols, `n_left`, `n_right`)). */
  def linkRecords(left: DataFrame, right: DataFrame,
      leftId: String, rightId: String,
      leftText: String, rightText: String,
      leftBlock: Seq[String], rightBlock: Seq[String],
      shingleSize: Int = 1, threshold: Double = 0.5,
      maxBlockPairs: Long = 1000000L,
      canonicalPairs: Boolean = false,
      ckpt: Checkpointer = Checkpointer.Local): (DataFrame, DataFrame) = {
    require(leftBlock.nonEmpty && leftBlock.size == rightBlock.size,
      "leftBlock/rightBlock must be non-empty and positionally paired")
    require(threshold >= 0.0 && threshold <= 1.0,
      s"threshold must be in [0, 1] (got $threshold)")
    require(maxBlockPairs >= 1, "maxBlockPairs must be >= 1")
    val bks = leftBlock.indices.map(i => s"_bk$i")
    // token SETS are computed once per record BEFORE the pair join —
    // the per-pair work is two array ops, not two shingle pipelines
    // (measured 8M-pair blocks: per-pair shingling dominated the join).
    // Checkpointed: each side feeds BOTH its block-size aggregate and
    // the match join — without the cut the scan + shingle subtree runs
    // twice per side (the gatedMembers re-evaluation discipline).
    val l = ckpt(left.select(col(leftId).as("id_l") +:
      array_distinct(shingles(col(leftText), shingleSize)).as("_ta") +:
      leftBlock.zipWithIndex.map { case (c, i) => col(c).as(s"_bk$i") }: _*)
      .filter(bks.map(col(_).isNotNull).reduce(_ && _)))
    // Self-linkage (the q_x2o fuzzy-dedup mode) passes the SAME frame
    // and column names on both sides: the right leg is then the left
    // leg renamed — one shingle materialization instead of two, and
    // the per-block size aggregate runs once (n_left == n_right).
    val selfLink = (left eq right) && leftId == rightId &&
      leftText == rightText && leftBlock == rightBlock
    val r =
      if (selfLink)
        l.withColumnsRenamed(Map("id_l" -> "id_r", "_ta" -> "_tb"))
      else ckpt(right.select(col(rightId).as("id_r") +:
        array_distinct(shingles(col(rightText), shingleSize)).as("_tb") +:
        rightBlock.zipWithIndex.map { case (c, i) =>
          col(c).as(s"_bk$i") }: _*)
        .filter(bks.map(col(_).isNotNull).reduce(_ && _)))
    val sizes =
      if (selfLink)
        l.groupBy(bks.map(col): _*).agg(count(lit(1)).as("n_left"))
          .withColumn("n_right", col("n_left"))
      else l.groupBy(bks.map(col): _*)
        .agg(count(lit(1)).as("n_left"))
        .join(r.groupBy(bks.map(col): _*)
          .agg(count(lit(1)).as("n_right")), bks)
    // overflow frame speaks the CALLER's column names (the docstring's
    // "(block key cols, n_left, n_right)" contract) — the internal _bk*
    // join aliases never escape
    val overflow = sizes
      .filter(col("n_left") * col("n_right") > maxBlockPairs)
      .select(bks.zip(leftBlock).map { case (b, c) => col(b).as(c) } ++
        Seq(col("n_left"), col("n_right")): _*)
    val kept = sizes
      .filter(col("n_left") * col("n_right") <= maxBlockPairs)
      .select(bks.map(col): _*)
    val inter = size(array_intersect(col("_ta"), col("_tb")))
    // |A ∪ B| = |A| + |B| − |A ∩ B| on the already-distinct token sets:
    // same integer as size(array_union(...)) with no per-pair union
    // array allocated on the candidate-pair hot path.
    val uni = size(col("_ta")) + size(col("_tb")) - inter
    val matches = l.join(kept, bks).join(r, bks)
      .filter(if (canonicalPairs) col("id_l") < col("id_r") else lit(true))
      .select(col("id_l"), col("id_r"),
        when(uni === 0, lit(0.0))
          .otherwise(inter.cast("double") / uni).as("sim"))
      .filter(col("sim") >= lit(threshold))
    (matches, overflow)
  }

  /** Connected components over near-dup pairs — the clustering step that
    * turns pairwise matches into dedup decisions (every doc maps to the
    * minimum id reachable through near-dup edges; that min id is the
    * canonical keeper).
    *
    * Iterative min-label propagation with POINTER JUMPING, converging in
    * O(log diameter) rounds instead of O(diameter) — the difference
    * between 10 and 10,000 rounds on a long dup chain. Each round is ONE
    * message pass: every vertex v receives its neighbours' labels (hop
    * messages along the symmetrized edges) and comp(comp(v)) (a pointer
    * jump from comp(v) to v, which is also v's self message: comp(x) ≤ x
    * for every vertex, so the jump never raises a label and at a root it
    * IS v's own label). All messages read the round-start labels through
    * one join and take one `groupBy(to).min`. The new label is
    * min(neighbour labels, comp(comp(v))); at a round that changes
    * nothing, every vertex's label is at most its neighbours' and is
    * itself a member of its component, so the fixpoint is the exact
    * per-component minimum.
    *
    * Pair endpoints outside `vertices` are ignored: the edges are
    * restricted to the vertex set once, inside the edge checkpoint.
    * Labels only ever decrease, so an unchanged sum(comp) certifies the
    * fixpoint; the sum is observed on the round's own checkpoint
    * ([[graft.Checkpointer.observed]]) — one Spark SQL execution per
    * round, no probe query. Hitting `maxIter` unconverged fails fast
    * (half-propagated labels would split components). Lineage is
    * truncated per round with the supplied [[graft.Checkpointer]] (local
    * blocks by default; pass `Checkpointer.Reliable` for fault-tolerant
    * cluster runs). This is the standard large-graph CC shape (cf. the
    * large-star/small-star family) expressed in DataFrames.
    */
  def connectedComponents(vertices: DataFrame, idCol: String,
      pairs: DataFrame, maxIter: Int = 25,
      ckpt: Checkpointer = Checkpointer.Local): DataFrame = {
    // distinct: vertices form a SET. A duplicated vertex id would give
    // the label join a non-unique build key, and every message read
    // through a duplicated id would MULTIPLY each round. One partial-agg
    // here is the cheap insurance.
    var labels = ckpt(
      vertices.select(col(idCol).as("id"), col(idCol).as("comp"))
        .distinct())
    val ids = labels.select("id")
    val edges = ckpt(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(
          pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .distinct()
        .join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
        .join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi"))
    var prevSum = Option.empty[Any]
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val msgs = edges.select(col("src").as("from"), col("dst").as("to"))
        .unionAll(labels.select(col("comp").as("from"), col("id").as("to")))
      // LEFT join: a null id's jump message finds no label and keeps
      // its (null) row
      val (next, row) = ckpt.observed(
        msgs.join(labels.withColumnsRenamed(
            Map("id" -> "from", "comp" -> "_lc")), Seq("from"), "left")
          .groupBy(col("to").as("id")).agg(min(col("_lc")).as("comp")),
        sum(col("comp")))
      val curSum = row.get(0)
      converged = prevSum.contains(curSum)
      prevSum = Some(curSum)
      labels = next
      i += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxIter iterations — " +
        "raise maxIter (component diameter exceeds 2^maxIter after jumps)")
    labels
  }

  /** EXACT incremental maintenance of a [[connectedComponents]]
    * dup-cluster store under newly verified PAIRS — the undirected
    * twin of the incremental-SCC quotient theorem: appended edges only
    * ever MERGE components, and connectivity among old clusters is
    * fully captured by their labels, so projecting the new pairs onto
    * stored labels and running CC on that LABEL-SIZED quotient problem
    * composes to the exact full-recompute answer: new(id) =
    * q(old(id)), bit-identical (labels stay "min member id" — a
    * quotient component's min over old labels, each itself a min of
    * members, IS the global min). Unseen endpoints enter as their own
    * quotient nodes; untouched clusters keep their label verbatim.
    * Per-batch cost is pairs+touched-labels-sized — the accumulated
    * pair table is NEVER re-read (the point at 100 TB).
    *
    * @param newPairs     newly verified (`id_a`, `id_b`) rows
    * @param prevClusters stored (`id`, `comp`)
    * @return refreshed (`id`, `comp`) for prev ∪ new endpoints */
  def incrementalDupClusters(newPairs: DataFrame,
      prevClusters: DataFrame, maxIter: Int = 25,
      ckpt: Checkpointer = Checkpointer.Local): DataFrame = {
    val prev = prevClusters.select(col("id"), col("comp"))
    val p = newPairs.select(col("id_a"), col("id_b"))
    val proj = p
      .join(prev.withColumnsRenamed(Map("id" -> "id_a", "comp" -> "_ca")),
        Seq("id_a"), "left")
      .join(prev.withColumnsRenamed(Map("id" -> "id_b", "comp" -> "_cb")),
        Seq("id_b"), "left")
      .select(coalesce(col("_ca"), col("id_a")).as("id_a"),
        coalesce(col("_cb"), col("id_b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b")).distinct()
    val qverts = proj.select(col("id_a").as("id"))
      .unionAll(proj.select(col("id_b").as("id"))).distinct()
    val qlabels = ckpt(connectedComponents(qverts, "id", proj, maxIter,
      ckpt))
    val composed = prev
      .join(qlabels.select(col("id").as("comp"), col("comp").as("_new")),
        Seq("comp"), "left")
      .select(col("id"), coalesce(col("_new"), col("comp")).as("comp"))
    // brand-new endpoints (a self-pair-only newcomer never reaches the
    // self-loop-filtered quotient — the coalesce keeps it a singleton)
    val newIds = p.select(col("id_a").as("id"))
      .unionAll(p.select(col("id_b").as("id"))).distinct()
      .join(prev.select("id"), Seq("id"), "left_anti")
      .join(qlabels.withColumnRenamed("comp", "_q"), Seq("id"), "left")
      .select(col("id"), coalesce(col("_q"), col("id")).as("comp"))
    composed.unionByName(newIds)
  }

  /** EXACT decremental maintenance of a [[connectedComponents]] dup-
    * cluster store under document TAKEDOWNS — the dedup tier's
    * right-to-erasure path (the decrementalScc refinement discipline,
    * for undirected node deletion): removing a document can SPLIT its
    * cluster (it may have been the bridge between two near-dup
    * families), but any post-delete path between surviving docs stays
    * inside their old cluster (paths never leave a component), so the
    * post-delete clustering is computed exactly by re-running CC on
    * the TOUCHED clusters' members over their internal remaining
    * pairs only — bit-identical to a full recompute over the
    * surviving pair graph (labels stay "min member id", each refined
    * cluster being a subset of its old one). Untouched clusters keep
    * their rows verbatim; deleted docs LEAVE the store (a takedown
    * removes the document, not just an edge); deletes of ids unknown
    * to `prevClusters` are no-ops.
    *
    * Scale notes (100 TB): the deleted-id and touched-cluster frames
    * are takedown-sized and broadcast; the stored pair table — the
    * one corpus-scale input — is scanned once with the anti/semi
    * filters pushed into it (an id-bucketed pair store prunes to the
    * touched buckets); the CC rerun is touched-cluster-sized; the
    * stored cluster frame is touched by one anti-join and one union.
    * Keeper re-election composes downstream: feed the refreshed
    * clusters to [[electKeepers]] and a takedown that removed a
    * keeper elects a survivor.
    *
    * @param pairs        the stored verified near-dup pair table
    *                     (`id_a`, `id_b`) — ground truth
    * @param deletedIds   one column of removed doc ids
    * @param prevClusters stored (`id`, `comp`) from
    *                     [[connectedComponents]]
    * @return refreshed (`id`, `comp`) over the surviving docs */
  def decrementalDupClusters(pairs: DataFrame, deletedIds: DataFrame,
      prevClusters: DataFrame, maxIter: Int = 25,
      ckpt: Checkpointer = Checkpointer.Local): DataFrame = {
    val del = deletedIds.select(col(deletedIds.columns.head).as("id"))
      .distinct().localCheckpoint()
    val prev = prevClusters.select(col("id"), col("comp"))
    // touched clusters: stored components of the deleted ids (inner —
    // unknown ids are no-ops)
    val tc = del.join(prev, Seq("id"))
      .select("comp").distinct().localCheckpoint()
    // surviving members of touched clusters (explicit select — the
    // semi/anti joins move their keys first)
    val members = ckpt(prev
      .join(broadcast(tc), Seq("comp"), "left_semi")
      .join(broadcast(del), Seq("id"), "left_anti")
      .select("id", "comp"))
    // internal remaining pairs: ONE pass over the stored pair table,
    // deleted endpoints dropped, induced on the touched members
    val sub = pairs.select(col("id_a"), col("id_b"))
      .join(broadcast(del.withColumnRenamed("id", "id_a")),
        Seq("id_a"), "left_anti")
      .join(broadcast(del.withColumnRenamed("id", "id_b")),
        Seq("id_b"), "left_anti")
      .join(members.select(col("id").as("id_a")), Seq("id_a"),
        "left_semi")
      .join(members.select(col("id").as("id_b")), Seq("id_b"),
        "left_semi")
      .select("id_a", "id_b")
    val relabeled = connectedComponents(members.select("id"), "id",
      sub, maxIter, ckpt)
    val kept = prev.join(broadcast(tc), Seq("comp"), "left_anti")
      .select("id", "comp")
    kept.unionByName(relabeled.select(col("id"), col("comp")))
  }

  /** End-to-end corpus deduplication — the whole X1/X2/X1b chain as one
    * call: exact dedup (identical bytes), MinHash-LSH near-dup candidates,
    * exact-Jaccard verification, connected-components clustering, and
    * keeper election (minimum id per cluster). Returns the deduplicated
    * corpus plus a decision report.
    *
    * The exact pass runs FIRST and near-dup stages see one representative
    * per identical-content group — a corpus that is 50% verbatim copies
    * (common in web crawls) pays the expensive shingle pipeline on half
    * its rows, and identical docs can never overflow an LSH bucket.
    *
    * @return (deduped corpus — original rows of the elected keepers,
    *          report — (doc_id, keeper_id, reason ∈ exact|near|kept))
    */
  def dedupCorpus(
      df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.8, numHashes: Int = 16, bands: Int = 4,
      shingleSize: Int = 3, maxBucketSize: Int = 1000,
      ckpt: Checkpointer = Checkpointer.Local,
      portable: Boolean = false): DataFrame = {
    // exact groups: map every doc to its group keeper — a window min over
    // the content hash (ONE scan + one shuffle on the hash; the
    // groupBy-then-self-join alternative scans and hashes the corpus twice)
    val exactMap = df
      .select(col(idCol).as("doc_id"), sha2(col(textCol), 256).as("_h"))
      .withColumn("_exact_keeper", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("_h"))))
      .select(col("doc_id"), col("_exact_keeper"))
    val reps = df.join(
      exactMap.filter(col("doc_id") === col("_exact_keeper"))
        .select(col("doc_id").as(idCol)),
      Seq(idCol), "left_semi")
    // near-dup pairs among representatives → clusters → cluster keeper
    // (portable = the md5-48 LSH audit mode — same pipeline, every stage
    // rebuildable in SQL, which is how the q_x1c oracle checks this)
    val pairs = (if (portable)
      minhashNearDupsPortable(reps, textCol, idCol, threshold,
        numHashes, bands, shingleSize, maxBucketSize)
    else
      minhashNearDups(reps, textCol, idCol, threshold,
        numHashes, bands, shingleSize, maxBucketSize))
      .select("id_a", "id_b")
    val comps = connectedComponents(reps.select(col(idCol)), idCol, pairs,
        ckpt = ckpt)
      .select(col("id").as("_rep"), col("comp").as("_near_keeper"))
    // compose: doc → exact keeper → near keeper
    val decisions = exactMap
      .join(comps, col("_exact_keeper") === col("_rep"))
      .select(col("doc_id"),
        col("_near_keeper").as("keeper_id"),
        when(col("doc_id") === col("_near_keeper"), "kept")
          .when(col("doc_id") =!= col("_exact_keeper"), "exact")
          .otherwise("near").as("reason"))
    decisions
  }

  /** Quality-aware keeper election: given ANY cluster assignment
    * ([[dedupCorpus]] decisions, [[connectedComponents]] labels,
    * [[semanticDedup]] cells) plus a per-row score, the keeper of each
    * cluster is its highest-score member (ties → lowest id). Production
    * dedup keeps the BEST copy of a near-duplicate cluster — longest,
    * highest quality-model score, least boilerplate — not the
    * lowest-id one; the min-id convention everywhere else in this file
    * is for deterministic CLUSTER LABELS, which this reuses unchanged
    * (the cluster column passes through verbatim, so membership stays
    * stable while the survivor changes).
    *
    * Scale notes (100 TB): keeper election is a map-side-combinable
    * groupBy down to ONE (cluster, keeper) row per cluster — the
    * max-struct carries (score, -id), never text — then one hash join
    * back on the cluster key; both shuffles move only (id, cluster,
    * score)-width rows.
    *
    * @return (`idCol`, `clusterCol`, `keeper_id`, `is_kept`) one row
    *         per input row */
  def electKeepers(clustered: DataFrame, idCol: String,
      clusterCol: String, scoreCol: String): DataFrame = {
    val keepers = clustered
      .groupBy(col(clusterCol))
      .agg(max(struct(col(scoreCol).as("s"),
        (-col(idCol)).as("negid"))).as("_b"))
      .select(col(clusterCol), (-col("_b.negid")).as("keeper_id"))
    clustered.join(keepers, Seq(clusterCol))
      .select(col(idCol), col(clusterCol), col("keeper_id"),
        (col(idCol) === col("keeper_id")).as("is_kept"))
  }

  /** Duplicate-SPAN removal — the surgical half of Lee et al.'s
    * "Deduplicating Training Data": instead of dropping whole documents,
    * DELETE the duplicated passages and keep the rest. A token is removed
    * iff it is covered by at least one n-gram occurrence whose n-gram
    * appears ≥ `minCount` times corpus-wide; the survivors are rejoined
    * in original order with single spaces (whitespace runs canonicalize —
    * the same normalization every shingle stage here applies).
    * [[duplicateNgramStats]] is the read-only audit of the same signal;
    * this is the rewrite.
    *
    * Scale notes (100 TB): n-gram occurrences shuffle as
    * `(sha2, id, pos)` — 48-byte rows regardless of text length; the
    * corpus-wide count is a partial aggregate; coverage expansion is a
    * bounded explode (n rows per duplicated occurrence); the rebuild
    * groups by doc id once. Nothing is quadratic and raw text never
    * shuffles — only token-position pairs of docs that actually contain
    * duplicated spans reach the anti-join.
    *
    * @return one row per input row:
    *         `(id, clean_text, n_tokens, n_removed)` — `clean_text = ""`
    *         when every token sat in a duplicated span (or the text was
    *         blank/NULL). */
  def removeDuplicateSpans(df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 5, minCount: Int = 2): DataFrame = {
    val occ = df
      .select(col(idCol).as("_id"),
        posexplode(shingles(col(textCol), shingleSize))
          .as(Seq("_pos", "_sh")))
      .select(col("_id"), col("_pos"), sha2(col("_sh"), 256).as("_h"))
    val dupHashes = occ.groupBy(col("_h"))
      .agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= minCount)
      .select(col("_h"))
    val covered = occ.join(dupHashes, Seq("_h"), "left_semi")
      .select(col("_id"),
        explode(sequence(col("_pos"),
          col("_pos") + lit(shingleSize - 1))).as("_tp"))
    scrubCoveredTokens(df, textCol, idCol, covered)
  }

  /** Shared rebuild tail for the span-scrub kernels ([[
    * removeDuplicateSpans]], [[scrubDuplicateSpansKeepOne]],
    * [[graft.operators.Decontaminate.scrubContaminatedSpans]]): given
    * per-doc covered token positions, delete those tokens IN PLACE with
    * higher-order array expressions. The previous shape exploded every
    * token of every document and shuffled them twice (coverage
    * anti-join + reassembly collect_list groupBy); here the only
    * shuffles are the covered-position aggregation (covered docs only)
    * and one join of the doc table against the per-doc position sets —
    * text shuffles at most once (the doc-vs-positions join, and not at
    * all when the position side broadcasts), vs twice before, and the
    * per-doc rebuild is
    * O(n_tokens + n_covered) via array_except's hash set (order of the
    * first argument is preserved, so survivors stay in position order).
    *
    * Output contract identical to the old tail: one row per input row,
    * (idCol, clean_text, n_tokens, n_removed), clean_text
    * whitespace-canonicalized ('' for null/blank/fully-covered text).
    * Token indexing matches the shingle kernel exactly (maximal non-\s
    * runs, 0-based; the HOF filter runs before indexing — the
    * \s-prefix regression class).
    *
    * @param covered (_id, _tp) rows: 0-based covered REAL-token
    *        positions, each within [0, n_tokens) of its doc by
    *        construction; duplicates allowed (deduped here). */
  private[operators] def scrubCoveredTokens(df: DataFrame,
      textCol: String, idCol: String, covered: DataFrame): DataFrame = {
    val cov = covered.groupBy(col("_id"))
      .agg(collect_set(col("_tp").cast("int")).as("_cov"))
    val toksArr = coalesce(
      filter(split(trim(col(textCol)), "\\s+"), t => length(t) > 0),
      array().cast("array<string>"))
    df.select(col(idCol), toksArr.as("_toks"))
      .join(cov, col(idCol) === cov("_id"), "left").drop("_id")
      .select(col(idCol), col("_toks"),
        array_except(
          when(size(col("_toks")) === 0, array().cast("array<int>"))
            .otherwise(sequence(lit(0), size(col("_toks")) - 1)),
          coalesce(col("_cov"), array().cast("array<int>"))).as("_keep"))
      .select(col(idCol),
        array_join(transform(col("_keep"),
          p => element_at(col("_toks"), p + 1)), " ").as("clean_text"),
        size(col("_toks")).cast("long").as("n_tokens"),
        (size(col("_toks")) - size(col("_keep"))).cast("long")
          .as("n_removed"))
  }

  /** CORPUS-WIDE duplicated-substring REPORT — the Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better")
    * primitive as a bucketed operator: every maximal token span whose
    * every length-`shingleSize` window occurs at least `minCount`
    * times ACROSS THE WHOLE CORPUS, per document, with positions and
    * the span text. A substring of length ≥ L that appears twice has
    * all its L-windows duplicated, and a duplicated L-window is itself
    * such a substring — so the union of duplicated windows IS the
    * union of all corpus-duplicated substrings of length ≥ L, and the
    * emitted spans are its maximal runs. [[removeDuplicateSpans]] is
    * the destructive twin (scrub instead of report); this is the audit
    * a curation pipeline reviews before scrubbing.
    *
    * MAXIMALITY: each span is a maximal chain of duplicated window
    * STARTS at gaps ≤ shingleSize (overlapping-or-touching windows
    * merge); the window just before the span's first start and every
    * window that would extend past its last are NOT duplicated (or
    * fall off the document) — the property DedupSpec checks against a
    * brute-force reference.
    *
    * Anchored on hashed L-grams, never all-pairs: the corpus-wide
    * count is one partial-agg groupBy on `sha2(window)`; no text and
    * no document pair ever shuffles together.
    *
    * Scale notes (100 TB): occurrences shuffle as (32B hash, id, pos);
    * the run-merge window partitions BY DOCUMENT (bounded partitions,
    * no global window); span text rebuilds only for positions inside
    * duplicated spans — unduplicated text never moves.
    *
    * @return (id, span_start, span_end, n_tokens, n_windows,
    *         span_text), token positions 0-based inclusive */
  def duplicatedSpans(df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 5, minCount: Int = 2): DataFrame = {
    require(shingleSize >= 1, "shingleSize must be >= 1")
    require(minCount >= 2, "minCount must be >= 2 (a once-seen span " +
      "is not duplicated)")
    val occ = df
      .select(col(idCol).as("_id"),
        posexplode(shingles(col(textCol), shingleSize))
          .as(Seq("_pos", "_sh")))
      .select(col("_id"), col("_pos").cast("long").as("_pos"),
        sha2(col("_sh"), 256).as("_h"))
    val dupHashes = occ.groupBy(col("_h"))
      .agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= minCount)
      .select(col("_h"))
    val starts = occ.join(dupHashes, Seq("_h"), "left_semi")
      .select(col("_id"), col("_pos"))
    // islands: a new span opens when the previous duplicated start is
    // more than shingleSize back (windows no longer overlap or touch)
    val w = Window.partitionBy(col("_id")).orderBy(col("_pos"))
    val isl = starts
      .withColumn("_new",
        when(col("_pos") - coalesce(lag(col("_pos"), 1).over(w),
          lit(Long.MinValue / 2)) > shingleSize.toLong, 1L)
          .otherwise(0L))
      .withColumn("_island", sum(col("_new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // pinned: within THIS operator spans now has a single consumer
    // (the per-doc gather below), but the pin still truncates the
    // corpus-wide count lineage and shields
    // scrubDuplicateSpansKeepOne's reuse of the spans frame from a
    // second execution of the whole subtree
    val spans = isl.groupBy(col("_id"), col("_island"))
      .agg(min(col("_pos")).as("span_start"),
        (max(col("_pos")) + lit(shingleSize.toLong - 1L))
          .as("span_end"),
        count(lit(1)).as("n_windows"))
      .localCheckpoint()
    // Span text via an in-place array slice: spans gather per doc (a
    // span-table-sized groupBy), join the doc table once, and each
    // span's text is slice(tokens, start, len) of the doc's token
    // array — no token explode, no range join, no reassembly groupBy.
    // Tokens indexed EXACTLY like the shingle kernel (maximal non-\s
    // runs, 0-based over REAL tokens): the HOF filter runs BEFORE the
    // slice, so a \s-prefixed text (tab/newline survives Spark's
    // space-only trim) can't inject an empty token at position 0 and
    // shift every span's text one token left. Only span-bearing
    // documents tokenize at all (the inner join) — unduplicated text
    // never moves, as the scale note promises.
    val byDoc = spans.groupBy(col("_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"),
        col("n_windows"))).as("_spans"))
    df.join(byDoc, df(idCol) === byDoc("_id"), "inner")
      .select(col(idCol),
        filter(split(trim(col(textCol)), "\\s+"),
          t => length(t) > 0).as("_toks"),
        explode(col("_spans")).as("_s"))
      .select(col(idCol),
        col("_s.span_start").as("span_start"),
        col("_s.span_end").as("span_end"),
        (col("_s.span_end") - col("_s.span_start") + 1L).as("n_tokens"),
        col("_s.n_windows").as("n_windows"),
        array_join(slice(col("_toks"),
          col("_s.span_start").cast("int") + 1,
          (col("_s.span_end") - col("_s.span_start") + 1L).cast("int")),
          " ").as("span_text"))
  }

  /** KEEP-ONE duplicate-span scrub — Lee et al. 2022's ACTUAL
    * ExactSubstr semantics: of every corpus-duplicated maximal span
    * family, ONE canonical occurrence survives and all others are
    * deleted, so formerly-duplicated content keeps exactly one copy in
    * the corpus ([[removeDuplicateSpans]] is the scorched-earth twin —
    * it deletes EVERY occurrence and the content vanishes entirely).
    * Families are [[duplicatedSpans]] rows grouped by span TEXT (equal
    * maximal spans are the same content); the keeper is the smallest
    * `(doc, span_start)` occurrence — the first-occurrence election
    * discipline ([[electKeepers]]' deterministic tie-break, keyed on
    * position instead of score). Spans within a document are disjoint
    * by construction (maximal islands), so no token is contested
    * between a keeper and a loser family.
    *
    * Scale notes (100 TB): rides [[duplicatedSpans]]' bucketed anchor
    * pass; the family election groups span-table rows (corpus-dup
    * volume, not corpus volume) on a 32-byte span-text hash — the
    * span text itself never shuffles twice; loser coverage is a
    * bounded explode (span length per loser); the rebuild is the
    * [[removeDuplicateSpans]] group-by-doc pass.
    *
    * @return one row per input row:
    *         `(id, clean_text, n_tokens, n_removed)` — whitespace
    *         canonicalized like the destructive twin. */
  def scrubDuplicateSpansKeepOne(df: DataFrame, textCol: String,
      idCol: String, shingleSize: Int = 5, minCount: Int = 2)
      : DataFrame = {
    val spans = duplicatedSpans(df, textCol, idCol, shingleSize,
        minCount)
      .withColumn("_fam", sha2(col("span_text"), 256))
      .localCheckpoint() // feeds the election AND the loser coverage
    val keepers = spans.groupBy(col("_fam"))
      .agg(min(struct(col(idCol).as("_kid"),
        col("span_start").as("_kst"))).as("_k"))
      .select(col("_fam"), col("_k._kid").as("_kid"),
        col("_k._kst").as("_kst"))
    val losers = spans.join(keepers, Seq("_fam"))
      .filter(!(col(idCol) === col("_kid") &&
        col("span_start") === col("_kst")))
    val covered = losers
      .select(col(idCol).as("_id"),
        explode(sequence(col("span_start"), col("span_end")))
          .as("_tp"))
    scrubCoveredTokens(df, textCol, idCol, covered)
  }

  /** A persisted MinHash signature index WITH its derivation
    * identity: the signatures plus the (numHashes, shingleSize, seed,
    * portable) tuple they were derived under. The identity matters
    * because it is INVISIBLE in the frame — two indexes with
    * identical schemas but different seeds or shingle sizes produce
    * disjoint band keys, so a mismatched daily batch would generate
    * garbage candidates and SILENTLY MISS duplicates (no error, no
    * empty result — just quietly degraded dedup). Same poisoning
    * class as the layout `_meta` and ANN rotation/codec records. */
  final case class SigIndex(sigs: DataFrame, numHashes: Int,
      shingleSize: Int, seed: Long, portable: Boolean)

  /** Commit / load a [[SigIndex]] (`sigs/`, `meta/`) — the
    * [[Relevance.saveLexIndex]] commit, so the signatures and their
    * derivation identity commit together or not at all, and its
    * one-version load. [[loadSigIndex]] cross-checks the meta against
    * the frame (a hand-swapped sigs directory fails fast). */
  def saveSigIndex(ix: SigIndex, dir: String, tag: String = "-"): Long = {
    val spark = ix.sigs.sparkSession
    import spark.implicits._
    FrameVersions.commit(spark, dir, Seq(
      "sigs" -> ix.sigs,
      "meta" -> Seq((ix.numHashes.toLong, ix.shingleSize.toLong,
          ix.seed, ix.portable))
        .toDF("num_hashes", "shingle_size", "seed", "portable")), tag)
  }

  def loadSigIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): SigIndex = {
    val v = FrameVersions.latest(spark, dir)
    val meta = v.read("meta").head()
    val sigs = v.read("sigs")
    val n = meta.getAs[Long]("num_hashes").toInt
    val mh = sigs.columns.count(_.startsWith("mh_"))
    require(mh == n,
      s"loadSigIndex: meta declares $n hashes but $dir/sigs carries " +
        s"$mh mh_* columns — the store is internally inconsistent; " +
        "rebuild via saveSigIndex")
    SigIndex(sigs, n, meta.getAs[Long]("shingle_size").toInt,
      meta.getAs[Long]("seed"), meta.getAs[Boolean]("portable"))
  }

  /** [[incrementalDedup]] off a persisted [[SigIndex]] — the batch's
    * signatures derive under the STORE'S OWN identity (seed, shingle
    * size, hash family), so the silent-miss window of hand-aligned
    * arguments is closed: there are no arguments to misalign. */
  def incrementalDedupFromIndex(ix: SigIndex, corpusDocs: DataFrame,
      newDocs: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.8, bands: Int = 4,
      maxBucketSize: Int = 1000,
      ckpt: Checkpointer = Checkpointer.Local): DataFrame =
    incrementalDedup(ix.sigs, corpusDocs, newDocs, textCol, idCol,
      threshold, ix.numHashes, bands, ix.shingleSize, maxBucketSize,
      ckpt, ix.portable, ix.seed)

  /** INCREMENTAL near-dedup — the daily-increment path: dedupe a NEW
    * batch against an already-indexed corpus without re-processing the
    * corpus. The corpus is touched only through (a) its precomputed
    * MinHash signature index ([[minhashSignatures]] output, persisted
    * between runs) and (b) id-targeted text fetches for the handful of
    * verified candidates — at 100 TB the alternative (re-running dedup
    * over corpus+batch) re-shingles everything ever ingested, every day.
    *
    * Candidate generation is the same banded-LSH bucket join, over the
    * UNION of the stored index and the new batch's signatures, but only
    * buckets containing at least one new doc expand pairs — an all-old
    * bucket was already resolved when its docs were ingested. Verified
    * pairs cluster via [[connectedComponents]] so chains resolve (new A ≈
    * new B ≈ corpus C drops BOTH A and B); a component containing any
    * corpus doc keeps the corpus doc (smallest corpus id), an all-new
    * component keeps its smallest id.
    *
    * Corpus and batch ids must be disjoint (they share one id space).
    *
    * Scale: the candidate text fetch joins `corpusDocs` against a
    * candidate-id set that is tiny by construction (bucket-capped), so
    * AQE broadcasts it — the corpus is scanned once with a semi-join
    * filter, never shuffled. To roll the index forward, union the kept
    * new docs' signatures onto `corpusSigs` (they are the
    * [[minhashSignatures]] rows of the batch, filtered by the report).
    *
    * @param corpusSigs stored index: `idCol` + `mh_*` signature columns
    * @param corpusDocs (`idCol`, `textCol`) of the corpus (id-addressed)
    * @return one row per NEW doc: (doc_id, keeper_id, reason ∈
    *         corpus | batch | kept) */
  def incrementalDedup(
      corpusSigs: DataFrame, corpusDocs: DataFrame, newDocs: DataFrame,
      textCol: String, idCol: String,
      threshold: Double = 0.8, numHashes: Int = 16, bands: Int = 4,
      shingleSize: Int = 3, maxBucketSize: Int = 1000,
      ckpt: Checkpointer = Checkpointer.Local,
      portable: Boolean = false, seed: Long = 42L): DataFrame = {
    val mhCols = corpusSigs.columns.filter(_.startsWith("mh_"))
    require(mhCols.length == numHashes,
      s"corpusSigs has ${mhCols.length} mh_* columns, expected $numHashes " +
        "— the stored index and this call must agree on numHashes")
    // portable: corpusSigs must be minhashSignaturesPortable output and
    // the batch side signs/bands the same way (md5-48 audit mode — the
    // q_x2i oracle rebuilds the whole increment in SQL). seed,
    // shingleSize, and the portable/kernel choice are INVISIBLE in the
    // sigs frame — only the caller can keep them aligned with the
    // stored index, which is why [[incrementalDedupFromIndex]] exists
    // (the identity rides the store and mismatch becomes impossible)
    val newSigs =
      if (portable) minhashSignaturesPortable(newDocs, textCol, idCol,
        numHashes, shingleSize, seed)
      else minhashSignatures(newDocs, textCol, idCol, numHashes, shingleSize)
    def keysOf(sigs: DataFrame) =
      if (portable) bandedKeysPortable(sigs, idCol, bands)
      else bandedKeys(sigs, idCol, bands)
    val keys = keysOf(corpusSigs)
      .withColumn("_new", lit(false))
      .unionByName(keysOf(newSigs)
        .withColumn("_new", lit(true)))
    // bucket-local expansion, but only buckets a new doc landed in
    val buckets = keys
      .groupBy(col("bandkey"))
      .agg(collect_list(struct(col(idCol).as("id"), col("_new"))).as("_ms"))
      .filter(size(col("_ms")) > 1 && size(col("_ms")) <= maxBucketSize &&
        exists(col("_ms"), m => m.getField("_new")))
      .select(array_sort(col("_ms")).as("_ms")) // struct sort: by id first
    val cands = buckets
      .select(explode(flatten(transform(col("_ms"), (x, i) =>
        transform(slice(col("_ms"), i + 2, size(col("_ms"))),
          y => struct(x.getField("id").as("id_a"),
            y.getField("id").as("id_b"),
            x.getField("_new").as("new_a"),
            y.getField("_new").as("new_b")))))).as("_p"))
      .select(col("_p.*"))
      .filter(col("new_a") || col("new_b"))
      .distinct()
    // exact-Jaccard verification: candidate texts fetched by id (the
    // candidate set is bucket-capped-small → AQE broadcasts it)
    val texts = corpusDocs.select(col(idCol).as("_tid"),
        col(textCol).as("_txt"))
      .unionByName(newDocs.select(col(idCol).as("_tid"),
        col(textCol).as("_txt")))
    val verified = ckpt(cands
      .join(texts.withColumnsRenamed(Map("_tid" -> "id_a", "_txt" -> "_ta")),
        Seq("id_a"))
      .join(texts.withColumnsRenamed(Map("_tid" -> "id_b", "_txt" -> "_tb")),
        Seq("id_b"))
      .filter(jaccard(col("_ta"), col("_tb"), shingleSize) >= threshold)
      .select(col("id_a"), col("id_b"), col("new_a"), col("new_b")))
    // cluster so chains resolve; corpus members win their component
    val members = verified.select(col("id_a").as("id"), col("new_a").as("_n"))
      .unionByName(verified.select(col("id_b").as("id"),
        col("new_b").as("_n")))
      .distinct()
    val comps = connectedComponents(members.select(col("id")), "id",
      verified.select("id_a", "id_b"), ckpt = ckpt)
    // a component with any corpus member elects a corpus keeper (the
    // coalesce picks the min CORPUS id first), so keeper-is-corpus is a
    // per-component aggregate — no join back against the corpus table
    val keepers = comps.join(members, Seq("id"))
      .groupBy(col("comp"))
      .agg(coalesce(min(when(!col("_n"), col("id"))), min(col("id")))
        .as("_keeper"),
        max(when(!col("_n"), lit(1)).otherwise(lit(0)))
          .as("_has_corpus"))
    val clustered = comps.join(keepers, Seq("comp"))
      .select(col("id"), col("_keeper"), col("_has_corpus"))
    newDocs.select(col(idCol).as("doc_id"))
      .join(clustered.withColumnsRenamed(Map("id" -> "doc_id")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("_keeper"), col("doc_id")).as("keeper_id"),
        when(col("_keeper").isNull || col("_keeper") === col("doc_id"),
          "kept")
          .when(col("_has_corpus") === 1, "corpus")
          .otherwise("batch").as("reason"))
  }

  /** The surviving rows of [[dedupCorpus]]: one original row per elected
    * keeper. */
  def dedupedRows(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.8,
      ckpt: Checkpointer = Checkpointer.Local,
      portable: Boolean = false): DataFrame =
    df.join(
      dedupCorpus(df, textCol, idCol, threshold, ckpt = ckpt,
        portable = portable)
        .filter(col("reason") === "kept")
        .select(col("doc_id").as(idCol)),
      Seq(idCol), "left_semi")

  /** Fuzzy-string near-dup: pairs whose trimmed-text PREFIXES (first
    * `prefixLen` chars) are within Levenshtein distance `maxDist` — the
    * title/short-field dedup modality (MinHash needs token overlap;
    * edit distance catches typo-level variants of short strings).
    *
    * Candidate blocking is lossless: edit distance ≤ d implies length
    * difference ≤ d, so strings are banded by ⌊len/(d+1)⌋ and one side
    * probes its own band ±1 — every qualifying pair shares a band pair,
    * no all-pairs join, and the exact `levenshtein` verification runs
    * only on candidates. Each pair is generated at most once (the probe
    * set's three bands are distinct), so no dedup pass is needed.
    * `bruteForce = true` skips blocking (small inputs / oracle checks).
    *
    * Scale notes (100 TB): band cardinality ~ prefixLen/(d+1) is tiny, so
    * this relies on the standard groupBy/AQE skew handling of hot bands;
    * Levenshtein is codegen'd (Spark built-in) and runs on bounded
    * `prefixLen` inputs, so per-pair cost is capped. */
  def editDistanceNearDups(
      df: DataFrame, textCol: String, idCol: String,
      maxDist: Int, prefixLen: Int = 32,
      bruteForce: Boolean = false): DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    require(prefixLen >= 1, "prefixLen must be >= 1")
    val d = df.select(col(idCol),
      substring(trim(col(textCol)), 1, prefixLen).as("_k"))
    val joined =
      if (bruteForce)
        d.select(col(idCol).as("id_a"), col("_k").as("_ka"))
          .crossJoin(d.select(col(idCol).as("id_b"), col("_k").as("_kb")))
          .filter(col("id_a") < col("id_b"))
      else {
        val band = floor(length(col("_k")) / (maxDist + 1)).cast("long")
        val a = d.select(col(idCol).as("id_a"), col("_k").as("_ka"),
          explode(array(band - 1, band, band + 1)).as("_band"))
        val b = d.select(col(idCol).as("id_b"), col("_k").as("_kb"),
          band.as("_band"))
        a.join(b, Seq("_band")).filter(col("id_a") < col("id_b"))
      }
    // the threshold overload early-exits the DP once distance exceeds
    // maxDist (returning -1) — O(maxDist·prefixLen) per pair instead of
    // O(prefixLen²), which is the verification hot path
    joined
      .select(col("id_a"), col("id_b"),
        levenshtein(col("_ka"), col("_kb"), maxDist).cast("long")
          .as("edit_distance"))
      .filter(col("edit_distance") =!= -1)
  }

  /** Embedding-cosine near-dup: pairs with cosine ≥ `threshold`, candidates
    * blocked by random-hyperplane bucket (similar vectors collide with high
    * probability; `probes` extra buckets via bit flips would raise recall —
    * kept at exact-bucket for v1). Pass `bruteForce = true` to skip
    * blocking (exact, for oracle checks / small inputs). */
  def cosineNearDups(
      df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, bits: Int = 12,
      bruteForce: Boolean = false, probes: Int = 0): DataFrame = {
    val bucket = VectorFunctions.hyperplane_bucket(col(vecCol), bits)
    // Multiprobe: besides its own bucket, each LEFT-side vector also probes
    // the `probes` buckets at Hamming distance 1 (single sign-bit flips) —
    // the standard recall lever for borderline vectors whose projection is
    // near a hyperplane. Candidate volume grows ×(probes+1) on one side
    // only.
    val probeBuckets = array((bucket +: (0 until math.min(probes, bits)).map(
      p => bucket.bitwiseXOR(lit(1 << p))): _*))
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("_va"),
      explode(probeBuckets).as("_ba"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("_vb"),
      bucket.as("_bb"))
    val joined =
      if (bruteForce)
        df.select(col(idCol).as("id_a"), col(vecCol).as("_va"))
          .crossJoin(df.select(col(idCol).as("id_b"), col(vecCol).as("_vb")))
          .filter(col("id_a") < col("id_b"))
      else a.join(b, col("_ba") === col("_bb") && col("id_a") < col("id_b"))
        .select(col("id_a"), col("_va"), col("id_b"), col("_vb")).distinct()
    joined
      .select(col("id_a"), col("id_b"),
        VectorFunctions.cosine(col("_va"), col("_vb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Duplicate-n-gram statistics (the Lee et al. "Deduplicating Training
    * Data" substring-duplication signal at n-gram granularity): for every
    * document, the number of n-gram OCCURRENCES (repeats within a doc
    * count every time) whose n-gram appears at least `minCount` times
    * corpus-wide, and the duplicated fraction. High `dup_frac` flags
    * template spam / mirrored text that document- and paragraph-level
    * dedup both miss.
    *
    * Scale notes (100 TB): occurrences shuffle as `(sha2, id)` — 40-byte
    * rows however long the n-grams are; the count groupBy is a partial
    * aggregate; the count join is an equi-join on the hash (no broadcast
    * assumption — both sides are corpus-sized). Nothing is quadratic.
    *
    * @return one row per input row:
    *         `(id, n_ngrams, n_dup, dup_frac_e6)` — the fraction is
    *         emitted integerized (×1e6, half-up) so downstream threshold
    *         filters are bit-stable across engines. */
  def duplicateNgramStats(df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 5, minCount: Int = 2): DataFrame = {
    val occ = df
      .select(col(idCol).as("_id"),
        explode(shingles(col(textCol), shingleSize)).as("_sh"))
      .select(col("_id"), sha2(col("_sh"), 256).as("_h"))
    val counts = occ.groupBy("_h").agg(count(lit(1)).as("_cnt"))
    val perDoc = occ.join(counts, "_h")
      .groupBy("_id")
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("_cnt") >= minCount, 1L).otherwise(0L)).as("n_dup"))
    df.select(col(idCol))
      .join(perDoc, col(idCol) === perDoc("_id"), "left").drop("_id")
      .select(col(idCol),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        when(coalesce(col("n_ngrams"), lit(0L)) === 0L, lit(0L))
          .otherwise(floor(col("n_dup").cast("double") / col("n_ngrams")
            * 1e6 + 0.5).cast("long"))
          .as("dup_frac_e6"))
  }

  /** Paragraph-level boilerplate removal (the CCNet/RefinedWeb line-dedup
    * pass): split every document on `sep`, keep only the FIRST corpus-wide
    * occurrence of each distinct non-blank paragraph — "first" = smallest
    * `(id, position)`, a total order, so the result is unique and
    * partitioning-independent — and reassemble each document from its
    * surviving paragraphs in original order, joined with `joiner`.
    *
    * This is the sub-document counterpart of [[exact]]: navigation chrome,
    * cookie banners and licence footers repeat across millions of pages
    * whose full texts are all distinct, so document-level dedup never
    * touches them.
    *
    * Scale notes (100 TB): the dedup groupBy keys on `sha2(paragraph)`,
    * so shuffle rows for the argmin are (32B hash, id, pos) — paragraph
    * TEXT never shuffles in the winner-election stage; the only wide text
    * movement is the final per-document reassembly groupBy, whose input
    * is already pruned to surviving paragraphs. `min(struct)` is a
    * partial aggregate (map-side combine on both groupBys).
    *
    * @return one row per input row: `(id, clean_text, n_kept, n_dropped)`
    *         with `clean_text = ""` when every paragraph was boilerplate
    *         (or the text was blank/NULL). */
  def dedupParagraphs(df: DataFrame, textCol: String, idCol: String,
      sep: String = "\n", joiner: String = "\n"): DataFrame = {
    val paras = df.select(col(idCol).as("_id"),
        posexplode(split(col(textCol), sep)).as(Seq("_pos", "_para")))
      .filter(length(trim(col("_para"))) > 0)
    val winners = paras
      .groupBy(sha2(col("_para"), 256).as("_h"))
      .agg(min(struct(col("_id"), col("_pos"))).as("_w"))
      .select(col("_w._id").as("_id"), col("_w._pos").as("_pos"))
    val rebuilt = paras
      .join(winners, Seq("_id", "_pos"), "left_semi")
      .groupBy("_id")
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("_pos"), col("_para")))),
            p => p.getField("_para")),
          joiner).as("clean_text"),
        count(lit(1)).as("n_kept"))
    val totals = paras.groupBy("_id").agg(count(lit(1)).as("_total"))
    df.select(col(idCol))
      .join(totals, col(idCol) === totals("_id"), "left").drop("_id")
      .join(rebuilt, col(idCol) === rebuilt("_id"), "left").drop("_id")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (coalesce(col("_total"), lit(0L)) - coalesce(col("n_kept"), lit(0L)))
          .as("n_dropped"))
  }

  /** SemDeDup-style EMBEDDING-SPACE deduplication (Abbas et al. 2023):
    * partition the corpus into IVF cells via the deterministic
    * hash-sampled coarse quantizer ([[Similarity.ivfIndex]]), form
    * candidate pairs only WITHIN a cell, keep pairs with cosine ≥
    * `threshold`, cluster them with [[connectedComponents]], and elect
    * the minimum id per cluster as the keeper. Catches paraphrases and
    * re-encodings that share no surface n-grams — the semantic sibling
    * of [[dedupCorpus]]'s lexical MinHash pass.
    *
    * Cells whose population exceeds `maxCellSize` contribute NO pairs
    * (every member is kept) — the same explicit-cap-over-silent-n²
    * policy as the MinHash bucket cap; audit skipped cells with
    * [[semanticDedupCellStats]] and raise `numCells` until none
    * overflow. Determinism: centroids are hash-ranked ids (no RNG),
    * assignment tie-breaks on centroid id, keepers on doc id — the
    * whole pipeline is rebuildable in ANSI SQL, which is how the
    * `q_x2l_semantic_dedup` oracle checks it.
    *
    * Scale notes (100 TB): the centroid table is `numCells` rows —
    * broadcast; assignment is one narrow n·k pass; the within-cell
    * self-join shuffles on `centroid_id` once and its output is bounded
    * by `numCells · maxCellSize²` — size `numCells ≈ n/200` so expected
    * cells stay O(100). Component state is (id, comp) pairs — tiny;
    * pass [[Checkpointer.Reliable]] for multi-hour runs.
    *
    * @return one row per input row:
    *         `(doc_id, keeper_id, reason ∈ kept | semantic)` */
  def semanticDedup(
      df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, numCells: Int = 256, maxCellSize: Int = 10000,
      ckpt: Checkpointer = Checkpointer.Local): DataFrame = {
    val (_, assigned0) = Similarity.ivfIndex(df, vecCol, idCol, numCells)
    // materialized once: feeds both sides of the self-join AND the cell
    // census — lazy composition would run the n·k assignment three times
    val assigned = ckpt(assigned0.select(
      col("centroid_id"), col(idCol), col(vecCol)))
    val inCap = assigned.join(
      assigned.groupBy(col("centroid_id"))
        .agg(count(lit(1)).as("_csz"))
        .filter(col("_csz") <= maxCellSize)
        .select(col("centroid_id")),
      Seq("centroid_id"), "left_semi")
    val pairs = inCap
      .select(col("centroid_id"), col(idCol).as("id_a"),
        col(vecCol).as("_va"))
      .join(inCap.select(col("centroid_id"), col(idCol).as("id_b"),
        col(vecCol).as("_vb")), Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(VectorFunctions.cosine(col("_va"), col("_vb")) >= threshold)
      .select(col("id_a"), col("id_b"))
    connectedComponents(df.select(col(idCol)), idCol, pairs, ckpt = ckpt)
      .select(col("id").as("doc_id"), col("comp").as("keeper_id"),
        when(col("id") === col("comp"), "kept")
          .otherwise("semantic").as("reason"))
  }

  /** INCREMENTAL [[semanticDedup]] — the daily-increment path for
    * embedding space, mirroring [[incrementalDedup]]'s contract: dedupe a
    * NEW batch against an already-indexed corpus touching the corpus only
    * through its STORED IVF index (the `(centroids, assigned)` pair
    * [[Similarity.ivfIndex]] built at ingest). New vectors assign to the
    * stored centroids; only cells receiving at least one new vector
    * expand pairs (an all-old cell was resolved when its members were
    * ingested), and only pairs involving a new vector are checked. Chains
    * resolve via [[connectedComponents]]; a component containing any
    * corpus vector keeps the smallest CORPUS id, an all-new component its
    * smallest id. Corpus and batch ids must be disjoint.
    *
    * To roll the index forward, union the kept new rows of the batch
    * assignment onto `corpusIndex` (they are exactly its rows for the
    * `kept` report ids).
    *
    * Scale: the corpus re-enters as its assignment rows semi-joined down
    * to TOUCHED cells only — at a daily-batch rate that is a vanishing
    * fraction of the index; everything else is [[semanticDedup]]'s
    * audited shuffle shapes.
    *
    * @param centroids   stored quantizer (`centroid_id`, `_centv`)
    * @param corpusIndex stored assignment (`centroid_id`, idCol, vecCol)
    * @return one row per NEW vector:
    *         `(doc_id, keeper_id, reason ∈ corpus | batch | kept)` */
  def incrementalSemanticDedup(
      centroids: DataFrame, corpusIndex: DataFrame,
      newVecs: DataFrame, vecCol: String, idCol: String,
      threshold: Double, maxCellSize: Int = 10000,
      ckpt: Checkpointer = Checkpointer.Local): DataFrame = {
    val newAssigned = ckpt(
      Similarity.assignToCentroids(newVecs, vecCol, idCol, centroids)
        .select(col("centroid_id"), col(idCol), col(vecCol)))
    val touched = newAssigned.select(col("centroid_id")).distinct()
    val members0 = ckpt(corpusIndex
      .join(touched, Seq("centroid_id"), "left_semi")
      .select(col("centroid_id"), col(idCol), col(vecCol),
        lit(false).as("_new"))
      .unionByName(newAssigned.withColumn("_new", lit(true))))
    val inCap = members0.join(
      members0.groupBy(col("centroid_id"))
        .agg(count(lit(1)).as("_csz"))
        .filter(col("_csz") <= maxCellSize)
        .select(col("centroid_id")),
      Seq("centroid_id"), "left_semi")
    val pairs = ckpt(inCap
      .select(col("centroid_id"), col(idCol).as("id_a"),
        col(vecCol).as("_va"), col("_new").as("new_a"))
      .join(inCap.select(col("centroid_id"), col(idCol).as("id_b"),
        col(vecCol).as("_vb"), col("_new").as("new_b")), Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("new_a") || col("new_b"))
      .filter(VectorFunctions.cosine(col("_va"), col("_vb")) >= threshold)
      .select(col("id_a"), col("id_b"), col("new_a"), col("new_b")))
    val members = pairs.select(col("id_a").as("id"), col("new_a").as("_n"))
      .unionByName(pairs.select(col("id_b").as("id"), col("new_b").as("_n")))
      .distinct()
    val comps = connectedComponents(members.select(col("id")), idCol = "id",
      pairs.select("id_a", "id_b"), ckpt = ckpt)
    val keepers = comps.join(members, Seq("id"))
      .groupBy(col("comp"))
      .agg(coalesce(min(when(!col("_n"), col("id"))), min(col("id")))
        .as("_keeper"),
        max(when(!col("_n"), lit(1)).otherwise(lit(0))).as("_has_corpus"))
    val clustered = comps.join(keepers, Seq("comp"))
      .select(col("id"), col("_keeper"), col("_has_corpus"))
    newVecs.select(col(idCol).as("doc_id"))
      .join(clustered.withColumnsRenamed(Map("id" -> "doc_id")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("_keeper"), col("doc_id")).as("keeper_id"),
        when(col("_keeper").isNull || col("_keeper") === col("doc_id"),
          "kept")
          .when(col("_has_corpus") === 1, "corpus")
          .otherwise("batch").as("reason"))
  }

  /** Cell census for [[semanticDedup]] tuning: one row per IVF cell with
    * its population and whether the cap skipped it. `sum(n·(n-1)/2)` over
    * the non-skipped rows is the exact pair-verification workload. */
  def semanticDedupCellStats(
      df: DataFrame, vecCol: String, idCol: String,
      numCells: Int = 256, maxCellSize: Int = 10000): DataFrame = {
    val (_, assigned) = Similarity.ivfIndex(df, vecCol, idCol, numCells)
    assigned.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("centroid_id"), col("n"),
        (col("n") > maxCellSize).as("skipped"))
  }
}
