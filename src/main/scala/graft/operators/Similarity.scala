package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor search over an embedding column
  * (BASELINE.json north_star "similarity search").
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *    The candidate side is broadcast against the (small) query side, the
  *    per-query ranking is a window over `query_id`, so work distributes
  *    over candidate partitions and no all-pairs shuffle materializes.
  *  - [[ivfTopK]]: IVF-style two-stage search — k-means-free variant where
  *    the coarse quantizer is a deterministic sample of the corpus itself.
  *    Every vector is assigned to its nearest centroid once (broadcast
  *    centroids, narrow map). A query probes only `nProbe` nearest cells →
  *    candidate set shrinks by ~|cells|/nProbe, the 100 TB scale path.
  */
object Similarity {

  /** Exact cosine top-k. `queries` is expected to be small (it is broadcast
    * to every candidate partition). Output: (query_id, vec_id, cosine, rank)
    * with rank 1..k per query, ties broken by vec_id. */
  def bruteForceTopK(
      queries: DataFrame, candidates: DataFrame,
      vecCol: String, idCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("_qv")))
    val c = candidates.select(col(idCol).as("vec_id"), col(vecCol).as("_cv"))
    val scored = c.join(q, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        VectorFunctions.cosine(col("_qv"), col("_cv")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Build the IVF index: a FIXED-size deterministic sample of the corpus
    * as the coarse quantizer — rank ids by a multiplicative hash (Knuth's
    * 2654435761) and keep the `k` smallest. |centroids| stays `k` no matter
    * the corpus size, so the centroid table is always broadcastable and
    * assignment cost is n·k, linear in the corpus. (An every-stride-th
    * design would grow |centroids| = n/stride linearly — quadratic
    * assignment and an un-broadcastable "broadcast" at 100 TB.) The hash
    * ranking is plain integer arithmetic so the whole index stays
    * ANSI-SQL-expressible for the exact DuckDB oracle; `orderBy.limit`
    * plans as TakeOrderedAndProject (per-partition top-k, no full sort).
    * Assigns each corpus vector to its nearest centroid; returns
    * (centroid table, assigned corpus). */
  def ivfIndex(
      corpus: DataFrame, vecCol: String, idCol: String,
      k: Int): (DataFrame, DataFrame) = {
    val centroids = corpus
      .select(col(idCol).as("centroid_id"), col(vecCol).as("_centv"),
        pmod(col(idCol) * lit(2654435761L), lit(4294967296L)).as("_h"))
      .orderBy(col("_h"), col("centroid_id"))
      .limit(k)
      .select(col("centroid_id"), col("_centv"))
    (centroids, assignToCentroids(corpus, vecCol, idCol, centroids))
  }

  /** Nearest-centroid assignment — MAP-ONLY argmax: the centroid table
    * collapses to one broadcast array row and the per-vector argmax is
    * `array_max` over a transformed array (codegen'd), so the corpus —
    * float vectors included — never enters a shuffle. The r16 shape
    * (broadcast crossJoin + n·k rows into a groupBy whose max struct
    * CARRIED the vector through an n-row exchange) paid two exchanges
    * per assignment pass; this pays zero (§2.3: never shuffle the
    * payload to make a per-row decision). `array_max` uses the same
    * struct ordering as the old `max(struct(_csim, -centroid_id))` —
    * argmax by similarity, ties to the SMALLEST centroid_id, null
    * cosine (zero-norm vector) ordered below every real value — so the
    * output is bit-identical on unique-id corpora (the id contract
    * every caller already holds).
    * Also emits `assign_cosine` (the winning similarity) — the
    * per-vector quantization quality that [[updateIndex]]'s drift
    * metric averages. */
  private[graft] def assignToCentroids(
      corpus: DataFrame, vecCol: String, idCol: String,
      centroids: DataFrame): DataFrame = {
    val centsRow = centroids.agg(
      array_sort(collect_list(struct(col("centroid_id"), col("_centv"))))
        .as("_cents"))
    corpus
      .select(col(idCol), col(vecCol))
      .crossJoin(broadcast(centsRow))
      // empty centroid table → no assignments (the crossJoin-with-
      // nothing semantics of the old shape). Guard on the ARRAY SIZE,
      // which references only the broadcast side: a guard on the
      // argmax struct itself spans both join children, and constraint
      // inference then pushes an embedding-referencing predicate into
      // the broadcast build stage (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND
      // at execution).
      .filter(size(col("_cents")) > 0)
      .select(col(idCol), col(vecCol),
        array_max(transform(col("_cents"), c =>
          struct(
            VectorFunctions.cosine(col(vecCol), c.getField("_centv"))
              .as("_csim"),
            (-c.getField("centroid_id")).as("_negc")))).as("_best"))
      .select(col(idCol), col(vecCol),
        (-col("_best._negc")).as("centroid_id"),
        col("_best._csim").as("assign_cosine"))
  }

  /** Lloyd refinement of the coarse quantizer (spherical k-means): each
    * iteration re-assigns vectors to their nearest centroid and re-centers
    * every cell on its element-wise mean. The quantization objective
    * (average best-cell cosine) is monotonically non-decreasing, so
    * refined cells are tighter → higher recall at the same `nProbe`.
    *
    * Cost per iteration: one broadcast assignment pass (n·k, the same as
    * index build) + one (centroid, dim) aggregation (k·dim result rows —
    * trivial). Empty cells keep their previous centroid. The per-dim mean
    * uses distributed double summation, so exact results are not
    * bit-reproducible across cluster layouts — use the hash-sampled
    * [[ivfIndex]] when exact reproducibility matters more than recall. */
  def refineCentroids(
      corpus: DataFrame, vecCol: String, idCol: String,
      centroids: DataFrame, iterations: Int = 1,
      ckpt: graft.Checkpointer = graft.Checkpointer.Local): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    var cents = centroids
    for (_ <- 1 to iterations) {
      val assigned = assignToCentroids(corpus, vecCol, idCol, cents)
      val means = assigned
        .select(col("centroid_id"),
          posexplode(col(vecCol)).as(Seq("_pos", "_val")))
        .groupBy(col("centroid_id"), col("_pos"))
        .agg(avg(col("_val").cast("double")).as("_m"))
        .groupBy(col("centroid_id"))
        .agg(array_sort(collect_list(struct(col("_pos"), col("_m"))))
          .as("_pm"))
        .select(col("centroid_id"),
          transform(col("_pm"), x => x.getField("_m").cast("float"))
            .as("_newv"))
      cents = ckpt(cents.join(means, Seq("centroid_id"), "left")
        .select(col("centroid_id"),
          coalesce(col("_newv"), col("_centv")).as("_centv")))
    }
    cents
  }

  /** [[ivfIndex]] + [[refineCentroids]] in one call: hash-sampled seeds,
    * `iterations` Lloyd passes, final assignment. */
  def ivfIndexRefined(
      corpus: DataFrame, vecCol: String, idCol: String,
      k: Int, iterations: Int = 1): (DataFrame, DataFrame) = {
    val (seeds, _) = ivfIndex(corpus, vecCol, idCol, k)
    val cents = refineCentroids(corpus, vecCol, idCol, seeds, iterations)
    (cents, assignToCentroids(corpus, vecCol, idCol, cents))
  }

  /** IVF search: probe the `nProbe` nearest cells per query, exact cosine
    * within probed cells, top-k per query. Approximate: recall < 1 when the
    * true neighbor lives in an unprobed cell. */
  def ivfTopK(
      queries: DataFrame, centroids: DataFrame, assigned: DataFrame,
      vecCol: String, idCol: String, k: Int, nProbe: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
    val probed = q.crossJoin(broadcast(centroids))
      .select(col("query_id"), col("_qv"), col("centroid_id"),
        VectorFunctions.cosine(col("_qv"), col("_centv")).as("_csim"))
      .withColumn("_r", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("_csim").desc, col("centroid_id"))))
      .filter(col("_r") <= nProbe)
      .select(col("query_id"), col("_qv"), col("centroid_id"))
    val scored = probed.join(assigned, Seq("centroid_id"))
      .filter(col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol).as("vec_id"),
        VectorFunctions.cosine(col("_qv"), col(vecCol)).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Product-quantization codebooks (Jégou et al. 2011): the vector space
    * splits into `m` contiguous subspaces; each gets `k` codewords —
    * here a deterministic hash-ranked sample of corpus rows (the same
    * RNG-free multiplicative-hash trick as [[ivfIndex]], so the whole
    * codec is ANSI-SQL-rebuildable for the oracle), each sampled row
    * sliced into its m subvectors. `code` is the dense 0-based rank in
    * the sample order — the array slot ADC indexes into.
    *
    * Scale: m·k rows total, corpus-independent — always broadcastable.
    * Vector dim must be divisible by `m` (checked at build, on k rows).
    *
    * @return (`sub` 0-based, `code` 0-based, `codeword` float array) */
  def pqCodebooks(corpus: DataFrame, vecCol: String, idCol: String,
      m: Int, k: Int): DataFrame = {
    require(m >= 1 && k >= 2, "need m >= 1 subspaces and k >= 2 codewords")
    val ranked = corpus
      .select(col(idCol), col(vecCol),
        pmod(col(idCol) * lit(2654435761L), lit(4294967296L)).as("_h"))
      .orderBy(col("_h"), col(idCol))
      .limit(k)
      .withColumn("code",
        // unpartitioned window is BOUNDED by construction: it runs over
        // the .limit(k) sample (k codewords), never the corpus
        (row_number().over(Window.orderBy(col("_h"), col(idCol))) - 1)
          .cast("int"))
    val dsub = (size(col(vecCol)) / m).cast("int")
    ranked
      .select(col("code"),
        when(size(col(vecCol)) % m =!= 0,
          raise_error(concat(lit("pq: vector dim "),
            size(col(vecCol)).cast("string"),
            lit(s" not divisible by m=$m"))))
          .otherwise(col(vecCol)).as(vecCol))
      .select(col("code"), explode(sequence(lit(0), lit(m - 1))).as("sub"),
        col(vecCol))
      .select(col("sub"), col("code"),
        slice(col(vecCol), col("sub") * dsub + 1, dsub).as("codeword"))
  }

  /** PQ-encode the corpus: per vector, per subspace, the argmin-L2²
    * codeword (tie-break smallest code — deterministic), gathered into
    * one `codes` array ordered by subspace. This is the 100 TB storage
    * story: a 64-dim float vector (256 B) becomes m=8 ints — the encoded
    * corpus rides in a fraction of the scan and shuffle budget, and ADC
    * search never touches the original vectors.
    *
    * Shuffle shape: NONE — one broadcast codebook array row, n·m·k
    * codegen'd kernel evaluations entirely map-side (see the body
    * comment). One-time index-build cost.
    *
    * @return (`id`, `codes` array<int> of length m) */
  def pqEncode(corpus: DataFrame, vecCol: String, idCol: String,
      codebooks: DataFrame, m: Int): DataFrame = {
    // MAP-ONLY encode (same §2.3 move as [[assignToCentroids]]): the
    // m·k codebook collapses to one broadcast array row sorted by
    // (sub, code) — sub s's codewords occupy slots [s·k+1, s·k+k] —
    // and per row the m argmins run as array_min over transformed
    // slices, all codegen'd. The r16 shape shuffled n·m scored rows
    // into a (id, sub) argmin and n·m best rows into a per-id gather;
    // this shuffles nothing. array_min's struct ordering is the old
    // min(struct(_d, code)) exactly (ascending distance, ties to the
    // smallest code), so codes are bit-identical on unique-id corpora.
    val dsub = (size(col(vecCol)) / m).cast("int")
    val cbRow = codebooks.agg(
      array_sort(collect_list(struct(col("sub"), col("code"),
        col("codeword")))).as("_cb"))
    val k = (size(col("_cb")) / m).cast("int")
    corpus
      .select(col(idCol), col(vecCol))
      .crossJoin(broadcast(cbRow))
      // empty codebook table → no encodings (old crossJoin semantics)
      .filter(size(col("_cb")) > 0)
      .select(col(idCol),
        transform(sequence(lit(0), lit(m - 1)), s =>
          array_min(transform(slice(col("_cb"), s * k + 1, k), cw =>
            struct(
              VectorFunctions.l2sq(
                slice(col(vecCol), s * dsub + 1, dsub),
                cw.getField("codeword")).as("_d"),
              cw.getField("code").as("code"))))
            .getField("code")).as("codes"))
  }

  /** PQ top-k search via asymmetric distance computation: each query
    * precomputes its (m·k)-entry subspace distance table against the
    * broadcast codebook, then every encoded vector's approximate
    * distance is m table lookups ([[VectorFunctions.adc]], codegen'd) —
    * no float vector is ever read at search time. Approximate on two
    * axes (quantized corpus, exact query side); rank ties break on id.
    *
    * Scale: dtables are |Q|·m·k doubles — broadcast; the corpus-side
    * scan is narrow over (id, codes); only the final per-query window
    * shuffles, and only (query_id, id, dist) rows.
    *
    * @return (`query_id`, `vec_id`, `adist`, `rank`) top `topK` rows per
    *         query by ascending approximate distance */
  def pqTopK(queries: DataFrame, codebooks: DataFrame, encoded: DataFrame,
      vecCol: String, idCol: String, m: Int, k: Int,
      topK: Int): DataFrame = {
    val dsub = (size(col(vecCol)) / m).cast("int")
    val dtables = queries
      .select(col(idCol).as("query_id"), col(vecCol))
      .crossJoin(broadcast(codebooks))
      .select(col("query_id"), col("sub"), col("code"),
        VectorFunctions.l2sq(
          slice(col(vecCol), col("sub") * dsub + 1, dsub),
          col("codeword")).as("_d"))
      .groupBy(col("query_id"))
      .agg(array_sort(collect_list(struct(col("sub"), col("code"),
        col("_d").as("d")))).as("_scd"))
      .select(col("query_id"),
        transform(col("_scd"), x => x.getField("d")).as("_dtable"))
    val scored = encoded
      .crossJoin(broadcast(dtables))
      .filter(col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol).as("vec_id"),
        VectorFunctions.adc(col("codes"), col("_dtable"), k).as("adist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
  }

  /** IVF-PQ search — the composed billion-scale recipe: probe the
    * `nProbe` nearest IVF cells per query (coarse quantizer bounds the
    * candidate set), then rank ONLY those cells' members by PQ asymmetric
    * distance (codes, never float vectors). The two-level structure is
    * what a 100 TB corpus actually ships: centroids + codebooks broadcast
    * (corpus-independent), the encoded index is m ints per vector, and a
    * query touches |corpus|·nProbe/numCells codes.
    *
    * `assignedEncoded` joins the IVF assignment with the PQ codes:
    * (`centroid_id`, idCol, `codes`) — build once at ingest from
    * [[ivfIndex]]'s assignment and [[pqEncode]]'s output.
    *
    * @return (`query_id`, `vec_id`, `adist`, `rank`) top `topK` per query
    *         by ascending approximate distance (ties on id) */
  def ivfPqTopK(queries: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, assignedEncoded: DataFrame,
      vecCol: String, idCol: String, m: Int, k: Int,
      topK: Int, nProbe: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol))
    val probed = q.crossJoin(broadcast(centroids))
      .select(col("query_id"), col("centroid_id"),
        VectorFunctions.cosine(col(vecCol), col("_centv")).as("_csim"))
      .withColumn("_r", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("_csim").desc, col("centroid_id"))))
      .filter(col("_r") <= nProbe)
      .select(col("query_id"), col("centroid_id"))
    val dsub = (size(col(vecCol)) / m).cast("int")
    val dtables = q.crossJoin(broadcast(codebooks))
      .select(col("query_id"), col("sub"), col("code"),
        VectorFunctions.l2sq(
          slice(col(vecCol), col("sub") * dsub + 1, dsub),
          col("codeword")).as("_d"))
      .groupBy(col("query_id"))
      .agg(array_sort(collect_list(struct(col("sub"), col("code"),
        col("_d").as("d")))).as("_scd"))
      .select(col("query_id"),
        transform(col("_scd"), x => x.getField("d")).as("_dtable"))
    val scored = assignedEncoded
      .join(probed, Seq("centroid_id"))
      .join(broadcast(dtables), Seq("query_id"))
      .filter(col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol).as("vec_id"),
        VectorFunctions.adc(col("codes"), col("_dtable"), k).as("adist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
  }

  /** Residual product-quantization codebooks — the FAISS IVF-PQ
    * design proper: codewords quantize v − centroid(v), not v. The
    * coarse quantizer already explains the cell-offset component of
    * every vector, so the residuals live in a smaller ball than the
    * raw vectors and the same m·k codebook budget buys finer
    * resolution — WHEN the data has cluster structure for the coarse
    * stage to explain. Measured honestly on both regimes
    * ([[recallAtK]]): on planted 16-cluster data, recall@5 = 59/80 vs
    * raw PQ's 40/80 at identical m, k, nProbe (SimilaritySpec); on the
    * bench corpus's structureless near-uniform random embeddings the
    * coarse stage explains almost nothing, residuals stay as large as
    * the raw vectors, and the extra quantizer indirection actually
    * LOSES recall (q_x3l: 1–3/40 vs raw's 6–8/40) — pick the encoder
    * by the corpus, not by FAISS convention. Same deterministic
    * hash-ranked k-row sample as
    * [[pqCodebooks]] — the whole codec stays ANSI-SQL-rebuildable —
    * but each sampled row is joined to its own coarse centroid and the
    * RESIDUAL is what gets sliced into codewords, prebuilt in double
    * so search arithmetic is oracle-bit-equal.
    *
    * Scale: m·k rows, corpus-independent — always broadcastable; the
    * sample join touches k rows.
    *
    * @return (`sub`, `code`, `codeword` double array) */
  def pqCodebooksResidual(corpus: DataFrame, vecCol: String,
      idCol: String, assigned: DataFrame, centroids: DataFrame,
      m: Int, k: Int): DataFrame = {
    require(m >= 1 && k >= 2, "need m >= 1 subspaces and k >= 2 codewords")
    val ranked = corpus
      .select(col(idCol), col(vecCol),
        pmod(col(idCol) * lit(2654435761L), lit(4294967296L)).as("_h"))
      .orderBy(col("_h"), col(idCol))
      .limit(k)
      .withColumn("code",
        // unpartitioned window is BOUNDED by construction: it runs over
        // the .limit(k) sample (k codewords), never the corpus
        (row_number().over(Window.orderBy(col("_h"), col(idCol))) - 1)
          .cast("int"))
    val resid = ranked
      .join(assigned.select(col(idCol), col("centroid_id")), Seq(idCol))
      .join(broadcast(centroids), Seq("centroid_id"))
      .withColumn("_resid", zip_with(
        col(vecCol).cast("array<double>"),
        col("_centv").cast("array<double>"), (x, c) => x - c))
    val dsub = (size(col("_resid")) / m).cast("int")
    resid
      .select(col("code"),
        when(size(col("_resid")) % m =!= 0,
          raise_error(concat(lit("pq: vector dim "),
            size(col("_resid")).cast("string"),
            lit(s" not divisible by m=$m"))))
          .otherwise(col("_resid")).as("_resid"))
      .select(col("code"), explode(sequence(lit(0), lit(m - 1))).as("sub"),
        col("_resid"))
      .select(col("sub"), col("code"),
        slice(col("_resid"), col("sub") * dsub + 1, dsub).as("codeword"))
  }

  /** Residual-PQ encode: per vector, per subspace, the argmin-L2²
    * residual codeword for v − centroid(v) — computed by the fused
    * [[VectorFunctions.l2sqResid]] kernel, so no residual array is
    * ever materialized on the n·m·k hot path (the centroid rides the
    * row via one broadcast join and the subtraction happens inside the
    * codegen loop). Same output contract as [[pqEncode]].
    *
    * @return (`id`, `codes` array<int> of length m) */
  def pqEncodeResidual(corpus: DataFrame, vecCol: String, idCol: String,
      assigned: DataFrame, centroids: DataFrame, codebooks: DataFrame,
      m: Int): DataFrame = {
    // MAP-ONLY after the two id/cell joins (the [[pqEncode]] rewrite,
    // residual flavor): the fused l2sqResid kernel still never
    // materializes a residual array, and the n·m argmin + per-id
    // gather shuffles are gone — the only remaining exchanges are the
    // assignment join's own.
    val dsub = (size(col(vecCol)) / m).cast("int")
    val cbRow = codebooks.agg(
      array_sort(collect_list(struct(col("sub"), col("code"),
        col("codeword")))).as("_cb"))
    val k = (size(col("_cb")) / m).cast("int")
    corpus
      .select(col(idCol), col(vecCol))
      .join(assigned.select(col(idCol), col("centroid_id")), Seq(idCol))
      .join(broadcast(centroids), Seq("centroid_id"))
      .crossJoin(broadcast(cbRow))
      // empty codebook table → no encodings (old crossJoin semantics)
      .filter(size(col("_cb")) > 0)
      .select(col(idCol),
        transform(sequence(lit(0), lit(m - 1)), s =>
          array_min(transform(slice(col("_cb"), s * k + 1, k), cw =>
            struct(
              VectorFunctions.l2sqResid(
                slice(col(vecCol), s * dsub + 1, dsub),
                slice(col("_centv"), s * dsub + 1, dsub),
                cw.getField("codeword")).as("_d"),
              cw.getField("code").as("code"))))
            .getField("code")).as("codes"))
  }

  /** [[pqEncode]]'s argmin projection computed AS A COLUMN on the
    * caller's frame (which must carry `vecCol`): an assignment pass and
    * its encode fuse into one map-only projection, removing the
    * (id ⋈ id) reattachment join the two-frame composition paid — the
    * join existed only to glue two projections of the SAME rows back
    * together (§2.4). Codes are the bit-identical [[pqEncode]]
    * expressions; the empty-codebook filter keeps its drop-all-rows
    * semantics (an inner join against an empty encode side). */
  private def withPqCodes(df: DataFrame, vecCol: String,
      codebooks: DataFrame, m: Int): DataFrame = {
    val dsub = (size(col(vecCol)) / m).cast("int")
    val cbRow = codebooks.agg(
      array_sort(collect_list(struct(col("sub"), col("code"),
        col("codeword")))).as("_cb"))
    val k = (size(col("_cb")) / m).cast("int")
    df.crossJoin(broadcast(cbRow))
      .filter(size(col("_cb")) > 0)
      .select(df.columns.map(col) :+
        transform(sequence(lit(0), lit(m - 1)), s =>
          array_min(transform(slice(col("_cb"), s * k + 1, k), cw =>
            struct(
              VectorFunctions.l2sq(
                slice(col(vecCol), s * dsub + 1, dsub),
                cw.getField("codeword")).as("_d"),
              cw.getField("code").as("code"))))
            .getField("code")).as("codes"): _*)
  }

  /** [[pqEncodeResidual]] as a column, for a frame that already carries
    * `vecCol` AND `centroid_id` (an assignment output): only the
    * broadcast centroid join remains — the corpus ⋈ assigned id join
    * disappears along with the encode-reattachment join (§2.4). */
  private def withPqCodesResidual(df: DataFrame, vecCol: String,
      centroids: DataFrame, codebooks: DataFrame, m: Int): DataFrame = {
    val dsub = (size(col(vecCol)) / m).cast("int")
    val cbRow = codebooks.agg(
      array_sort(collect_list(struct(col("sub"), col("code"),
        col("codeword")))).as("_cb"))
    val k = (size(col("_cb")) / m).cast("int")
    df.join(broadcast(centroids), Seq("centroid_id"))
      .crossJoin(broadcast(cbRow))
      .filter(size(col("_cb")) > 0)
      .select(df.columns.map(col) :+
        transform(sequence(lit(0), lit(m - 1)), s =>
          array_min(transform(slice(col("_cb"), s * k + 1, k), cw =>
            struct(
              VectorFunctions.l2sqResid(
                slice(col(vecCol), s * dsub + 1, dsub),
                slice(col("_centv"), s * dsub + 1, dsub),
                cw.getField("codeword")).as("_d"),
              cw.getField("code").as("code"))))
            .getField("code")).as("codes"): _*)
  }

  /** The `assignedEncoded` frame [[ivfPqTopK]] consumes, built in ONE
    * map-only projection from an [[assignToCentroids]] output (which
    * preserves the vector column): the codes land as a column on the
    * assignment frame via [[withPqCodes]], so the old
    * assignment-⋈-encode (id ⋈ id) reattachment join of two
    * projections of the SAME rows disappears (§2.4). Codes are the
    * bit-identical [[pqEncode]] expressions.
    * @return (`centroid_id`, idCol, `codes`) */
  def encodeAssigned(assigned: DataFrame, vecCol: String, idCol: String,
      codebooks: DataFrame, m: Int): DataFrame =
    withPqCodes(assigned, vecCol, codebooks, m)
      .select(col("centroid_id"), col(idCol), col("codes"))

  /** Residual twin of [[encodeAssigned]] ([[pqEncodeResidual]]'s
    * codes, same bit-identical expressions): only the broadcast
    * centroid join remains — both id joins of the two-frame
    * composition disappear. */
  def encodeAssignedResidual(assigned: DataFrame, vecCol: String,
      idCol: String, centroids: DataFrame, codebooks: DataFrame,
      m: Int): DataFrame =
    withPqCodesResidual(assigned, vecCol, centroids, codebooks, m)
      .select(col("centroid_id"), col(idCol), col("codes"))

  /** IVF-PQ search over residual codes. Identical probe structure to
    * [[ivfPqTopK]], but the ADC distance table is CELL-DEPENDENT: the
    * query's residual differs per probed centroid, so each
    * (query, probed cell) pair precomputes its own m·k table —
    * |Q|·nProbe·m·k doubles, still broadcast — and the encoded corpus
    * joins on `centroid_id` alone (which simultaneously restricts the
    * scan to probed cells and fans out per probing query). This is the
    * cost asymmetry of residual PQ: nProbe× more table builds on the
    * (tiny) query side buys the finer codebook on the (huge) corpus
    * side, whose scan shape is unchanged — codes only, never floats.
    *
    * @return (`query_id`, `vec_id`, `adist`, `rank`) top `topK` per
    *         query by ascending approximate distance (ties on id) */
  def ivfPqResidualTopK(queries: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, assignedEncoded: DataFrame,
      vecCol: String, idCol: String, m: Int, k: Int,
      topK: Int, nProbe: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol))
    val probed = q.crossJoin(broadcast(centroids))
      .select(col("query_id"), col(vecCol), col("centroid_id"),
        col("_centv"),
        VectorFunctions.cosine(col(vecCol), col("_centv")).as("_csim"))
      .withColumn("_r", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("_csim").desc, col("centroid_id"))))
      .filter(col("_r") <= nProbe)
      .select(col("query_id"), col(vecCol), col("centroid_id"),
        col("_centv"))
    val dsub = (size(col(vecCol)) / m).cast("int")
    val dtables = probed.crossJoin(broadcast(codebooks))
      .select(col("query_id"), col("centroid_id"), col("sub"), col("code"),
        VectorFunctions.l2sqResid(
          slice(col(vecCol), col("sub") * dsub + 1, dsub),
          slice(col("_centv"), col("sub") * dsub + 1, dsub),
          col("codeword")).as("_d"))
      .groupBy(col("query_id"), col("centroid_id"))
      .agg(array_sort(collect_list(struct(col("sub"), col("code"),
        col("_d").as("d")))).as("_scd"))
      .select(col("query_id"), col("centroid_id"),
        transform(col("_scd"), x => x.getField("d")).as("_dtable"))
    val scored = assignedEncoded
      .join(broadcast(dtables), Seq("centroid_id"))
      .filter(col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol).as("vec_id"),
        VectorFunctions.adc(col("codes"), col("_dtable"), k).as("adist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
  }

  /** Per-query recall audit of an approximate ranking against the
    * exact one — THE number a 100 TB ANN deployment tunes
    * `nProbe`/`m`/`k` by, and the one mechanical oracle-correctness
    * can't see (an IVF-PQ query can be bit-exactly "right" and still
    * return garbage neighbors if the quantizers are too coarse). Both
    * inputs are (query_id, vec_id[, …]) top-k frames; output is one
    * row per exact-side query: (`query_id`, `n_exact`, `n_hits`) with
    * recall@k = n_hits / n_exact. Deterministic on both sides, so the
    * audit itself is oracle-checkable.
    *
    * Measured on the bench corpus (sf0.1 embeddings, 2000×64-dim,
    * 8 queries, k = 5): IVF (32 cells, nProbe 3) = 15/40 = 0.375 mean
    * recall; IVF-PQ (nProbe 8, m = 8, k = 16 codewords) = 3/40 =
    * 0.075 (0.20 at sf0.001) — the hash-sampled, unrefined quantizers
    * trade recall for exact rebuildability, and the m=8×k=16 codebook
    * is far too coarse for near-uniform random embeddings (by design:
    * the bench corpus has no cluster structure for PQ to exploit).
    * [[refineCentroids]] and larger k buy recall back when
    * reproducibility-under-oracle matters less; `q_x3l_recall_audit`
    * keeps the live numbers at each SF (since the residual-PQ leg was
    * added: residual reads 1–3/40 here — worse than raw PQ on this
    * corpus, better on clustered data; see [[pqCodebooksResidual]]).
    *
    * Scale notes: both sides are retrieval fan-in (|Q|·k rows), so
    * the join and groupBy are trivially small at any corpus size. */
  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame = {
    val ex = exact.select(col("query_id"), col("vec_id"))
    val ap = approx.select(col("query_id"), col("vec_id"))
      .withColumn("_hit", lit(1L))
    ex.join(ap, Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_hits"))
  }

  /** Two-stage serving: exact-cosine re-rank of an approximate
    * SHORTLIST — the standard answer to quantization recall loss. Any
    * (query_id, vec_id) candidate frame works ([[ivfTopK]], [[pqTopK]],
    * [[ivfPqTopK]], [[ivfPqResidualTopK]] at `topK = shortlist size`);
    * the float vectors are fetched ONLY for the |Q|·C shortlisted rows
    * and re-scored exactly, so recall@k of the composed search equals
    * recall@C of the cheap stage — measured: the bench corpus's IVF-PQ
    * recall@5 of 3/40 becomes 13/40 at sf0.1 (6/40 → 17/40 at
    * sf0.01) through a C = 25 ADC shortlist
    * (`q_x3l_recall_audit`'s `rerank_hits` leg keeps the live number;
    * the PQ stage still prunes 2000 → 25, it just stops VOTING).
    *
    * Scale notes: the shortlist is retrieval fan-in (|Q|·C rows) and is
    * BROADCAST against the corpus vector store, so the full-precision
    * corpus is a narrow pruned scan — never shuffled, never crossed;
    * only the |Q|·C survivors carry float vectors into the final
    * per-query window. On the stored [[saveIndex]] layout the fetch is
    * further partition-pruned by `centroid_id`.
    *
    * @return (`query_id`, `vec_id`, `cosine`, `rank`) top `topK` per
    *         query by exact cosine (ties on id) */
  def rerankTopK(shortlist: DataFrame, queries: DataFrame,
      vectors: DataFrame, vecCol: String, idCol: String,
      topK: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("_qv")))
    val fetched = vectors
      .select(col(idCol).as("vec_id"), col(vecCol).as("_cv"))
      .join(broadcast(shortlist.select("query_id", "vec_id")),
        Seq("vec_id"))
    val scored = fetched.join(q, Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        VectorFunctions.cosine(col("_qv"), col("_cv")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
  }

  /** Reciprocal-rank fusion of N rankings (Cormack et al. 2009): each
    * list contributes `1/(c + rank)` per member, summed per id — the
    * standard way to combine dense ([[bruteForceTopK]]/[[ivfTopK]]) and
    * sparse ([[graft.operators.Relevance.searchBm25]]) retrieval without
    * score calibration. Output: (`id`, `rrf_score`, `n_lists` — how many
    * input rankings contained the id), top `k` by (score desc, id).
    *
    * Scale notes: pure union + groupBy on the (small) ranked lists —
    * retrieval fan-in, not corpus-sized work; `orderBy.limit` is
    * TakeOrderedAndProject. */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, rankCol: String,
      k: Int, c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(k >= 1 && c >= 0, "k must be >= 1 and c >= 0")
    rankings.map(_.select(col(idCol).as("id"),
        (lit(1.0) / (lit(c) + col(rankCol))).as("_rrf")))
      .reduce(_.unionByName(_))
      .groupBy("id")
      .agg(sum("_rrf").as("rrf_score"), count(lit(1)).as("n_lists"))
      .orderBy(col("rrf_score").desc, col("id"))
      .limit(k)
  }

  /** One (query, candidate) row for [[mmrRerank]]. */
  final case class MmrCand(
      query_id: Long, vec_id: Long, sim: Double, vec: Array[Float])

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  private def cosineLocal(a: Array[Float], b: Array[Float]): Double = {
    val na = math.sqrt(dot(a, a))
    val nb = math.sqrt(dot(b, b))
    if (na == 0 || nb == 0) 0.0 else dot(a, b) / (na * nb)
  }

  /** Maximal-marginal-relevance re-rank of a per-query candidate set —
    * the diversity stage after [[bruteForceTopK]]/[[ivfTopK]]: greedily
    * pick the candidate maximizing
    *
    *   λ·sim(q, d) − (1−λ)·max_{s ∈ selected} cos(d, s)
    *
    * so near-duplicates of an already-selected result are demoted (λ = 1
    * degenerates to plain relevance ranking). Ties break by vec_id.
    *
    * Input: one row per (query, candidate) with the query-relevance score
    * (`simCol`, e.g. the `cosine` the search stage produced) and the
    * candidate's embedding. Output: (query_id, vec_id, mmr_rank,
    * mmr_score), rank 1..k.
    *
    * Scale notes: the greedy loop is inherently sequential PER QUERY, so
    * it runs inside `flatMapGroups` — queries distribute across the
    * cluster; each group is the search stage's top-N (BOUNDED — feed this
    * re-ranker candidates, never a raw corpus), costing O(N·k·dim) flops
    * locally with no further shuffle. */
  def mmrRerank(candidates: DataFrame, queryCol: String, idCol: String,
      vecCol: String, simCol: String, k: Int,
      lambda: Double = 0.7): DataFrame = {
    require(lambda >= 0 && lambda <= 1, "lambda must be in [0, 1]")
    require(k >= 1, "k must be >= 1")
    val spark = candidates.sparkSession
    import spark.implicits._
    // null sims (zero-norm vectors) and NaNs would poison the greedy
    // argmax (best stays -1) or the non-nullable encoder — drop them, one
    // bad embedding must not kill the query
    val ds = candidates
      .filter(col(simCol).isNotNull && !isnan(col(simCol).cast("double")))
      .select(
        col(queryCol).cast("long").as("query_id"),
        col(idCol).cast("long").as("vec_id"),
        col(simCol).cast("double").as("sim"),
        col(vecCol).as("vec")).as[MmrCand]
    ds.groupByKey(_.query_id).flatMapGroups { (qid, it) =>
      val cands = it.toArray
      val n = cands.length
      val taken = new Array[Boolean](n)
      // max cosine to any already-selected candidate, updated incrementally
      val maxSel = Array.fill(n)(0.0)
      val out = Seq.newBuilder[(Long, Long, Int, Double)]
      var r = 1
      val kk = math.min(k, n)
      while (r <= kk) {
        var best = -1
        var bestScore = Double.NegativeInfinity
        var i = 0
        while (i < n) {
          if (!taken(i)) {
            val penalty = if (r == 1) 0.0 else maxSel(i)
            val score = lambda * cands(i).sim - (1 - lambda) * penalty
            if (score > bestScore ||
                (score == bestScore && best >= 0 &&
                  cands(i).vec_id < cands(best).vec_id)) {
              best = i; bestScore = score
            }
          }
          i += 1
        }
        if (best < 0) r = kk + 1 // defensive: nothing selectable left
        else {
          taken(best) = true
          out += ((qid, cands(best).vec_id, r, bestScore))
          var j = 0
          while (j < n) {
            if (!taken(j)) {
              val c = cosineLocal(cands(j).vec, cands(best).vec)
              if (c > maxSel(j)) maxSel(j) = c
            }
            j += 1
          }
          r += 1
        }
      }
      out.result().iterator
    }.toDF("query_id", "vec_id", "mmr_rank", "mmr_score")
  }

  /** A loaded on-disk ANN index: IVF coarse quantizer + PQ codebooks +
    * the assigned-and-encoded corpus, plus the codec geometry needed to
    * query it ([[ivfPqTopK]]'s `m`/`k`) and the build-time mean
    * assignment cosine (`NaN` when the builder did not record one) —
    * the baseline [[updateIndex]]'s drift metric compares against. */
  final case class AnnIndex(centroids: DataFrame, codebooks: DataFrame,
      assignedEncoded: DataFrame, m: Int, k: Int,
      meanAssignCosine: Double = Double.NaN,
      assignCosineStd: Double = Double.NaN,
      rotation: Seq[GivensStage] = Nil,
      rotationMatrix: Option[PcaModel] = None,
      residual: Boolean = false)

  /** Persist an IVF-PQ index as parquet — the retrieval counterpart of
    * the incremental-dedup discipline: a 100 TB corpus trains its
    * quantizers ONCE at ingest and every later run (and every other
    * engine — it is all plain parquet) re-queries the stored index
    * instead of re-deriving centroids, codebooks, and n·m·k encode
    * passes per call.
    *
    * Layout under `dir`: `centroids/` and `codebooks/` (k and m·k rows —
    * broadcast-sized forever), `meta/` (one row: m, k), and `vectors/`
    * — the (centroid_id, id, codes) table written PARTITIONED BY
    * centroid_id, so a query that probes `nProbe` of the k cells scans
    * only those directories (static partition pruning at read; at
    * cluster scale, dynamic partition pruning from the probed-cells
    * join). Codes are m small ints per vector: the float corpus never
    * ships to the serving side at all.
    *
    * The saved layout is version 0 of a [[FrameVersions]] store: every
    * [[retrainIndex]] commits its rebuild as the next version, so a
    * store that already has one refuses a root save (its loads would
    * never see it). */
  def saveIndex(dir: String, centroids: DataFrame, codebooks: DataFrame,
      assignedEncoded: DataFrame, m: Int, k: Int,
      meanAssignCosine: Double = Double.NaN,
      assignCosineStd: Double = Double.NaN,
      rotation: Seq[GivensStage] = Nil,
      rotationMatrix: Option[PcaModel] = None,
      residual: Boolean = false): Unit = {
    require(rotation.isEmpty || rotationMatrix.isEmpty,
      "saveIndex: an index lives in ONE basis — pass the Givens " +
        "cascade OR the PCA rotation model, not both")
    val spark = centroids.sparkSession
    require(FrameVersions.current(spark, dir) == 0L,
      s"saveIndex: the index at $dir has committed retrains — build " +
        "into a fresh directory, or retrainIndex to publish a rebuild")
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    codebooks.write.mode("overwrite").parquet(s"$dir/codebooks")
    assignedEncoded.write.mode("overwrite")
      .partitionBy("centroid_id").parquet(s"$dir/vectors")
    // A re-save resets the maintenance state an index written before
    // maintenance committed versions kept at its root: the drift ledger
    // measured the OLD quantizers (a stale ledger would latch
    // retrain_recommended), and every row just written is live (a stale
    // tombstone would anti-join valid new rows out of serving).
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/drift_log"), true): Unit
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/tombstones"), true): Unit
    import spark.implicits._
    // The ROTATION RECORD — the index's basis identity. An OPQ-built
    // index ([[givensCascadeRotate]] corpus, quantizers trained on the
    // rotated vectors) lives in the rotated basis; a query served raw
    // against it computes distances across two bases and returns
    // silently wrong neighbors. So the fitted stages persist WITH the
    // index as plain (stage, offset, i, cos, sin) rows —
    // parquet-trivial and oracle-replayable — and [[loadIndex]] hands
    // them to every serving path ([[rotateQueries]]). Write order:
    // rotation BEFORE meta — meta's `rotated` flag is the commit
    // point, so a crash mid-save can never yield a flagged index
    // without its record (the layout `_meta` validation discipline).
    val rotPath = new org.apache.hadoop.fs.Path(s"$dir/rotation")
    if (rotation.nonEmpty) {
      rotation.zipWithIndex.flatMap { case (st, sIdx) =>
        st.cos.indices.map(i =>
          (sIdx.toLong, st.offset.toLong, i.toLong, st.cos(i),
            st.sin(i)))
      }.toDF("stage", "offset", "i", "cos", "sin")
        .coalesce(1).write.mode("overwrite").parquet(rotPath.toString)
    } else fs.delete(rotPath, true): Unit
    // the MATRIX record (the pcaRotate / OPQ-P basis): d² weight
    // cells + per-dim means + eigenvalues, one parquet row per cell —
    // same write-before-meta commit discipline as the cascade
    val rotMatPath =
      new org.apache.hadoop.fs.Path(s"$dir/rotation_matrix")
    rotationMatrix match {
      case Some(model) =>
        (for {
          c <- model.components.indices
          i <- model.components(c).indices
        } yield (c.toLong, i.toLong, model.components(c)(i),
          model.means(i), model.eigenvalues(c)))
          .toDF("component", "i", "w", "mean_i", "eig")
          .coalesce(1).write.mode("overwrite")
          .parquet(rotMatPath.toString)
      case None => fs.delete(rotMatPath, true): Unit
    }
    // assign_cosine_std calibrates [[compactIndex]]'s default retrain
    // tolerance (2σ of the build-time assignment-cosine distribution);
    // NaN means "not recorded" and the policy falls back to an absolute
    // band.
    val kind =
      if (rotation.nonEmpty) "givens"
      else if (rotationMatrix.nonEmpty) "matrix"
      else "none"
    // `encoding` is the CODEC identity: residual codes are byte-
    // compatible with plain PQ codes on disk, so without the flag a
    // persisted residual index would silently serve through the wrong
    // ADC (fixed table instead of cell-dependent) — the same
    // poisoning class as a lost rotation record
    Seq((m, k, meanAssignCosine, assignCosineStd,
        rotation.nonEmpty || rotationMatrix.nonEmpty, kind,
        if (residual) "pq_residual" else "pq"))
      .toDF("m", "k", "mean_assign_cosine", "assign_cosine_std",
        "rotated", "rotation_kind", "encoding")
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  // ───────────────────── index versions ─────────────────────
  //
  // An index is a [[FrameVersions]] store: the [[saveIndex]] layout is
  // version 0 (frames at the root), and every maintenance operation
  // commits the next version. [[retrainIndex]] commits a full rebuild;
  // [[updateIndex]], [[deleteFromIndex]] and [[compactIndex]] each
  // commit once through [[commitIndex]], which reuses every frame it
  // does not rewrite, so an update writes only its delta. No committed
  // version changes afterwards: a reader that loaded before a commit
  // keeps serving its version bit for bit until a vacuum drops it:
  // [[compactIndex]] (and so [[maintainIndex]]'s compaction branch)
  // vacuums to the version it commits, the root frames included, so a
  // reader pinned to an older version must reload after a compaction;
  // the streaming twins vacuum after each trigger the same way.
  // `FrameVersions.recover` drops a crashed commit's claim.

  /** The version every consumer of the index at `dir` reads: the
    * latest committed version, or the saveIndex root (version 0). An
    * index in the retired `eras/` layout is refused. */
  private[graft] def indexVersion(spark: SparkSession, dir: String)
      : FrameVersions.Version = {
    val eras = new org.apache.hadoop.fs.Path(s"$dir/eras")
    require(!eras.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(eras),
      s"the index at $dir keeps its retrains in the retired eras/ " +
        "layout; retrains now commit as FrameVersions versions " +
        "(_v<n>/) — rebuild the index with saveIndex")
    FrameVersions.latest(spark, dir)
  }

  /** Load a [[saveIndex]] layout. `centroid_id` comes back from the
    * partition directories (cast to long — partition columns read as the
    * inferred narrow type); everything else round-trips parquet
    * bit-exactly, so a query against the loaded index returns the same
    * rows as against the just-built one. */
  def loadIndex(spark: SparkSession, dir: String): AnnIndex =
    loadIndexAt(indexVersion(spark, dir))

  // The rows version `v` serves: its `vectors` segments minus its
  // tombstones ([[deleteFromIndex]]), so EVERY consumer of a loaded
  // index — serve, rerank, compaction — sees the post-delete corpus;
  // the join side is the delete set (small, auto-broadcast by AQE).
  private def liveVectors(v: FrameVersions.Version): DataFrame = {
    val vectors = v.read("vectors")
      .withColumn("centroid_id", col("centroid_id").cast("long"))
    if (!v.has("tombstones")) vectors
    else {
      val tomb = v.read("tombstones")
      vectors.join(tomb.select(tomb.columns.head).distinct(),
        Seq(tomb.columns.head), "left_anti")
    }
  }

  private[graft] def loadIndexAt(v: FrameVersions.Version): AnnIndex = {
    val spark = v.spark
    val meta = v.read("meta").head()
    def optD(name: String): Double =
      if (meta.schema.fieldNames.contains(name)) meta.getAs[Double](name)
      else Double.NaN
    // Basis identity: a `rotated` index REFUSES to load without its
    // rotation record — serving raw queries against rotated quantizers
    // is the silent-poisoning failure the flag exists to catch. Stores
    // written before the flag existed read as un-rotated (they were).
    val rotated = meta.schema.fieldNames.contains("rotated") &&
      meta.getAs[Boolean]("rotated")
    // stores flagged before the kind column existed are Givens-era
    val kind =
      if (!rotated) "none"
      else if (meta.schema.fieldNames.contains("rotation_kind"))
        meta.getAs[String]("rotation_kind")
      else "givens"
    def requireRecord(frame: String): Unit =
      require(v.has(frame),
        s"loadIndex: ${v.root}/meta declares a ROTATED index but its " +
          s"$frame record is missing — serving raw query vectors against " +
          "rotated quantizers returns silently wrong neighbors; restore " +
          "the rotation record or rebuild via saveIndex")
    val rotation =
      if (kind != "givens") Nil
      else {
        requireRecord("rotation")
        // bounded driver fetch: stages × d rows (the d²-cell
        // discipline of givensCascadeFit)
        val rows = v.read("rotation")
          .select("stage", "offset", "i", "cos", "sin")
          .collect()
        rows.groupBy(_.getLong(0)).toSeq.sortBy(_._1).map {
          case (_, rs) =>
            val d = rs.length
            val cs = new Array[Double](d); val sn = new Array[Double](d)
            var off = 0
            rs.foreach { r =>
              val i = r.getLong(2).toInt
              cs(i) = r.getDouble(3); sn(i) = r.getDouble(4)
              off = r.getLong(1).toInt
            }
            GivensStage(off, cs, sn)
        }
      }
    val rotationMatrix =
      if (kind != "matrix") None
      else {
        requireRecord("rotation_matrix")
        // bounded driver fetch: d² cells (the pcaFit discipline)
        val rows = v.read("rotation_matrix")
          .select("component", "i", "w", "mean_i", "eig")
          .collect()
        val d = rows.map(_.getLong(1)).max.toInt + 1
        val kComp = rows.map(_.getLong(0)).max.toInt + 1
        val comps = Array.ofDim[Double](kComp, d)
        val means = new Array[Double](d)
        val eigs = new Array[Double](kComp)
        rows.foreach { r =>
          val c = r.getLong(0).toInt; val i = r.getLong(1).toInt
          comps(c)(i) = r.getDouble(2)
          means(i) = r.getDouble(3)
          eigs(c) = r.getDouble(4)
        }
        Some(PcaModel(means, comps, eigs))
      }
    val residual = meta.schema.fieldNames.contains("encoding") &&
      meta.getAs[String]("encoding") == "pq_residual"
    // The quantizer frames are BOUNDED and corpus-independent (k cell
    // centroids; m·k codewords — the documented always-broadcastable
    // contract), but as lazy parquet frames every downstream broadcast
    // build re-ran the file scan (several consumers per serving call,
    // up to four loads per lifecycle row). Collect them ONCE into
    // local relations: same rows bit-exactly (parquet → JVM → local
    // relation round-trips floats unchanged), and each broadcast build
    // becomes a local-table scan with no file I/O.
    def localize(frame: String): org.apache.spark.sql.DataFrame = {
      val df = v.read(frame)
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
    }
    AnnIndex(
      localize("centroids"),
      localize("codebooks"),
      liveVectors(v),
      meta.getAs[Int]("m"), meta.getAs[Int]("k"),
      optD("mean_assign_cosine"), optD("assign_cosine_std"),
      rotation, rotationMatrix, residual)
  }

  /** Bring incoming vectors into a loaded index's BASIS: identity for
    * an un-rotated index, the persisted [[GivensStage]] cascade
    * ([[givensCascadeRotate]] — stateless per-element expressions, no
    * shuffle) for a rotated one, or the persisted [[PcaModel]]
    * ([[pcaRotate]] — posexplode + broadcast weights + id-keyed
    * reassembly) for a matrix-rotated one. EVERY consumer of
    * [[loadIndex]] that feeds raw query or delta vectors to the
    * quantizers must route them through here — [[serveTopK]],
    * [[updateIndex]], [[retrainIndex]]'s audit, and the streaming
    * search twin all do. Query ids must be UNIQUE within a batch: the
    * matrix path's reassembly is id-keyed (duplicate ids would sum
    * their projections), matching [[updateIndex]]'s id contract. */
  def rotateQueries(index: AnnIndex, queries: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    if (index.rotation.isEmpty && index.rotationMatrix.isEmpty) queries
    else {
      val extra = queries.columns.filter(c => c != idCol && c != vecCol)
      val rot =
        if (index.rotation.nonEmpty)
          givensCascadeRotate(
            queries.select(col(idCol), col(vecCol)), idCol, vecCol,
            index.rotation)
        else
          // the matrix basis (pcaRotate / OPQ-P): centering is a
          // translation shared by corpus and queries, so serving
          // geometry stays consistent inside the rotated frame
          pcaRotate(queries.select(col(idCol), col(vecCol)), idCol,
            vecCol, index.rotationMatrix.get)
      if (extra.isEmpty) rot
      else queries.drop(vecCol).join(rot, Seq(idCol))
    }

  /** One-call serving path over a persisted index: [[loadIndex]] (the
    * tombstone-filtered, rotation-checked snapshot), then
    * [[serveIndex]]. This IS the body the streaming search twin runs
    * per trigger — the batch row and the stream serve through the same
    * code. */
  def serveTopK(spark: SparkSession, dir: String, queries: DataFrame,
      vecCol: String, idCol: String, topK: Int = 5,
      nProbe: Int = 8): DataFrame =
    serveIndex(loadIndex(spark, dir), queries, vecCol, idCol, topK, nProbe)

  /** Serve `queries` against a loaded index: brought into the index
    * basis via [[rotateQueries]], then [[ivfPqTopK]] with the stored
    * codec geometry — residual codes decode through the cell-dependent
    * ADC ([[ivfPqResidualTopK]]), never the fixed table. */
  private[graft] def serveIndex(ix: AnnIndex, queries: DataFrame,
      vecCol: String, idCol: String, topK: Int, nProbe: Int): DataFrame = {
    val q = rotateQueries(ix, queries, idCol, vecCol)
    if (ix.residual)
      ivfPqResidualTopK(q, ix.centroids, ix.codebooks,
        ix.assignedEncoded, vecCol, idCol, m = ix.m, k = ix.k,
        topK = topK, nProbe = nProbe)
    else
      ivfPqTopK(q, ix.centroids, ix.codebooks, ix.assignedEncoded,
        vecCol, idCol, m = ix.m, k = ix.k, topK = topK,
        nProbe = nProbe)
  }

  /** A delta encoded against a loaded index's FROZEN quantizers, as
    * (`idCol`, `codes`, `centroid_id`, `assign_cosine`), checkpointed.
    * Deltas arrive in the ORIGINAL basis (the query contract) and are
    * brought into the index basis first — absorbing raw vectors into a
    * rotated index would split the store across two bases. A residual
    * store's deltas encode RESIDUALLY (plain-PQ codes in a residual
    * store would decode as garbage distances). Codes fuse onto the
    * assignment frame as a column (assignment preserves the vector), so
    * assign + encode is ONE projection with no (id ⋈ id) join. */
  private[graft] def encodeDelta(ix: AnnIndex, delta: DataFrame,
      vecCol: String, idCol: String): DataFrame = {
    val assigned = assignToCentroids(rotateQueries(ix, delta, idCol,
      vecCol), vecCol, idCol, ix.centroids)
    (if (ix.residual)
        withPqCodesResidual(assigned, vecCol, ix.centroids, ix.codebooks,
          ix.m)
      else withPqCodes(assigned, vecCol, ix.codebooks, ix.m))
      .select(col(idCol), col("codes"), col("centroid_id"),
        col("assign_cosine"))
      .localCheckpoint()
  }

  // (n_added, delta_mean_assign_cosine) of encoded adds — one row
  private def deltaStats(adds: DataFrame): DataFrame =
    adds.agg(count(lit(1)).as("n_added"),
      avg(col("assign_cosine")).as("delta_mean_assign_cosine"))

  /** The one commit of every fine-grained maintenance operation: the
    * next version on top of `base`, tagged `tag`, from [[encodeDelta]]
    * `adds` and a one-column frame of deleted ids.
    *
    *  - Without `compact`: the adds become a new `vectors` segment, the
    *    deletes a new `tombstones` segment, and the adds one new
    *    `drift_log` row; every other frame is reused from `base`.
    *  - With `compact`: `vectors` is written as one segment clustered by
    *    cell (one file per populated cell) holding the live rows minus
    *    re-added ids plus the adds; `tombstones` holds only these
    *    deletes, and `drift_log` is rolled up into one row.
    *
    * A crash before the marker leaves `base` serving unchanged.
    * Returns the committed version. */
  private[graft] def commitIndex(base: FrameVersions.Version, tag: String,
      adds: Option[DataFrame], deletes: Option[DataFrame],
      compact: Boolean): Long = {
    // one ledger row per absorbed delta: `n_batches` lets a rollup keep
    // the absorbed-batch count beside the n_added-weighted mean
    val delta = adds.map(deltaStats(_).withColumn("n_batches", lit(1L)))
    val codes = adds.map(_.drop("assign_cosine"))
    val rewritten =
      if (compact) Set("vectors", "tombstones", "drift_log") else Set[String]()
    val carry = base.frames.filterNot(rewritten)
      .map(f => f -> base.segments(f)).toMap
    base.commitWith(tag, carry) { root =>
      // an empty partitioned write lays no data file, only `_SUCCESS`,
      // and such a segment could not be read back: an empty delta
      // keeps the base's `vectors` and commits only its ledger row
      val (vectors, ledger) =
        if (!compact) (codes.filterNot(_.isEmpty), delta)
        else {
          val live = liveVectors(base)
          val kept = adds.fold(live)(a => live.join(a.select(a.columns.head),
            Seq(a.columns.head), "left_anti"))
          (Some(codes.fold(kept)(kept.unionByName(_))
              .repartition(col("centroid_id"))),
            (driftLog(base) ++ delta).reduceOption(_.unionByName(_))
              .map(rollUp))
        }
      vectors.foreach(_.write.partitionBy("centroid_id")
        .parquet(s"$root/vectors"))
      deletes.foreach(_.write.parquet(s"$root/tombstones"))
      ledger.foreach(_.coalesce(1).write.parquet(s"$root/drift_log"))
    }
  }

  /** Incremental index maintenance — the retrieval twin of the
    * incremental-dedup discipline: encode ONLY the delta against the
    * stored index's FROZEN quantizers (centroids + codebooks are never
    * retrained) and commit the (centroid_id, id, codes) rows as a new
    * `vectors` segment of the next version ([[commitIndex]]). A query
    * against the updated index returns exactly what a full re-encode of
    * (base ∪ delta) against the same quantizers would — assignment and
    * encoding are per-row deterministic — so absorbing a growing corpus
    * costs one narrow delta-sized pass instead of an index rebuild.
    *
    * Frozen quantizers go stale as the corpus distribution drifts, so
    * the returned one-row report carries the retrain signal: the
    * delta's mean assignment cosine vs the build-time mean recorded by
    * [[saveIndex]] (`cosine_drift` = build − delta; a large positive
    * value means the delta lands far from every centroid and recall at
    * fixed nProbe is degrading — time to retrain). The same numbers go
    * to the version's `drift_log` for [[compactIndex]]'s retrain policy,
    * so the signal survives across processes.
    *
    * Scale notes (100 TB): centroids and codebooks broadcast (k and
    * m·k rows); the delta never joins the stored corpus and the commit
    * writes only the delta's segment plus one ledger row; the drift
    * aggregate is one row. A second publisher on the same base is
    * refused by the commit claim.
    *
    * ID CONTRACT (caller-owned): delta ids must be NEW — the update
    * never reconciles against the stored rows, so re-ingesting a
    * `vec_id` already in the index leaves two live rows for it and
    * BOTH surface in [[ivfPqTopK]] results. The cheap default trusts the
    * ingest pipeline (an id check would scan the stored corpus on every
    * delta); pass `checkIdOverlap = true` to fail fast instead — one
    * broadcast-delta semi-join against the stored vectors (delta ids
    * are broadcast-sized in any sane incremental ingest), run BEFORE
    * anything is written.
    *
    * @return one row: (`n_added`, `delta_mean_assign_cosine`,
    *         `build_mean_assign_cosine`, `cosine_drift` — null when
    *         the stored meta has no build-time mean) */
  def updateIndex(spark: SparkSession, dir: String, delta: DataFrame,
      vecCol: String, idCol: String,
      checkIdOverlap: Boolean = false): DataFrame = {
    val base = indexVersion(spark, dir)
    val ix = loadIndexAt(base)
    if (checkIdOverlap) {
      val nDup = ix.assignedEncoded
        .join(broadcast(delta.select(col(idCol)).distinct()), Seq(idCol),
          "left_semi")
        .count()
      require(nDup == 0L,
        s"updateIndex: $nDup delta id(s) already present in $dir " +
          s"— re-ingesting an id leaves duplicate live rows (id contract)")
    }
    val adds = encodeDelta(ix, delta, vecCol, idCol)
    commitIndex(base, "-", Some(adds), None, compact = false): Unit
    val build =
      if (ix.meanAssignCosine.isNaN) lit(null).cast("double")
      else lit(ix.meanAssignCosine)
    deltaStats(adds)
      .select(col("n_added"), col("delta_mean_assign_cosine"),
        build.as("build_mean_assign_cosine"),
        (build - col("delta_mean_assign_cosine")).as("cosine_drift"))
      .localCheckpoint()
  }

  /** Delete vectors from a stored index WITHOUT rewriting it — the
    * tombstone side of the serving lifecycle (right-to-erasure,
    * content takedown): the ids commit as a new `tombstones` segment of
    * the next version ([[commitIndex]]) and [[loadIndex]] anti-joins
    * them out, so every consumer — serve, rerank, the next compaction —
    * behaves as if the rows were never encoded. [[compactIndex]]
    * purges them PHYSICALLY (its rewrite reads the filtered view) and
    * starts an empty tombstone set.
    *
    * Caller-owned caveats: re-adding a tombstoned id via
    * [[updateIndex]] stays dead until a compaction purges the tombstone
    * first; deleting an id absent from the index is a harmless no-op.
    * Cost: delta-sized write + two tiny counts — the index is NOT
    * rewritten (that is the point; at 100 TB a per-delete rewrite would
    * be the bug).
    *
    * @return one-row report (n_deleted_now, n_tombstones_total) */
  def deleteFromIndex(spark: SparkSession, dir: String, ids: DataFrame,
      idCol: String): DataFrame = {
    val base = indexVersion(spark, dir)
    val del = ids.select(col(idCol)).distinct().localCheckpoint()
    val next = commitIndex(base, "-", None, Some(del), compact = false)
    val total = base.copy(n = next).read("tombstones").distinct().count()
    spark.range(1).select(
      lit(del.count()).as("n_deleted_now"),
      lit(total).as("n_tombstones_total"))
  }

  /** Build an IVF-PQ index over `corpus` (already in the index basis):
    * `kCells` coarse cells, `m`×`k` PQ codebooks (residual when
    * `residual`), and the assigned-and-encoded corpus as (`idCol`,
    * `centroid_id`, `assign_cosine`, `codes`), checkpointed, with the
    * row carrying the build-time assignment-cosine mean and σ that
    * [[saveIndex]] records. One checkpointed pass feeds both the
    * statistics and the vectors write, and assign + encode is ONE
    * projection — no corpus-scale (id ⋈ id) reattachment join. The same
    * deterministic id-hash sampling as [[ivfIndex]]/[[pqCodebooks]], so
    * two builds on one corpus are bit-identical. */
  private[graft] def buildIndex(corpus: DataFrame, vecCol: String,
      idCol: String, kCells: Int, m: Int, k: Int, residual: Boolean)
      : (DataFrame, DataFrame, DataFrame, Row) = {
    val (cents, assigned) = ivfIndex(corpus, vecCol, idCol, kCells)
    val cb =
      if (residual)
        pqCodebooksResidual(corpus, vecCol, idCol,
          assigned.select(col(idCol), col("centroid_id")), cents, m, k)
      else pqCodebooks(corpus, vecCol, idCol, m, k)
    val ae = (if (residual)
        withPqCodesResidual(assigned, vecCol, cents, cb, m)
      else withPqCodes(assigned, vecCol, cb, m))
      .select(col(idCol), col("centroid_id"), col("assign_cosine"),
        col("codes"))
      .localCheckpoint()
    val st = ae.agg(avg(col("assign_cosine")),
      stddev_pop(col("assign_cosine"))).head()
    (cents, cb, ae, st)
  }

  /** Retrain executor — the ACTION behind [[compactIndex]]'s
    * `retrain_recommended`, closing the lifecycle loop (build → serve
    * → update → drift ledger → compact → recommend → RETRAIN):
    * rebuilds the coarse quantizer and PQ codebooks from `corpus`
    * (the caller-owned float table — codes are lossy, so retraining
    * needs the source vectors) through [[buildIndex]], so a retrain on
    * corpus C is BIT-IDENTICAL to a fresh build on C, and commits the
    * rebuild as the index's next [[FrameVersions]] version. The version
    * it read is never touched, so a reader that loaded (even lazily)
    * before the retrain keeps serving it bit for bit while the rebuild
    * publishes on top. Stored tombstones are applied to `corpus` BEFORE
    * training (erased rows must not shape the new quantizers) and the
    * new version starts clean: no drift ledger, no tombstones — the
    * next recommendation reflects only post-retrain deltas. A crashed
    * retrain leaves an uncommitted, claimed version that nothing
    * serves; `FrameVersions.recover` drops it before the next retrain.
    *
    * The returned one-row report carries the recall audit the judge
    * of a retrain wants: measured recall@`recallK` (vs exact brute
    * force over the live corpus, [[recallAtK]]'s protocol) on a
    * deterministic id-hash-ranked sample of `sampleQueries` corpus
    * vectors, BEFORE and AFTER — sustained drift shows up as
    * `n_hits_after > n_hits_before` at fixed `nProbe`.
    *
    * Scale notes (100 TB): training cost is the [[saveIndex]] build
    * path (one corpus pass per stage, quantizer frames broadcast-
    * sized); the recall audit is |sample|·|corpus| brute force —
    * keep `sampleQueries` small, it is an audit, not a benchmark;
    * superseded versions (the saveIndex root included) stay on disk
    * until `FrameVersions.vacuum`.
    *
    * @return one row: (`n_corpus`, `n_tombstones_purged`, `k_cells`,
    *         `m`, `k_codewords`, `n_exact`, `n_hits_before`,
    *         `n_hits_after`) */
  def retrainIndex(spark: SparkSession, dir: String, corpus: DataFrame,
      vecCol: String, idCol: String, sampleQueries: Int = 8,
      recallK: Int = 5, nProbe: Int = 3): DataFrame = {
    require(sampleQueries >= 1 && sampleQueries <= 256,
      "sampleQueries must be in [1, 256] — this is an audit sample")
    val base = indexVersion(spark, dir)
    val ix = loadIndexAt(base)
    val kCells = ix.centroids.count().toInt
    val (live, purged) =
      if (base.has("tombstones")) {
        val t = base.read("tombstones")
        val tomb = t.select(col(t.columns.head).as(idCol)).distinct()
        (corpus.join(tomb, Seq(idCol), "left_anti").localCheckpoint(),
          tomb.count())
      } else (corpus, 0L)
    val qs = live
      .withColumn("_h",
        pmod(col(idCol) * lit(2654435761L), lit(4294967296L)))
      .orderBy(col("_h"), col(idCol)).limit(sampleQueries).drop("_h")
      .localCheckpoint()
    val exact = bruteForceTopK(qs, live, vecCol, idCol, recallK)
      .localCheckpoint()
    // audit queries are raw corpus vectors — serve them the way a user
    // would: through the index-basis rotation
    def hits(index: AnnIndex): Long =
      recallAtK(exact, serveIndex(index, qs, vecCol, idCol, recallK, nProbe))
        .agg(sum(col("n_hits"))).head().getLong(0)
    // A rotated index KEEPS its rotation across retrain: the corpus
    // (raw basis) rotates once, quantizers retrain on the rotated
    // vectors, and the record carries over — refitting the rotation
    // itself is the caller's choice (the pcaMoments-maintenance path),
    // not a side effect of a quantizer refresh.
    def rebuild() = {
      val liveB =
        if (ix.rotation.isEmpty && ix.rotationMatrix.isEmpty) live
        else rotateQueries(ix, live, idCol, vecCol).localCheckpoint()
      buildIndex(liveB, vecCol, idCol, kCells, ix.m, ix.k, ix.residual)
    }
    // The before-audit serves the OLD layout and is independent of the
    // rebuild — overlap them (guide §2.6: submit independent job chains
    // from separate threads so one chain's tail back-fills executors
    // the other left idle; both chains are deterministic and the result
    // is order-free). Both finish before the claim, so a failed audit
    // or rebuild leaves no claimed version, and a committed version
    // always has its report.
    val Seq(Left(hitsBefore), Right((cents, cb, ae, st))) =
      Concurrently.map(Seq[() => Either[Long, (DataFrame, DataFrame,
        DataFrame, Row)]](() => Left(hits(ix)), () => Right(rebuild())))(
        _())
    // The rebuild commits as the next version — the saveIndex path
    // verbatim into its root.
    val next = base.commitWith() { root =>
      saveIndex(root, cents, cb,
        ae.select(col(idCol), col("codes"), col("centroid_id")),
        ix.m, ix.k, st.getDouble(0), st.getDouble(1), ix.rotation,
        ix.rotationMatrix, ix.residual)
    }
    val hitsAfter = hits(loadIndexAt(base.copy(n = next)))
    val nExact = exact.count()
    spark.range(1).select(
      lit(live.count()).as("n_corpus"),
      lit(purged).as("n_tombstones_purged"),
      lit(kCells).as("k_cells"),
      lit(ix.m).as("m"),
      lit(ix.k).as("k_codewords"),
      lit(nExact).as("n_exact"),
      lit(hitsBefore).as("n_hits_before"),
      lit(hitsAfter).as("n_hits_after"))
  }

  // Version `v`'s drift ledger rows as (n_added,
  // delta_mean_assign_cosine, n_batches), or None without a ledger.
  // mergeSchema: a MIXED ledger (pre-r11 2-col files beside 3-col rows)
  // would otherwise infer its schema from whichever file footer is read
  // first — old rows would read n_batches as null and sum() would skip
  // them. Each row without n_batches was one ingest batch.
  private def driftLog(v: FrameVersions.Version): Option[DataFrame] =
    if (!v.has("drift_log")) None
    else {
      val raw = v.spark.read.option("mergeSchema", "true")
        .parquet(v.paths("drift_log"): _*)
      Some(raw.select(col("n_added"), col("delta_mean_assign_cosine"),
        (if (raw.schema.fieldNames.contains("n_batches"))
          coalesce(col("n_batches").cast("long"), lit(1L))
        else lit(1L)).as("n_batches")))
    }

  // A drift ledger folded to its one-row summary: Σ n_added, the
  // n_added-weighted mean assign cosine, Σ n_batches — sufficient
  // statistics for the retrain verdict.
  private def rollUp(log: DataFrame): DataFrame =
    log.agg(sum(col("n_added")).as("n_added"),
      (sum(col("n_added") * col("delta_mean_assign_cosine")) /
        sum(col("n_added"))).as("delta_mean_assign_cosine"),
      sum(col("n_batches")).as("n_batches"))

  // The retrain verdict WITHOUT the compaction rewrite — what lets
  // [[maintainIndex]] decide BEFORE acting: the compactIndex report's
  // decision columns, from the ledger and the meta of one version.
  private final case class DriftVerdict(nDeltas: Long, deltaMean: Double,
      buildMean: Double, tol: Double) {
    val drift: Double =
      if (deltaMean.isNaN || buildMean.isNaN) Double.NaN
      else buildMean - deltaMean
    // None when either mean is unrecorded
    def recommended: Option[Boolean] =
      if (drift.isNaN) None else Some(drift > tol)
  }

  private def driftVerdictAt(v: FrameVersions.Version,
      driftTolerance: Double): DriftVerdict = {
    val (nDeltas, deltaMean) = driftLog(v).fold((0L, Double.NaN)) { log =>
      val r = rollUp(log).head()
      (if (r.isNullAt(2)) 0L else r.getLong(2),
        if (r.isNullAt(1)) Double.NaN else r.getDouble(1))
    }
    val ix = loadIndexAt(v)
    DriftVerdict(nDeltas, deltaMean, ix.meanAssignCosine,
      if (!driftTolerance.isNaN) driftTolerance
      else if (!ix.assignCosineStd.isNaN) 2.0 * ix.assignCosineStd
      else 0.05)
  }

  // a double literal, null for NaN (an unrecorded mean)
  private def optLit(x: Double): Column =
    if (x.isNaN) lit(null).cast("double") else lit(x)

  /** Parquet files under version `v`'s `vectors` segments. */
  private[graft] def vectorFiles(v: FrameVersions.Version): Long =
    v.read("vectors").inputFiles.length.toLong

  /** Compact an index after repeated [[updateIndex]] commits: every
    * update adds one parquet fragment set (a `vectors` segment), so a
    * daily-ingest serving index accumulates small files until scan
    * efficiency dies (file-open overhead + tiny row groups defeat the
    * vectorized reader). Commits the next version ([[commitIndex]]
    * with `compact`) whose `vectors` is rewritten clustered by
    * `centroid_id` — one writer task per cell, so each partition
    * directory holds a single file — then vacuums to that version:
    * tombstoned rows, superseded segments and older versions are
    * PHYSICALLY gone, so a reader still on an older version must
    * reload. The rows (id, codes, centroid_id) are untouched: a query
    * against the compacted index returns EXACTLY what the fragmented
    * one did (the spec asserts bit-equality; q_x3p's oracle is q_x3k's).
    *
    * RETRAIN POLICY (the consumer of [[updateIndex]]'s `cosine_drift`):
    * every [[updateIndex]] commit adds its one-row report to the
    * version's `drift_log`, and compaction — the natural maintenance
    * point — reads the whole log and recommends. `retrain_recommended`
    * is true when the n_added-weighted mean assignment cosine of ALL
    * absorbed deltas has fallen more than `driftTolerance` below the
    * build-time mean recorded by [[saveIndex]] — the documented default
    * tolerance is 2× the build-time assignment-cosine STANDARD
    * DEVIATION when [[saveIndex]] recorded one (a delta population
    * whose mean sits outside 2σ of the build distribution is
    * structurally new mass the frozen centroids cannot cover), falling
    * back to `0.05` absolute. Once recommended, rebuild quantizers with
    * [[retrainIndex]]; the deltas-weighted mean (not the last delta
    * alone) means one outlier batch does not trigger a retrain but
    * sustained drift does. Null when there is no log or no recorded
    * build mean.
    *
    * Scale notes (100 TB): the rewrite is one shuffle of the codes
    * table (m bytes + id per row — the floats never ship), exactly the
    * cost profile of a parquet table compaction job; the drift log is
    * one tiny row per ingest batch, and compaction ROLLS IT UP into a
    * single summary row in a single file (weighted mean + batch count
    * are sufficient statistics — the policy verdict is unchanged, the
    * per-ingest small files are gone); a retrain starts an empty
    * ledger and tombstone set, so the recommendation always reflects
    * deltas absorbed since the last quantizer build.
    *
    * @return one row: (`n_rows`, `files_before`, `files_after`,
    *         `n_tombstones_purged`, `n_deltas_absorbed`,
    *         `delta_weighted_mean_cosine`, `build_mean_assign_cosine`,
    *         `cosine_drift`, `drift_tolerance`, `retrain_recommended`) */
  def compactIndex(spark: SparkSession, dir: String,
      driftTolerance: Double = Double.NaN): DataFrame = {
    val base = indexVersion(spark, dir)
    val verdict = driftVerdictAt(base, driftTolerance)
    val nRows = liveVectors(base).count()
    val before = vectorFiles(base)
    val purged =
      if (base.has("tombstones"))
        base.read("tombstones").distinct().count()
      else 0L
    val next = commitIndex(base, "-", None, None, compact = true)
    FrameVersions.vacuum(spark, dir): Unit
    spark.range(1).select(
      lit(nRows).as("n_rows"),
      lit(before).as("files_before"),
      lit(vectorFiles(base.copy(n = next))).as("files_after"),
      lit(purged).as("n_tombstones_purged"),
      lit(verdict.nDeltas).as("n_deltas_absorbed"),
      optLit(verdict.deltaMean).as("delta_weighted_mean_cosine"),
      optLit(verdict.buildMean).as("build_mean_assign_cosine"),
      optLit(verdict.drift).as("cosine_drift"),
      lit(verdict.tol).as("drift_tolerance"),
      verdict.recommended.fold(lit(null).cast("boolean"))(lit(_))
        .as("retrain_recommended"))
  }

  /** One-call self-driving maintenance — the POLICY CLOSURE of the
    * serving lifecycle (build → serve → update → drift ledger →
    * recommend → act), the `autoRebatch`/banding-auto-tune discipline
    * applied to the ANN index: the measured verdict derives from the
    * drift ledger + meta alone (no rewrite), then exactly ONE action
    * runs — `retrain_recommended` dispatches [[retrainIndex]] (the
    * rebuild commits as the next version and subsumes compaction —
    * tombstones purge, fragments vanish, the ledger clears), anything
    * else runs [[compactIndex]] on the latest version. The action
    * is conditioned on the measured signal, not on an operator
    * remembering to check a report column,
    * and a retrain never pays a wasted pre-compaction of the store it
    * is about to supersede. A null verdict (no ledger or no recorded
    * build mean) conservatively does NOT retrain.
    *
    * `corpus` is the caller-owned float table retraining needs
    * (codes are lossy); it is only read when the verdict says
    * retrain. Tolerance semantics are [[compactIndex]]'s: explicit
    * `driftTolerance`, else 2× the recorded build-time assignment-
    * cosine σ, else 0.05 absolute.
    *
    * Scale notes (100 TB): the no-retrain branch costs exactly one
    * compaction (codes-only shuffle + d-row ledger math); the retrain
    * branch adds the [[retrainIndex]] build passes — the expensive
    * path runs only when sustained measured drift says the quantizers
    * stopped covering the corpus. Both actions commit the next
    * version, as their constituents do.
    *
    * @return one row: (`action` ∈ retrained | compacted,
    *         `cosine_drift`, `drift_tolerance`,
    *         `n_deltas_absorbed`, `n_rows`, `n_hits_before`,
    *         `n_hits_after` — the retrain recall audit, null on the
    *         compact-only branch) */
  def maintainIndex(spark: SparkSession, dir: String, corpus: DataFrame,
      vecCol: String, idCol: String,
      driftTolerance: Double = Double.NaN, sampleQueries: Int = 8,
      recallK: Int = 5, nProbe: Int = 3): DataFrame = {
    // decide FIRST (ledger + meta — no rewrite), then run exactly ONE
    // action: the old run-compaction-then-maybe-retrain shape paid a
    // wasted store-sized vectors rewrite on every retrain (the rebuild
    // subsumes compaction: tombstones purge, fragments vanish, the
    // ledger clears) and mutated the version a pinned reader was
    // serving right before superseding it
    val verdict = driftVerdictAt(indexVersion(spark, dir), driftTolerance)
    if (verdict.recommended.getOrElse(false)) {
      val audit = retrainIndex(spark, dir, corpus, vecCol, idCol,
        sampleQueries, recallK, nProbe).head()
      spark.range(1).select(
        lit("retrained").as("action"),
        optLit(verdict.drift).as("cosine_drift"),
        lit(verdict.tol).as("drift_tolerance"),
        lit(verdict.nDeltas).as("n_deltas_absorbed"),
        lit(audit.getAs[Long]("n_corpus")).as("n_rows"),
        lit(audit.getAs[Long]("n_hits_before")).as("n_hits_before"),
        lit(audit.getAs[Long]("n_hits_after")).as("n_hits_after"))
    } else {
      compactIndex(spark, dir, driftTolerance).select(
        lit("compacted").as("action"), col("cosine_drift"),
        col("drift_tolerance"), col("n_deltas_absorbed"), col("n_rows"),
        lit(null).cast("long").as("n_hits_before"),
        lit(null).cast("long").as("n_hits_after"))
    }
  }

  /** EXACT-integer second-moment table for PCA over an embedding
    * column — the distributed half of principal-component analysis
    * (whitening/rotation is standard preprocessing for OPQ-style
    * quantizers and semantic dedup): every component is e6-quantized
    * (`floor(x·1e6 + 0.5)` as BIGINT — float→double widening is
    * exact, so both engines quantize identically), and all moments
    * accumulate in EXACT long arithmetic — per-dimension sums and the
    * upper-triangle product sums Σ xᵢ·xⱼ (i ≤ j; e6 components of
    * unit-scale embeddings keep n·xᵢ·xⱼ ≲ 2⁵¹ at bench scale, far
    * from overflow) — so the model is partition-order-free and fully
    * SQL-replayable. The covariance itself is one double expression
    * of the exact longs, association mirrored in the oracle:
    * `cov = (sp − sᵢ·sⱼ/n) / n / 1e12`.
    *
    * Scale notes (100 TB): corpus-sized work = one narrow per-row
    * upper-triangle zip (d(d+1)/2 structs per row — the Gram
    * shuffle; output is d²-bounded, never corpus-bounded, and the
    * groupBy partial-aggregates map-side) + one posexplode for the
    * per-dimension sums. d is the embedding width (64 here; a few
    * thousand at most in practice) — the model is a d²-row frame.
    *
    * @return (i, j, n, s_i, s_j, sp, cov) for 0 ≤ i ≤ j < d */
  def pcaMoments(vectors: DataFrame, vecCol: String): DataFrame = {
    val v6 = vectors.select(expr(
      s"transform($vecCol, x -> " +
        "cast(floor(x * 1e6 + 0.5d) as bigint))").as("_v6"))
    val ex = v6.select(posexplode(col("_v6")).as(Seq("i", "x")))
    val sums = ex.groupBy("i")
      .agg(sum("x").as("s"), count(lit(1)).as("n"))
    val prods = v6.select(explode(expr(
      "flatten(transform(_v6, (x, i) -> " +
        "transform(slice(_v6, i + 1, size(_v6) - i), (y, j) -> " +
        "struct(i as i, i + j as j, x * y as p))))")).as("_p"))
      .select(col("_p.i").as("i"), col("_p.j").as("j"),
        col("_p.p").as("p"))
      .groupBy("i", "j").agg(sum("p").as("sp"))
    prods
      .join(sums.select(col("i"), col("s").as("s_i"), col("n")),
        Seq("i"))
      .join(sums.select(col("i").as("j"), col("s").as("s_j")),
        Seq("j"))
      .select(col("i").cast("long").as("i"),
        col("j").cast("long").as("j"), col("n"), col("s_i"),
        col("s_j"), col("sp"),
        ((col("sp").cast("double") -
          col("s_i").cast("double") * col("s_j") / col("n")) /
          col("n") / lit(1e12)).as("cov"))
  }

  /** A maintainable [[pcaMoments]] store: the doc registry plus the
    * exact-integer moment table. Every sum in the moments is an exact
    * long — SUBTRACTABLE, like the trigram and word stores — so the
    * rotation/whitening preprocessing ([[pcaFit]],
    * [[givensCascadeFit]]) can refit off a maintained table without
    * ever rescanning the corpus. */
  final case class MomentsStore(docs: DataFrame, moments: DataFrame)

  /** One corpus pass → a fresh [[MomentsStore]] (the ground truth
    * [[maintainPcaMoments]] keeps current). */
  def buildMomentsStore(vectors: DataFrame, idCol: String,
      vecCol: String): MomentsStore =
    MomentsStore(
      docs = vectors.select(col(idCol).as("doc_id")),
      moments = pcaMoments(vectors, vecCol))

  /** EXACT maintenance of a [[MomentsStore]] under vector ADDS and
    * TAKEDOWNS — moments are sums of per-row integer terms, so the
    * maintained table is old + added − removed in exact long
    * arithmetic, cell for cell EQUAL to [[pcaMoments]] over the
    * post-change corpus (and `cov` is the same double expression of
    * the same longs — bit-equal, so a refit off the maintained table
    * is bit-identical to a refit off a rescan). Contract = the
    * [[graft.operators.Tokenizer.maintainWordStore]] grid standard:
    * `removedVecs` carries the GROUND-TRUTH vectors being erased; an
    * unknown-id takedown no-ops (registry semi-join); re-adding a
    * LIVE id requires its old row in `removedVecs` (fail loudly —
    * the moment table stores no per-doc terms); a subtraction driving
    * the count negative fails loudly; same-call duplicate ids fold
    * deterministically (max vector, the CDC fold).
    *
    * Scale notes (100 TB): delta-sized moment passes (two narrow
    * upper-triangle zips), one d²-row 3-way merge, broadcast-gated
    * registry checks; the corpus is never rescanned. */
  def maintainPcaMoments(store: MomentsStore, addedVecs: DataFrame,
      removedVecs: DataFrame, idCol: String,
      vecCol: String): MomentsStore = {
    val adds = addedVecs
      .select(col(idCol).as("doc_id"), col(vecCol).as("_v"))
      .groupBy("doc_id").agg(max(col("_v")).as("_v"))
      .localCheckpoint()
    val rems = removedVecs
      .select(col(idCol).as("doc_id"), col(vecCol).as("_v"))
      .groupBy("doc_id").agg(max(col("_v")).as("_v"))
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
          raise_error(lit("maintainPcaMoments: re-add of a live id " +
            "without its old row in removedVecs — the moment table " +
            "stores no per-doc terms, so the leaving vector must " +
            "ship")).cast("boolean"))
          .otherwise(lit(true)))
      .select(lit(1).as("_ok"))
    def mom(d: DataFrame, sfx: String): DataFrame =
      pcaMoments(d.select(col("_v").as(vecCol)), vecCol)
        .select(col("i"), col("j"), col("n").as(s"_n$sfx"),
          col("s_i").as(s"_si$sfx"), col("s_j").as(s"_sj$sfx"),
          col("sp").as(s"_sp$sfx"))
    val merged = store.moments
      .select("i", "j", "n", "s_i", "s_j", "sp")
      .join(mom(adds, "a"), Seq("i", "j"), "full")
      .join(mom(liveRems, "r"), Seq("i", "j"), "full")
      .select(col("i"), col("j"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("_na"), lit(0L)) -
          coalesce(col("_nr"), lit(0L))).as("n"),
        (coalesce(col("s_i"), lit(0L)) +
          coalesce(col("_sia"), lit(0L)) -
          coalesce(col("_sir"), lit(0L))).as("s_i"),
        (coalesce(col("s_j"), lit(0L)) +
          coalesce(col("_sja"), lit(0L)) -
          coalesce(col("_sjr"), lit(0L))).as("s_j"),
        (coalesce(col("sp"), lit(0L)) + coalesce(col("_spa"), lit(0L)) -
          coalesce(col("_spr"), lit(0L))).as("sp"))
      .filter(
        when(col("n") < 0L,
          raise_error(lit("maintainPcaMoments: a moment count went " +
            "negative — removedVecs does not match what the store " +
            "accumulated (erasure must ship ground truth)"))
            .cast("boolean"))
          .otherwise(col("n") > 0L))
      // cov re-derives from the merged longs with pcaMoments' OWN
      // association — bit-equal to the one-shot rebuild
      .withColumn("cov",
        (col("sp").cast("double") -
          col("s_i").cast("double") * col("s_j") / col("n")) /
          col("n") / lit(1e12))
    MomentsStore(
      docs = store.docs.select("doc_id")
        .join(broadcast(remIds.unionByName(addIds).distinct()),
          Seq("doc_id"), "left_anti")
        .unionByName(addIds),
      moments = merged.crossJoin(broadcast(guard)).drop("_ok"))
  }

  /** Commit / load a [[MomentsStore]] (`docs/`, `moments/`) — the
    * [[Relevance.saveLexIndex]] commit and its one-version load. */
  def saveMomentsStore(store: MomentsStore, dir: String,
      tag: String = "-"): Long =
    FrameVersions.commit(store.docs.sparkSession, dir, Seq(
      "docs" -> store.docs, "moments" -> store.moments), tag)

  def loadMomentsStore(spark: SparkSession,
      dir: String): MomentsStore = {
    val v = FrameVersions.latest(spark, dir)
    MomentsStore(docs = v.read("docs"), moments = v.read("moments"))
  }

  /** A fitted PCA model: per-dimension means (of the e6-quantized
    * components, descaled), the top-k components (rows, orthonormal),
    * and their eigenvalues — all plain driver-side arrays; the d×d
    * eigensolve is a DOCUMENTED BOUNDED driver step (the ≤64-landmark
    * fetch discipline: d² covariance cells, never corpus rows). */
  final case class PcaModel(means: Array[Double],
      components: Array[Array[Double]], eigenvalues: Array[Double])

  /** Fit PCA: [[pcaMoments]] (distributed, exact) + power iteration
    * with deflation on the collected d×d covariance (driver-side,
    * DETERMINISTIC — a fixed all-ones start and a fixed iteration
    * count, no data-dependent convergence test, so the same moments
    * give bit-identical components on any cluster). Eigenvector sign
    * is pinned: the largest-|weight| coordinate is made positive
    * (v and −v span the same axis; the pin makes results
    * comparable). */
  def pcaFit(vectors: DataFrame, vecCol: String, k: Int,
      iters: Int = 100): PcaModel =
    pcaFitFromMoments(pcaMoments(vectors, vecCol), k, iters)

  /** [[pcaFit]] off an existing moment table — the serving path of
    * the [[MomentsStore]]: a maintained table refits WITHOUT a corpus
    * rescan, bit-identical to the rescan fit (the maintained longs
    * are cell-equal and `cov` shares the association). */
  def pcaFitFromMoments(moments: DataFrame, k: Int,
      iters: Int = 100): PcaModel = {
    require(k >= 1, "k must be >= 1")
    require(iters >= 1, "iters must be >= 1")
    // consume pcaMoments' own `cov` column — the documented (and
    // oracled) centered covariance `(sp − sᵢ·sⱼ/n) / n / 1e12` — so
    // the eigensolve can never disagree with the moments it rides on
    // (an earlier re-derivation here mis-associated the centering
    // term and skewed the axes of any non-zero-mean corpus)
    val rows = moments
      .select("i", "j", "n", "s_i", "cov").collect()
    val d = rows.map(_.getLong(1)).max.toInt + 1
    require(k <= d, s"k must be <= dim $d")
    val n = rows.head.getLong(2).toDouble
    val means = new Array[Double](d)
    rows.foreach { r =>
      if (r.getLong(0) == r.getLong(1))
        means(r.getLong(0).toInt) = r.getLong(3) / n / 1e6
    }
    val c = Array.ofDim[Double](d, d)
    rows.foreach { r =>
      val (i, j) = (r.getLong(0).toInt, r.getLong(1).toInt)
      val cov = r.getDouble(4)
      c(i)(j) = cov; c(j)(i) = cov
    }
    val comps = Array.ofDim[Double](k, d)
    val eigs = new Array[Double](k)
    val b = c.map(_.clone())
    for (comp <- 0 until k) {
      var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
      var it = 0
      while (it < iters) {
        val w = new Array[Double](d)
        var i = 0
        while (i < d) {
          var acc = 0.0; var j = 0
          while (j < d) { acc += b(i)(j) * v(j); j += 1 }
          w(i) = acc; i += 1
        }
        val nrm = math.sqrt(w.map(x => x * x).sum)
        v = if (nrm > 0) w.map(_ / nrm) else w
        it += 1
      }
      // Rayleigh quotient on the deflated matrix
      var lam = 0.0
      for (i <- 0 until d; j <- 0 until d) lam += v(i) * b(i)(j) * v(j)
      // sign pin: largest-|weight| coordinate positive
      val pivot = v.indices.maxBy(i => (math.abs(v(i)), -i))
      if (v(pivot) < 0) v = v.map(-_)
      comps(comp) = v; eigs(comp) = lam
      for (i <- 0 until d; j <- 0 until d) b(i)(j) -= lam * v(i) * v(j)
    }
    PcaModel(means, comps, eigs)
  }

  /** Project embeddings onto a fitted model top-k axes:
    * y_c = Σᵢ w_ci · (xᵢ − meanᵢ), as one posexplode + a BROADCAST
    * join on the (component, dimension, weight, mean) frame + a
    * per-(id, component) partial-agg sum — narrow, corpus scanned
    * once, no driver-side literals. Output (`idCol`, component
    * 0..k−1, y). */
  /** Full-basis PCA ROTATION: project onto all d components and
    * reassemble per-id vectors (component order, float — the
    * embedding-column convention), i.e. the OPQ-P recipe (Ge et al.
    * 2013's PCA-initialized orthogonal product quantization):
    * decorrelate FIRST, then product-quantize, so PQ's per-subspace
    * codebooks stop spending budget on cross-subspace correlation.
    * The rotation is orthogonal and centering is a translation, so
    * L2 geometry — and therefore the PQ/ADC ground truth — is
    * preserved exactly; fit with `k = d`. One [[pcaProject]] pass +
    * a per-id collect_list reassembly (d rows → one array). */
  def pcaRotate(vectors: DataFrame, idCol: String, vecCol: String,
      model: PcaModel): DataFrame =
    pcaProject(vectors, idCol, vecCol, model)
      .groupBy(col(idCol))
      .agg(transform(
        array_sort(collect_list(struct(col("component"), col("y")))),
        s => s.getField("y").cast("float")).as(vecCol))

  /** One stage of the closed-form OPQ cascade: d/2 DISJOINT Givens
    * rotations along the butterfly pairing (i, i+offset), angles from
    * the classic Jacobi closed form. `cos`/`sin` are indexed BY
    * DIMENSION — both members of a pair carry the pair's angle — so
    * the rotate step is a pure per-element expression. */
  final case class GivensStage(offset: Int, cos: Array[Double],
      sin: Array[Double])

  /** Fit an OPQ-STYLE data-dependent orthogonal rotation as a bounded
    * Jacobi sweep: for each butterfly offset (an FFT-style schedule —
    * offsets (d/2, d/4, …, 1) let every dimension interact with every
    * other transitively), diagonalize each disjoint (i, i+offset)
    * covariance block with the CLOSED-FORM Jacobi angle
    * (τ = (a_qq − a_pp)/(2·a_pq); t = sign(τ)/(|τ| + √(1+τ²));
    * c = 1/√(1+t²); s = t·c — division and IEEE-correctly-rounded
    * sqrt only, NO transcendentals and NO iteration), then update the
    * covariance exactly (B = (G·A)·Gᵀ, two 2-term steps per cell) for
    * the next stage's angles.
    *
    * This is the ORACLE-PORTABLE member of the rotation family: every
    * double op is a fixed-association expression of [[pcaMoments]]'
    * exact integers, so DuckDB replays the whole cascade bit-for-bit
    * — its spec-proven sibling [[pcaRotate]] (full-basis PCA, the
    * OPQ-P recipe proper) rides a power-iteration eigensolve that no
    * ANSI engine can replay. Like Jacobi sweeps generally, each stage
    * kills the swept blocks' correlation outright; cross-subspace
    * structure (what PQ codebooks waste budget on) concentrates onto
    * the diagonal within a few stages.
    *
    * Scale notes (100 TB): one [[pcaMoments]] pass (the corpus-sized
    * work); the collect is d² covariance cells (the bounded-fetch
    * discipline [[pcaFit]] documents); the sweep itself is
    * d²·stages driver flops. */
  def givensCascadeFit(vectors: DataFrame, vecCol: String,
      offsets: Seq[Int]): Seq[GivensStage] =
    givensCascadeFitFromMoments(pcaMoments(vectors, vecCol), offsets)

  /** [[givensCascadeFit]] off an existing moment table — the
    * [[MomentsStore]] serving path: a maintained table refits the
    * rotation without a corpus rescan, bit-identical to the rescan
    * fit (same longs, same `cov` association, same sweep). */
  def givensCascadeFitFromMoments(moments: DataFrame,
      offsets: Seq[Int]): Seq[GivensStage] = {
    require(offsets.nonEmpty, "need at least one butterfly offset")
    val cells = moments
      .select("i", "j", "cov").collect()
    val d = cells.map(_.getLong(1)).max.toInt + 1
    offsets.foreach(o => require(o >= 1 && d % (2 * o) == 0,
      s"offset $o must tile dim $d (d % (2*offset) == 0)"))
    val a = Array.ofDim[Double](d, d)
    cells.foreach { r =>
      val (i, j) = (r.getLong(0).toInt, r.getLong(1).toInt)
      val c = r.getDouble(2); a(i)(j) = c; a(j)(i) = c
    }
    offsets.map { o =>
      val pairs = (0 until d).filter(i => (i / o) % 2 == 0)
        .map(i => (i, i + o))
      val cs = new Array[Double](d); val sn = new Array[Double](d)
      pairs.foreach { case (p, q) =>
        val app = a(p)(p); val aqq = a(q)(q); val apq = a(p)(q)
        val t =
          if (apq == 0.0) 0.0
          else {
            val tau = (aqq - app) / (2.0 * apq)
            if (tau >= 0.0) 1.0 / (tau + math.sqrt(1.0 + tau * tau))
            else -1.0 / (-tau + math.sqrt(1.0 + tau * tau))
          }
        val c = 1.0 / math.sqrt(1.0 + t * t)
        val s = t * c
        cs(p) = c; cs(q) = c; sn(p) = s; sn(q) = s
      }
      // exact-order covariance update for the next stage: rows first
      // (T = G·A), then columns (B = T·Gᵀ) — the oracle mirrors both
      // 2-term expressions operand for operand
      val tm = a.map(_.clone())
      pairs.foreach { case (p, q) =>
        val c = cs(p); val s = sn(p)
        var j = 0
        while (j < d) {
          tm(p)(j) = c * a(p)(j) - s * a(q)(j)
          tm(q)(j) = s * a(p)(j) + c * a(q)(j)
          j += 1
        }
      }
      pairs.foreach { case (p, q) =>
        val c = cs(p); val s = sn(p)
        var i = 0
        while (i < d) {
          a(i)(p) = c * tm(i)(p) - s * tm(i)(q)
          a(i)(q) = s * tm(i)(p) + c * tm(i)(q)
          i += 1
        }
      }
      GivensStage(o, cs, sn)
    }
  }

  /** Compose a fitted [[GivensStage]] cascade into its explicit d×d
    * orthogonal matrix (row c = output component c) — the OPQ-P "P"
    * in matrix form: M = G_S · … · G_1, accumulated stage by stage
    * with the SAME two-term per-element expressions
    * [[givensCascadeRotate]] applies to vectors, so every cell is a
    * fixed-association double chain of the closed-form angles and the
    * whole composition is oracle-replayable. Feeding the result to
    * [[pcaRotate]] / [[saveIndex]]'s `rotationMatrix` gives the
    * MATRIX-basis serving path portable weights (the power-iteration
    * [[pcaFit]] model is spec-proven but not ANSI-replayable). Note:
    * composed-then-applied differs from stage-by-stage application by
    * association ulps — the two bases agree up to rounding, not bit
    * for bit; an index lives in exactly ONE of them
    * ([[saveIndex]]'s one-basis rule). */
  def composeGivensMatrix(stages: Seq[GivensStage],
      d: Int): Array[Array[Double]] = {
    require(stages.nonEmpty, "need at least one fitted stage")
    require(stages.forall(_.cos.length == d),
      s"every stage must carry $d per-dimension angles")
    var mat = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    stages.foreach { st =>
      val next = Array.ofDim[Double](d, d)
      var i = 0
      while (i < d) {
        val c = st.cos(i); val s = st.sin(i)
        val lo = (i / st.offset) % 2 == 0
        val mate = if (lo) i + st.offset else i - st.offset
        var j = 0
        while (j < d) {
          next(i)(j) =
            if (lo) c * mat(i)(j) - s * mat(mate)(j)
            else s * mat(mate)(j) + c * mat(i)(j)
          j += 1
        }
        i += 1
      }
      mat = next
    }
    mat
  }

  /** Apply a fitted [[givensCascadeFit]] cascade to an embedding
    * column: per stage, y_p = c·x_p − s·x_q and y_q = s·x_p + c·x_q
    * over the disjoint butterfly pairs — one stateless projection per
    * stage (array element expressions over broadcast-free literal
    * angles; no shuffle, no explode), double throughout, one float
    * cast at the end (the embedding-column convention). Rotation-only
    * (no centering): orthogonal maps preserve L2 exactly, so PQ/ADC
    * ground truth is unchanged. */
  def givensCascadeRotate(vectors: DataFrame, idCol: String,
      vecCol: String, stages: Seq[GivensStage]): DataFrame = {
    require(stages.nonEmpty, "need at least one fitted stage")
    val d = stages.head.cos.length
    val start = vectors.select(col(idCol),
      expr(s"transform($vecCol, x -> cast(x as double))").as("_gr"))
    val rotated = stages.foldLeft(start) { (df, st) =>
      val elems = (0 until d).map { i =>
        val c = lit(st.cos(i)); val s = lit(st.sin(i))
        val xi = element_at(col("_gr"), i + 1)
        if ((i / st.offset) % 2 == 0)
          c * xi - s * element_at(col("_gr"), i + st.offset + 1)
        else
          s * element_at(col("_gr"), i - st.offset + 1) + c * xi
      }
      df.withColumn("_gr", array(elems: _*))
    }
    rotated.select(col(idCol),
      expr("transform(_gr, x -> cast(x as float))").as(vecCol))
  }

  def pcaProject(vectors: DataFrame, idCol: String, vecCol: String,
      model: PcaModel): DataFrame = {
    val spark = vectors.sparkSession
    val compRows = for {
      cIdx <- model.components.indices
      i <- model.components(cIdx).indices
    } yield (cIdx.toLong, i, model.components(cIdx)(i),
      model.means(i))
    val comps = spark.createDataFrame(compRows)
      .toDF("component", "i", "w", "m")
    vectors
      .select(col(idCol), posexplode(col(vecCol)).as(Seq("i", "x")))
      .join(broadcast(comps), Seq("i"))
      .groupBy(col(idCol), col("component"))
      .agg(sum((col("x").cast("double") - col("m")) * col("w"))
        .as("y"))
  }
}
