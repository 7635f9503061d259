package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.config.GraphConfig
import graft.functions.{GraftFunctions => GF, VectorFunctions => VF}
import graft.operators._
import graft.streaming.StreamingIngest

/** ANN serving lifecycle X3 (brute/IVF/PQ topK, rerank, index build/update/compact/delete) — one slice of the [[SparkEntry]] driver contract
  * (17 queries). Chunks moved verbatim from SparkEntry.scala;
  * the assembled `queries`/`oracleSql` maps are unchanged. */
private[graft] object QueriesSimilarity {
  import EntryData._
  import OracleCtes._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- X3: brute-force cosine top-k (exact ANN baseline) ----
    "q_x3_cosine_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 8), e, "embedding", "vec_id", k = 5)
        .select(col("query_id"), col("vec_id"),
          round(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // ---- X3b: IVF two-stage ANN (deterministic — exact oracle) ----
    "q_x3b_ann_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val (centroids, assigned) = Similarity.ivfIndex(e, "embedding", "vec_id",
        k = 32)
      Similarity.ivfTopK(e.filter(col("vec_id") < 8), centroids, assigned,
        "embedding", "vec_id", k = 5, nProbe = 3)
        .select(col("query_id"), col("vec_id"),
          round(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // ---- X3c: top-k over the int8-quantized corpus — the 4×-smaller
    // storage/broadcast path. Fully oracle-checkable: the dequantized
    // vectors are bit-identical across engines (q = floor(x/scale + 0.5)
    // clamped — JVM Math.round spelled out so DuckDB's half-away round()
    // never enters — and q·scale is exact in double, then rounded to
    // float), and the compared cosine is integerized (floor(x·1e4+0.5))
    // to absorb summation-order ulps. ----
    "q_x3c_quantized_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val deq = e.select(col("vec_id"),
        VF.dequantize8(VF.quantize8(col("embedding"))).as("embedding"))
      Similarity.bruteForceTopK(
        deq.filter(col("vec_id") < 8), deq, "embedding", "vec_id", k = 5)
        .select(col("query_id"), col("vec_id"),
          floor(col("cosine") * lit(1e4) + lit(0.5)).as("cosine_e4"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // ---- X3h: product-quantization ANN (Jégou et al. 2011) — 64-dim
    // floats → m=8 codes over a k=16 hash-sampled codebook (RNG-free, so
    // fully oracle-rebuildable); search is codegen'd ADC table lookups,
    // never the raw vectors. The e4-integerized distance guards the
    // compare; ranks use raw doubles (x3b precedent) ----
    "q_x3h_pq_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cb = Similarity.pqCodebooks(e, "embedding", "vec_id",
        m = 8, k = 16)
      val enc = Similarity.pqEncode(e, "embedding", "vec_id", cb, m = 8)
      Similarity.pqTopK(e.filter(col("vec_id") < 8), cb, enc,
          "embedding", "vec_id", m = 8, k = 16, topK = 5)
        .select(col("query_id"), col("vec_id"),
          floor(col("adist") * lit(1e4) + lit(0.5)).as("adist_e4"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // ---- X3i: IVF-PQ — the composed billion-scale ANN recipe: coarse
    // probe (8 of 32 cells) bounds candidates, PQ-ADC ranks them without
    // reading a float vector ----
    "q_x3i_ivfpq_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val (cents, assigned) = Similarity.ivfIndex(e, "embedding",
        "vec_id", k = 32)
      val cb = Similarity.pqCodebooks(e, "embedding", "vec_id",
        m = 8, k = 16)
      // assign+encode fused: codes land as a column on the assignment
      // frame (it carries the vector) - no (id = id) reattachment join
      val ae = Similarity.encodeAssigned(assigned, "embedding",
        "vec_id", cb, m = 8)
      Similarity.ivfPqTopK(e.filter(col("vec_id") < 8), cents, cb, ae,
          "embedding", "vec_id", m = 8, k = 16, topK = 5, nProbe = 8)
        .select(col("query_id"), col("vec_id"),
          floor(col("adist") * lit(1e4) + lit(0.5)).as("adist_e4"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // ---- X3m: residual IVF-PQ — the FAISS design proper: PQ encodes
    // v − centroid(v), so the m×k codebook budget resolves the residual
    // ball instead of the raw vector space; the ADC table becomes
    // cell-dependent on the query side. Same quantizer-sample
    // determinism as q_x3i, so the oracle replays the whole codec
    // including the residual arithmetic, association-exact. (Recall on
    // THIS corpus is honestly worse than raw PQ — random embeddings
    // have no structure for the coarse stage to explain; the planted-
    // cluster SimilaritySpec case shows the regime where it wins.) ----
    "q_x3m_ivfpq_residual" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val (cents, assigned) = Similarity.ivfIndex(e, "embedding",
        "vec_id", k = 32)
      val cb = Similarity.pqCodebooksResidual(e, "embedding", "vec_id",
        assigned, cents, m = 8, k = 16)
      // assign+encode fused (residual flavor): no id reattachment join
      val ae = Similarity.encodeAssignedResidual(assigned, "embedding",
        "vec_id", cents, cb, m = 8)
      Similarity.ivfPqResidualTopK(e.filter(col("vec_id") < 8), cents,
          cb, ae, "embedding", "vec_id", m = 8, k = 16, topK = 5,
          nProbe = 8)
        .select(col("query_id"), col("vec_id"),
          floor(col("adist") * lit(1e4) + lit(0.5)).as("adist_e4"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // ---- X3j: ANN index persistence — build the q_x3i index ONCE,
    // save it as parquet (vectors partitioned by centroid_id), load it
    // back, and query the STORED index. Shares q_x3i's oracle: the
    // round-trip must be row-identical to the in-memory path. This is
    // how a 100 TB corpus actually serves retrieval: quantizers train
    // at ingest, every later run re-queries the parquet index — so the
    // build+save runs once per (process, dataset) via x3jIndexDir and
    // repeat invocations (bench iterations) measure SERVING, exactly
    // like production. The first Verify call still exercises the full
    // save path. ----
    "q_x3j_index_reuse" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val ix = Similarity.loadIndex(s, x3jIndexDir(s, dir))
      Similarity.ivfPqTopK(e.filter(col("vec_id") < 8), ix.centroids,
          ix.codebooks, ix.assignedEncoded,
          "embedding", "vec_id", m = ix.m, k = ix.k, topK = 5, nProbe = 8)
        .select(col("query_id"), col("vec_id"),
          floor(col("adist") * lit(1e4) + lit(0.5)).as("adist_e4"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // ---- X3k: INCREMENTAL index update — base index trained+encoded
    // on vec_id < 300, the rest absorbed by updateIndex (frozen
    // quantizers, delta-only encode, one new segment), then the
    // UPDATED index queried. Oracle: the full-corpus encode against
    // the SAME base-slice-trained quantizers — per-row-deterministic
    // assignment/encoding makes the incremental result EXACTLY equal
    // to the one-pass rebuild, which is the whole claim. ----
    "q_x3k_index_update" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val ix = Similarity.loadIndex(s, x3kUpdatedIndexDir(s, dir))
      Similarity.ivfPqTopK(e.filter(col("vec_id") < 8), ix.centroids,
          ix.codebooks, ix.assignedEncoded,
          "embedding", "vec_id", m = ix.m, k = ix.k, topK = 5, nProbe = 8)
        .select(col("query_id"), col("vec_id"),
          floor(col("adist") * lit(1e4) + lit(0.5)).as("adist_e4"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // ---- X3p: index COMPACTION — the q_x3k fragmented layout (base
    // encode + updateIndex segment) rewritten one-file-per-cell by
    // compactIndex, then queried. Compaction moves codes, never
    // changes them, so the result is EXACTLY q_x3k's — and the oracle
    // IS q_x3k's (the one-pass encode against the base-slice-trained
    // quantizers). The timed body is the full maintenance path:
    // copy + incremental absorb + compact + serve. ----
    "q_x3p_compacted_index" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val ixDir = x3kUpdatedIndexDir(s, dir)
      Similarity.compactIndex(s, ixDir) // eager: commits the rewrite
      val ix = Similarity.loadIndex(s, ixDir)
      Similarity.ivfPqTopK(e.filter(col("vec_id") < 8), ix.centroids,
          ix.codebooks, ix.assignedEncoded,
          "embedding", "vec_id", m = ix.m, k = ix.k, topK = 5, nProbe = 8)
        .select(col("query_id"), col("vec_id"),
          floor(col("adist") * lit(1e4) + lit(0.5)).as("adist_e4"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // ---- X3s: RETRAIN executor — the action behind q_x3p's
    // retrain_recommended, closing the lifecycle loop: the q_x3k
    // updated index (base-slice quantizers + absorbed delta, drift
    // ledger populated) is retrained from the full corpus, the
    // rebuild committed as the index's next version, then queried.
    // The deterministic id-hash sampling makes retrain ≡ a FRESH
    // build on the full corpus, so
    // the oracle is q_x3j's full-corpus IVF-PQ rebuild — any stale
    // quantizer, missed row, or broken commit hash-mismatches. ----
    "q_x3s_retrained_index" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val ixDir = x3kUpdatedIndexDir(s, dir)
      Similarity.retrainIndex(s, ixDir, e, "embedding", "vec_id")
        .write.format("noop").mode("overwrite").save()
      val ix = Similarity.loadIndex(s, ixDir)
      Similarity.ivfPqTopK(e.filter(col("vec_id") < 8), ix.centroids,
          ix.codebooks, ix.assignedEncoded,
          "embedding", "vec_id", m = ix.m, k = ix.k, topK = 5, nProbe = 8)
        .select(col("query_id"), col("vec_id"),
          floor(col("adist") * lit(1e4) + lit(0.5)).as("adist_e4"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // ---- X3se: VERSIONED retrain lifecycle — the q_x3s retrain run
    // twice (each commits the rebuild as the next version, v1 then v2,
    // without touching the one it read), then a vacuum purges v1 and
    // the saveIndex root before serveTopK resolves v2. SHARES q_x3s's
    // oracle: retrain ≡ a fresh build, so v2 must serve the identical
    // results — a mis-resolved root, an uncommitted read, or a vacuum
    // that touched the kept version all hash-mismatch. ----
    "q_x3se_era_retrain" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val ixDir = x3kUpdatedIndexDir(s, dir)
      (1 to 2).foreach(_ =>
        Similarity.retrainIndex(s, ixDir, e, "embedding", "vec_id")
          .write.format("noop").mode("overwrite").save())
      FrameVersions.vacuum(s, ixDir): Unit
      Similarity.serveTopK(s, ixDir, e.filter(col("vec_id") < 8),
          "embedding", "vec_id", topK = 5, nProbe = 8)
        .select(col("query_id"), col("vec_id"),
          floor(col("adist") * lit(1e4) + lit(0.5)).as("adist_e4"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // ---- X3q: tombstone deletes — the erasure side of the serving
    // lifecycle (build → serve → update → compact → DELETE): every
    // vec_id ≡ 1 (mod 5) is tombstoned on the q_x3k updated index,
    // and serving must behave as if those rows were never encoded —
    // no rewrite, the anti-join does it. Oracle: the q_x3p rebuild
    // with the deleted ids excluded before ranking. ----
    "q_x3q_deleted_index" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val ixDir = x3kUpdatedIndexDir(s, dir)
      Similarity.deleteFromIndex(s, ixDir,
          e.filter(col("vec_id") % 5 === 1).select("vec_id"), "vec_id")
        .write.format("noop").mode("overwrite").save()
      val ix = Similarity.loadIndex(s, ixDir)
      Similarity.ivfPqTopK(e.filter(col("vec_id") < 8), ix.centroids,
          ix.codebooks, ix.assignedEncoded,
          "embedding", "vec_id", m = ix.m, k = ix.k, topK = 5, nProbe = 8)
        .select(col("query_id"), col("vec_id"),
          floor(col("adist") * lit(1e4) + lit(0.5)).as("adist_e4"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // ---- X3l: recall@5 audit — the quality number the mechanical
    // oracles can't see: how many of the EXACT cosine top-5 the IVF
    // (q_x3b's 32 cells / nProbe 3) and IVF-PQ (q_x3i's nProbe 8,
    // m=8, k=16) paths actually return, per query + a query_id=-1
    // totals row. Every leg is deterministic, so the audit itself is
    // exact-oracled — the number an operator tunes nProbe/m/k by. ----
    "q_x3l_recall_audit" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
      val exact = Similarity.bruteForceTopK(q, e, "embedding", "vec_id",
        k = 5)
      val (cents, assigned) = Similarity.ivfIndex(e, "embedding",
        "vec_id", k = 32)
      val ivf = Similarity.ivfTopK(q, cents, assigned, "embedding",
        "vec_id", k = 5, nProbe = 3)
      val cb = Similarity.pqCodebooks(e, "embedding", "vec_id",
        m = 8, k = 16)
      // assign+encode fused: codes land as a column on the assignment
      // frame (it carries the vector) - no (id = id) reattachment join
      val ae = Similarity.encodeAssigned(assigned, "embedding",
        "vec_id", cb, m = 8)
      val ivfpq = Similarity.ivfPqTopK(q, cents, cb, ae, "embedding",
        "vec_id", m = 8, k = 16, topK = 5, nProbe = 8)
      val rcb = Similarity.pqCodebooksResidual(e, "embedding", "vec_id",
        assigned, cents, m = 8, k = 16)
      // assign+encode fused (residual flavor): no id reattachment join
      val rae = Similarity.encodeAssignedResidual(assigned, "embedding",
        "vec_id", cents, rcb, m = 8)
      val resid = Similarity.ivfPqResidualTopK(q, cents, rcb, rae,
        "embedding", "vec_id", m = 8, k = 16, topK = 5, nProbe = 8)
      // two-stage leg: the same ADC stage, widened to a C=25 shortlist,
      // then exact-cosine rerank — recall@5 becomes recall@25 of the
      // cheap stage (the PQ codes prune, they no longer vote)
      val rerank = Similarity.rerankTopK(
        Similarity.ivfPqTopK(q, cents, cb, ae, "embedding",
          "vec_id", m = 8, k = 16, topK = 25, nProbe = 8),
        q, e, "embedding", "vec_id", topK = 5)
      val per = Similarity.recallAtK(exact, ivf)
        .withColumnRenamed("n_hits", "ivf_hits")
        .join(Similarity.recallAtK(exact, ivfpq)
          .select(col("query_id"), col("n_hits").as("ivfpq_hits")),
          Seq("query_id"))
        .join(Similarity.recallAtK(exact, resid)
          .select(col("query_id"), col("n_hits").as("resid_hits")),
          Seq("query_id"))
        .join(Similarity.recallAtK(exact, rerank)
          .select(col("query_id"), col("n_hits").as("rerank_hits")),
          Seq("query_id"))
      per.select(col("query_id"), col("n_exact"), col("ivf_hits"),
          col("ivfpq_hits"), col("resid_hits"), col("rerank_hits"))
        .unionByName(per.agg(lit(-1L).as("query_id"),
          sum("n_exact").as("n_exact"), sum("ivf_hits").as("ivf_hits"),
          sum("ivfpq_hits").as("ivfpq_hits"),
          sum("resid_hits").as("resid_hits"),
          sum("rerank_hits").as("rerank_hits")))
        .orderBy("query_id")
    }),

    // ---- X3o: two-stage ANN serving — the same IVF-PQ ADC stage
    // widened to a C=25 shortlist, then exact-cosine rerank of just
    // those |Q|·C fetched vectors (broadcast shortlist; the corpus
    // never shuffles). Rank-exact oracle: the full codec replay plus
    // the same rerank window. ----
    "q_x3o_rerank_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
      val (cents, assigned) = Similarity.ivfIndex(e, "embedding",
        "vec_id", k = 32)
      val cb = Similarity.pqCodebooks(e, "embedding", "vec_id",
        m = 8, k = 16)
      // assign+encode fused: codes land as a column on the assignment
      // frame (it carries the vector) - no (id = id) reattachment join
      val ae = Similarity.encodeAssigned(assigned, "embedding",
        "vec_id", cb, m = 8)
      val shortlist = Similarity.ivfPqTopK(q, cents, cb, ae, "embedding",
        "vec_id", m = 8, k = 16, topK = 25, nProbe = 8)
      Similarity.rerankTopK(shortlist, q, e, "embedding", "vec_id",
          topK = 5)
        .select(col("query_id"), col("vec_id"),
          round(col("cosine"), 6).as("cosine"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // ---- X3d: MMR diversity re-rank over the search stage's top-20 —
    // greedy per-query trade-off between relevance and redundancy (λ=0.7).
    // Fully oracled: the greedy argmax compares raw doubles with a
    // vec_id tie-break and both engines' cosine chains are bit-identical
    // (the q_x3 precedent), so the oracle unrolls the 5 selection rounds
    // with the incremental max-penalty update. The (1−λ) factor is
    // spelled (1.0 − 0.7) on BOTH sides — the scala subtraction yields
    // 0.30000000000000004, not the 0.3 literal. ----
    "q_x3d_mmr_rerank" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 8)
      val top = Similarity.bruteForceTopK(qs, e, "embedding", "vec_id",
        k = 20)
      val withVecs = top.join(
        e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      Similarity.mmrRerank(withVecs, "query_id", "vec_id", "embedding",
        "cosine", k = 5, lambda = 0.7)
        .select(col("query_id"), col("vec_id"),
          col("mmr_rank").cast("long").as("mmr_rank"),
          round(col("mmr_score"), 6).as("mmr_score"))
        .orderBy("query_id", "mmr_rank")
    }),

    // ---- X3f: JL random projection — shrink embeddings 128→16 before
    // the similarity tier; deterministic (hash-derived signs), rows-only
    // (seeded-hash signs aren't ANSI-expressible). Projected norms ride
    // along as evidence the kernel ran. ----
    // ---- X3g: JL projection, portable mode — md5-parity signs, so the
    // oracle rebuilds every projected element; exploded to (vec_id, j,
    // v_e4) with the float rounding mirrored on both sides ----
    "q_x3g_project_portable" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          posexplode(VF.random_project_portable(col("embedding"), 16))
            .as(Seq("j", "v")))
        .select(col("vec_id"), col("j").cast("long").as("j"),
          floor(col("v").cast("double") * 1e4 + 0.5).cast("long").as("v_e4"))
        .orderBy("vec_id", "j")),

    // ---- X3f: JL random projection, splitmix64-seeded — rows-only BY
    // DESIGN (no_oracle floor: DuckDB cannot replay splitmix64). Its
    // oracled twin is q_x3g (portable md5-48 Gaussian pairs, same
    // projection algebra, green) — do not re-litigate this row. ----
    "q_x3f_random_project" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          VF.random_project(col("embedding"), 16).as("proj"))
        .select(col("vec_id"), size(col("proj")).as("dim"),
          round(VF.l2_norm(col("proj")), 4).as("norm"))
        .orderBy("vec_id")),

    // ---- X3e: hybrid retrieval — RRF fusion of the dense cosine top-20
    // (query vector = embedding 0) and the sparse BM25 top-20 over the
    // same id space. RRF scores are sums of exact reciprocals, identical
    // across engines, so the fusion is fully oracle-checkable. ----
    "q_x3e_hybrid_rrf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val dense = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") === 0), emb, "embedding", "vec_id", k = 20)
        .select(col("vec_id").as("id"), col("rank"))
      // global window is fine: it ranks the (bounded) scored hit list,
      // not the corpus
      val sparse = Relevance.searchBm25(t(s, dir, "documents"), "doc_id",
        "text", "data model the", k = 100000)
        .select(col("doc_id").as("id"), round(col("score"), 6).as("_s"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("_s").desc, col("id"))))
        .filter(col("rank") <= 20).select("id", "rank")
      Similarity.rrfFuse(Seq(dense, sparse), "id", "rank", k = 10)
        .select(col("id"), round(col("rrf_score"), 6).as("rrf_score"),
          col("n_lists"))
        .orderBy(col("rrf_score").desc, col("id"))
    }),

    // ---- X3w: OPQ-ROTATED IVF-PQ serving — the rotation family wired
    // into an indexed serving row: fit the closed-form Givens cascade
    // (givensCascadeFit — bounded Jacobi sweep along the full
    // butterfly, every angle a fixed-association double expression of
    // the exact pcaMoments integers), rotate the corpus, then build
    // and query the q_x3i IVF-PQ recipe on the ROTATED vectors. The
    // oracle replays the ENTIRE chain — moments → covariance →
    // per-stage angles/covariance updates → rotated floats → the
    // proven IVF-PQ CTEs over them. pcaRotate (power-iteration PCA,
    // the OPQ-P recipe proper) is this row's spec-proven sibling:
    // its eigensolve is not ANSI-replayable, so the serving-path
    // recall gain is asserted in SimilaritySpec instead. ----
    "q_x3w_opq_ivfpq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val stages = Similarity.givensCascadeFit(e, "embedding",
        Seq(32, 16, 8, 4, 2, 1))
      // the rotated corpus feeds four consumers (centroids, codebooks,
      // encode, queries) — pin it once; at 100 TB this is the persisted
      // rotated table an ingest pipeline would write anyway
      val rot = Similarity.givensCascadeRotate(e, "vec_id", "embedding",
        stages).localCheckpoint()
      val (cents, assigned) = Similarity.ivfIndex(rot, "embedding",
        "vec_id", k = 32)
      val cb = Similarity.pqCodebooks(rot, "embedding", "vec_id",
        m = 8, k = 16)
      // assign+encode fused: codes land as a column on the assignment
      // frame (it carries the vector) - no (id = id) reattachment join
      val ae = Similarity.encodeAssigned(assigned, "embedding",
        "vec_id", cb, m = 8)
      Similarity.ivfPqTopK(rot.filter(col("vec_id") < 8), cents, cb, ae,
          "embedding", "vec_id", m = 8, k = 16, topK = 5, nProbe = 8)
        .select(col("query_id"), col("vec_id"),
          floor(col("adist") * lit(1e4) + lit(0.5)).as("adist_e4"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // ---- X3z: the streaming ANN SEARCH composition ORACLED — one
    // batch row running the EXACT body streamingAnnSearch runs per
    // trigger (serveTopK: loadIndex snapshot → rotateQueries →
    // ivfPqTopK) against a fully MAINTAINED index: the q_x3k
    // incremental-update fixture takes the %5==1 tombstones, COMPACTS
    // (physical purge + ledger roll-up), and then serves the query
    // batch. Oracle = the one-pass rebuild with tombstoned ids
    // excluded before ranking (q_x3q's CTEs) — the q_x1g/q_x9i
    // batch-composition discipline applied to the search side. ----
    "q_x3z_streaming_search_composition" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val ixDir = x3kUpdatedIndexDir(s, dir)
      Similarity.deleteFromIndex(s, ixDir,
          e.filter(col("vec_id") % 5 === 1).select("vec_id"), "vec_id")
        .write.format("noop").mode("overwrite").save()
      Similarity.compactIndex(s, ixDir)
        .write.format("noop").mode("overwrite").save()
      Similarity.serveTopK(s, ixDir, e.filter(col("vec_id") < 8),
          "embedding", "vec_id", topK = 5, nProbe = 8)
        .select(col("query_id"), col("vec_id"),
          floor(col("adist") * lit(1e4) + lit(0.5)).as("adist_e4"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // ---- X3mz: the RESIDUAL index LIFECYCLE — q_x3m's FAISS-proper
    // recipe persisted with the `pq_residual` codec identity and
    // served cold through serveTopK: loadIndex reads the encoding
    // from meta and dispatches to the CELL-DEPENDENT ADC. Residual
    // codes are byte-compatible with plain PQ codes on disk, so
    // without the identity the store would silently decode through
    // the wrong table — the oracle (q_x3m's full residual replay)
    // hash-mismatches if the dispatch ever regresses. ----
    "q_x3mz_residual_lifecycle" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.serveTopK(s, x3mzResidualIndexDir(s, dir),
          e.filter(col("vec_id") < 8), "embedding", "vec_id",
          topK = 5, nProbe = 8)
        .select(col("query_id"), col("vec_id"),
          floor(col("adist") * lit(1e4) + lit(0.5)).as("adist_e4"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // ---- X3wz: the FAISS OPQ index PROPER — rotation ∘ residual in
    // ONE persisted lifecycle: the q_x3w Givens cascade rotates the
    // corpus, the q_x3m residual recipe trains on the ROTATED
    // vectors, saveIndex persists the cascade AND the `pq_residual`
    // codec flag, and serveTopK serves RAW corpus queries cold —
    // loadIndex refuses a flagged index without its record, the
    // queries rotate into the index basis, the codes decode through
    // the cell-dependent ADC. The oracle composes q_x3w's rotation
    // CTEs with q_x3m's residual replay OVER THE ROTATED CORPUS; a
    // dropped rotation, a wrong-codec dispatch, or an un-rotated
    // residual table each hash-mismatch. ----
    "q_x3wz_opq_residual_lifecycle" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.serveTopK(s, x3wzOpqResidualIndexDir(s, dir),
          e.filter(col("vec_id") < 8), "embedding", "vec_id",
          topK = 5, nProbe = 8)
        .select(col("query_id"), col("vec_id"),
          floor(col("adist") * lit(1e4) + lit(0.5)).as("adist_e4"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // ---- X3x: the ROTATED index LIFECYCLE — q_x3w's OPQ recipe
    // persisted (saveIndex WITH the rotation record) and served cold
    // through loadIndex + rotateQueries + ivfPqTopK (serveTopK — the
    // exact body the streaming search twin runs per trigger). Queries
    // are RAW corpus vectors; the serving path brings them into the
    // index basis itself. The oracle is q_x3w's inline chain verbatim
    // — any dropped/mis-applied rotation in save, load, or serve
    // hash-mismatches. ----
    "q_x3x_rotated_lifecycle" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.serveTopK(s, x3xRotatedIndexDir(s, dir),
          e.filter(col("vec_id") < 8), "embedding", "vec_id",
          topK = 5, nProbe = 8)
        .select(col("query_id"), col("vec_id"),
          floor(col("adist") * lit(1e4) + lit(0.5)).as("adist_e4"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // ---- X3xm: the MATRIX-basis index LIFECYCLE — q_x3x's twin for
    // rotation_kind = "matrix": the cascade composed into its
    // explicit d×d orthogonal matrix (composeGivensMatrix — portable
    // weights; the power-iteration pcaFit model stays spec-proven) +
    // exact-moment means, corpus rotated through pcaRotate, IVF-PQ
    // trained on the rotated vectors, saveIndex persisting the
    // d²-cell rotation_matrix record. Serving is RAW queries through
    // serveTopK: loadIndex rebuilds the PcaModel from the record
    // (refusing a flagged index without it) and rotateQueries
    // dispatches to pcaRotate — centering + projection + float
    // reassembly all replayed by the oracle; a dropped record,
    // mis-rebuilt matrix, or skipped centering hash-mismatches. ----
    "q_x3xm_matrix_lifecycle" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.serveTopK(s, x3xmMatrixIndexDir(s, dir),
          e.filter(col("vec_id") < 8), "embedding", "vec_id",
          topK = 5, nProbe = 8)
        .select(col("query_id"), col("vec_id"),
          floor(col("adist") * lit(1e4) + lit(0.5)).as("adist_e4"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // ---- X3yz: the maintenance→refit→serving COMPOSITION — the
    // reason the moment store exists, run end to end: maintain the
    // moments (q_x3y's change batch), refit the Givens cascade OFF
    // THE MAINTAINED TABLE (no corpus rescan), rotate the effective
    // corpus, build IVF-PQ on it, serve. The oracle replays the
    // WHOLE chain over the effective corpus — one-shot moments ≡
    // maintained moments (q_x3y's claim) makes the refit identical,
    // so any drift anywhere in maintain/refit/rotate/build/serve
    // hash-mismatches. ----
    "q_x3yz_maintained_refit_ivfpq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val st0 = Similarity.buildMomentsStore(
        e.filter(col("vec_id") % 4 =!= 0), "vec_id", "embedding")
      val st = Similarity.maintainPcaMoments(st0,
        e.filter(col("vec_id") % 4 === 0),
        e.filter(col("vec_id") % 4 =!= 0 && col("vec_id") % 3 === 0),
        "vec_id", "embedding")
      val stages = Similarity.givensCascadeFitFromMoments(st.moments,
        Seq(32, 16, 8, 4, 2, 1))
      val eff = e.filter(col("vec_id") % 4 === 0 ||
        (col("vec_id") % 4 =!= 0 && col("vec_id") % 3 =!= 0))
      val rot = Similarity.givensCascadeRotate(eff, "vec_id",
        "embedding", stages).localCheckpoint()
      val (cents, assigned) = Similarity.ivfIndex(rot, "embedding",
        "vec_id", k = 32)
      val cb = Similarity.pqCodebooks(rot, "embedding", "vec_id",
        m = 8, k = 16)
      // assign+encode fused: codes land as a column on the assignment
      // frame (it carries the vector) - no (id = id) reattachment join
      val ae = Similarity.encodeAssigned(assigned, "embedding",
        "vec_id", cb, m = 8)
      Similarity.ivfPqTopK(rot.filter(col("vec_id") < 8), cents, cb,
          ae, "embedding", "vec_id", m = 8, k = 16, topK = 5,
          nProbe = 8)
        .select(col("query_id"), col("vec_id"),
          floor(col("adist") * lit(1e4) + lit(0.5)).as("adist_e4"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // ---- X3n: the DRIFT→RETRAIN POLICY CLOSED, benign branch — the
    // lifecycle loop becomes self-driving: maintainIndex runs the
    // compaction, READS the measured drift verdict against the
    // calibrated 2σ tolerance, and acts. Base index trained on the
    // planted CLUSTER (v/8 + 0.5 — build mean ≈ 1, σ tiny); the delta
    // is MORE of the same cluster, so measured drift ≈ 0 < 2σ and the
    // policy must NOT retrain — the quantizers stay the base-slice
    // ones, which is exactly what the oracle asserts (trainWhere
    // vec_id < 300 over the clustered corpus) along with the
    // 'compacted' action literal the row emits from the report. ----
    "q_x3n_policy_benign" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val ixDir = x3nCopiedDir(s, dir)
      val delta = e.filter(col("vec_id") >= 300 && col("vec_id") < 600)
        .select(col("vec_id"),
          clusterVec(col("embedding")).as("embedding"))
      Similarity.updateIndex(s, ixDir, delta, "embedding", "vec_id")
        .write.format("noop").mode("overwrite").save()
      val corpus = e.filter(col("vec_id") < 600)
        .select(col("vec_id"),
          clusterVec(col("embedding")).as("embedding"))
      val action = Similarity.maintainIndex(s, ixDir, corpus,
        "embedding", "vec_id").head().getString(0)
      Similarity.serveTopK(s, ixDir,
          e.filter(col("vec_id") < 8).select(col("vec_id"),
            clusterVec(col("embedding")).as("embedding")),
          "embedding", "vec_id", topK = 5, nProbe = 8)
        .select(lit(action).as("action"), col("query_id"),
          col("vec_id"),
          floor(col("adist") * lit(1e4) + lit(0.5)).as("adist_e4"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // ---- X3nd: the drift branch — same base, but the delta is the
    // RAW zero-mean corpus slice: genuinely novel mass the clustered
    // centroids cannot cover (delta mean assign cosine ≈ 0.1 vs the
    // build's ≈ 1), so measured drift >> 2σ and maintainIndex MUST
    // retrain: quantizers rebuild from the live mixed corpus and the
    // committed version serves them. Oracle = the fresh full-corpus build
    // over the mixed (clustered ∪ raw) corpus + the 'retrained'
    // action literal — a policy that silently skips the retrain (or
    // retrains on the benign branch) hash-mismatches its row. ----
    "q_x3nd_policy_drift" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val ixDir = x3nCopiedDir(s, dir)
      val delta = e.filter(col("vec_id") >= 300 && col("vec_id") < 600)
      Similarity.updateIndex(s, ixDir, delta, "embedding", "vec_id")
        .write.format("noop").mode("overwrite").save()
      val corpus = e.filter(col("vec_id") < 300)
        .select(col("vec_id"),
          clusterVec(col("embedding")).as("embedding"))
        .unionByName(delta.select(col("vec_id"), col("embedding")))
      val action = Similarity.maintainIndex(s, ixDir, corpus,
        "embedding", "vec_id").head().getString(0)
      Similarity.serveTopK(s, ixDir,
          e.filter(col("vec_id") < 8).select(col("vec_id"),
            clusterVec(col("embedding")).as("embedding")),
          "embedding", "vec_id", topK = 5, nProbe = 8)
        .select(lit(action).as("action"), col("query_id"),
          col("vec_id"),
          floor(col("adist") * lit(1e4) + lit(0.5)).as("adist_e4"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // ---- X3v: PCA second moments — the distributed half of the
    // whitening/rotation preprocessing (OPQ-style quantizers,
    // semantic dedup): e6-quantized components, every sum and
    // upper-triangle product an EXACT long (partition-order-free),
    // covariance one mirrored double expression, e9-integerized for
    // the hash compare. The d×d eigensolve rides driver-side on this
    // d²-row model (SimilaritySpec proves it against a planted
    // principal axis). ----
    "q_x3v_pca_moments" -> ((s, dir) =>
      Similarity.pcaMoments(t(s, dir, "embeddings"), "embedding")
        .select(col("i"), col("j"), col("n"), col("s_i"), col("s_j"),
          col("sp"),
          floor(col("cov") * lit(1e9) + lit(0.5)).as("cov_e9"))
        .orderBy("i", "j")),

    // ---- X3y: MAINTAINED moments — the rotation preprocessing joins
    // the maintenance grid: the moment store builds on the %4≠0 base,
    // then ONE maintainPcaMoments call absorbs the %4==0 adds and
    // erases the %3==0 slice of the base (ground-truth vectors ship,
    // the word-store contract). Every sum is an exact long, so the
    // maintained table — and any cascade/PCA refit off it — is
    // BIT-equal to the one-shot moments over the effective corpus,
    // which is exactly what the oracle computes (q_x3v's SQL over the
    // effective WHERE). SimilaritySpec proves the refit equality. ----
    "q_x3y_moments_maintained" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val st0 = Similarity.buildMomentsStore(
        e.filter(col("vec_id") % 4 =!= 0), "vec_id", "embedding")
      val st = Similarity.maintainPcaMoments(st0,
        e.filter(col("vec_id") % 4 === 0),
        e.filter(col("vec_id") % 4 =!= 0 && col("vec_id") % 3 === 0),
        "vec_id", "embedding")
      st.moments
        .select(col("i"), col("j"), col("n"), col("s_i"), col("s_j"),
          col("sp"),
          floor(col("cov") * lit(1e9) + lit(0.5)).as("cov_e9"))
        .orderBy("i", "j")
    }),
  )

  /** Generated Givens-cascade CTE chain ending at
    * `rotc(vec_id, embedding)` — the replay of
    * [[graft.operators.Similarity.givensCascadeFit]] +
    * [[graft.operators.Similarity.givensCascadeRotate]] mutation by
    * mutation: q_x3v's exact-integer moments, the mirrored double
    * covariance, then per butterfly stage the closed-form Jacobi
    * angles (division + IEEE sqrt only — bit-equal across engines),
    * the two-step exact-order covariance update (rows, then columns)
    * feeding the NEXT stage's angles, and the per-element data
    * rotation. Floats cast once at reassembly, matching the engine. */
  private def givensCascadeCtes(d: Int, offsets: Seq[Int],
      rel: String = "embeddings"): String = {
    val sb = new StringBuilder
    sb.append(
      s"""rv6 AS (
         |  SELECT vec_id, list_transform(embedding, x ->
         |    CAST(floor(x * 1e6 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS v
         |  FROM $rel),
         |rex AS (
         |  SELECT vec_id, i - 1 AS i, v[i] AS x
         |  FROM rv6, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) u),
         |rsums AS (SELECT i, sum(x) AS s, count(*) AS n FROM rex
         |          GROUP BY i),
         |rpr AS (
         |  SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS sp
         |  FROM rex a JOIN rex b
         |    ON b.vec_id = a.vec_id AND b.i >= a.i
         |  GROUP BY 1, 2),
         |rcv AS (
         |  SELECT rpr.i, rpr.j,
         |    (CAST(rpr.sp AS DOUBLE) - CAST(si.s AS DOUBLE) * sj.s / si.n)
         |      / si.n / CAST(1e12 AS DOUBLE) AS v
         |  FROM rpr JOIN rsums si ON si.i = rpr.i
         |    JOIN rsums sj ON sj.i = rpr.j),
         |rc0 AS MATERIALIZED (
         |  SELECT i, j, v FROM rcv
         |  UNION ALL SELECT j, i, v FROM rcv WHERE i <> j),
         |rx0 AS MATERIALIZED (
         |  SELECT vec_id, u.i - 1 AS i, CAST(u.x AS DOUBLE) AS v
         |  FROM (SELECT vec_id, embedding AS arr FROM $rel),
         |    LATERAL (SELECT unnest(arr) AS x,
         |             generate_subscripts(arr, 1) AS i) u)""".stripMargin)
    offsets.zipWithIndex.foreach { case (o, t) =>
      sb.append(s""",
         |rag$t AS (
         |  SELECT p, q, 1 / sqrt(1 + t * t) AS c,
         |    t * (1 / sqrt(1 + t * t)) AS s
         |  FROM (
         |    SELECT p, q,
         |      CASE WHEN apq = 0 THEN CAST(0 AS DOUBLE)
         |        WHEN tau >= 0 THEN 1 / (tau + sqrt(1 + tau * tau))
         |        ELSE -1 / (-tau + sqrt(1 + tau * tau)) END AS t
         |    FROM (
         |      SELECT g.p, g.q, cpq.v AS apq,
         |        CASE WHEN cpq.v = 0 THEN CAST(0 AS DOUBLE)
         |          ELSE (cqq.v - cpp.v) / (2 * cpq.v) END AS tau
         |      FROM (SELECT CAST(r.i AS BIGINT) AS p,
         |              CAST(r.i + $o AS BIGINT) AS q
         |            FROM range($d) r(i) WHERE (r.i // $o) % 2 = 0) g
         |      JOIN rc$t cpp ON cpp.i = g.p AND cpp.j = g.p
         |      JOIN rc$t cqq ON cqq.i = g.q AND cqq.j = g.q
         |      JOIN rc$t cpq ON cpq.i = g.p AND cpq.j = g.q))),
         |ram$t AS MATERIALIZED (
         |  SELECT p AS i, p AS lo, q AS mate, c, s FROM rag$t
         |  UNION ALL SELECT q, p, p, c, s FROM rag$t),
         |rx${t + 1} AS MATERIALIZED (
         |  SELECT x.vec_id, x.i,
         |    CASE WHEN a.i = a.lo THEN a.c * x.v - a.s * xm.v
         |      ELSE a.s * xm.v + a.c * x.v END AS v
         |  FROM rx$t x
         |  JOIN ram$t a ON a.i = x.i
         |  JOIN rx$t xm ON xm.vec_id = x.vec_id AND xm.i = a.mate)"""
        .stripMargin)
      if (t != offsets.size - 1) sb.append(s""",
         |rt$t AS MATERIALIZED (
         |  SELECT m.i, m.j,
         |    CASE WHEN a.i = a.lo THEN a.c * m.v - a.s * mm.v
         |      ELSE a.s * mm.v + a.c * m.v END AS v
         |  FROM rc$t m
         |  JOIN ram$t a ON a.i = m.i
         |  JOIN rc$t mm ON mm.i = a.mate AND mm.j = m.j),
         |rc${t + 1} AS MATERIALIZED (
         |  SELECT m.i, m.j,
         |    CASE WHEN a.i = a.lo THEN a.c * m.v - a.s * mm.v
         |      ELSE a.s * mm.v + a.c * m.v END AS v
         |  FROM rt$t m
         |  JOIN ram$t a ON a.i = m.j
         |  JOIN rt$t mm ON mm.i = m.i AND mm.j = a.mate)""".stripMargin)
    }
    sb.append(s""",
       |rotc AS MATERIALIZED (
       |  SELECT vec_id, list_transform(list(v ORDER BY i),
       |    y -> CAST(y AS FLOAT)) AS embedding
       |  FROM rx${offsets.size} GROUP BY vec_id)""".stripMargin)
    sb.toString
  }

  /** Generated MATRIX-basis rotation CTE chain ending at
    * `rotc(vec_id, embedding)` — the replay of
    * [[graft.operators.Similarity.composeGivensMatrix]] +
    * [[graft.operators.Similarity.pcaRotate]]: the cascade's angles
    * and covariance updates verbatim from [[givensCascadeCtes]]'
    * scheme (minus the per-vector stage rotations — the matrix path
    * never applies them), then the stage-by-stage matrix composition
    * (m0 = identity; m_{t+1} the SAME two-term update, indexed by
    * matrix row), the moment means (s / n / 1e6 — pcaFit's own
    * association), and the projection y_c = Σᵢ (xᵢ − mᵢ)·w_ci as an
    * ORDERED d-term addition chain (list(term ORDER BY i) then
    * explicit left-to-right sums — Spark's hash aggregate accumulates
    * the posexplode stream ascending-i with the same left fold), cast
    * to float at reassembly exactly as the engine does. */
  private def matrixCascadeCtes(d: Int, offsets: Seq[Int],
      rel: String = "embeddings"): String = {
    val sb = new StringBuilder
    sb.append(
      s"""rv6 AS (
         |  SELECT vec_id, list_transform(embedding, x ->
         |    CAST(floor(x * 1e6 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS v
         |  FROM $rel),
         |rex AS (
         |  SELECT vec_id, i - 1 AS i, v[i] AS x
         |  FROM rv6, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) u),
         |rsums AS (SELECT i, sum(x) AS s, count(*) AS n FROM rex
         |          GROUP BY i),
         |rpr AS (
         |  SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS sp
         |  FROM rex a JOIN rex b
         |    ON b.vec_id = a.vec_id AND b.i >= a.i
         |  GROUP BY 1, 2),
         |rcv AS (
         |  SELECT rpr.i, rpr.j,
         |    (CAST(rpr.sp AS DOUBLE) - CAST(si.s AS DOUBLE) * sj.s / si.n)
         |      / si.n / CAST(1e12 AS DOUBLE) AS v
         |  FROM rpr JOIN rsums si ON si.i = rpr.i
         |    JOIN rsums sj ON sj.i = rpr.j),
         |rc0 AS MATERIALIZED (
         |  SELECT i, j, v FROM rcv
         |  UNION ALL SELECT j, i, v FROM rcv WHERE i <> j),
         |rx0 AS MATERIALIZED (
         |  SELECT vec_id, u.i - 1 AS i, CAST(u.x AS DOUBLE) AS v
         |  FROM (SELECT vec_id, embedding AS arr FROM $rel),
         |    LATERAL (SELECT unnest(arr) AS x,
         |             generate_subscripts(arr, 1) AS i) u),
         |m0 AS (
         |  SELECT a.i AS i, b.i AS j,
         |    CASE WHEN a.i = b.i THEN CAST(1 AS DOUBLE)
         |      ELSE CAST(0 AS DOUBLE) END AS v
         |  FROM range($d) a(i), range($d) b(i))""".stripMargin)
    offsets.zipWithIndex.foreach { case (o, t) =>
      sb.append(s""",
         |rag$t AS (
         |  SELECT p, q, 1 / sqrt(1 + t * t) AS c,
         |    t * (1 / sqrt(1 + t * t)) AS s
         |  FROM (
         |    SELECT p, q,
         |      CASE WHEN apq = 0 THEN CAST(0 AS DOUBLE)
         |        WHEN tau >= 0 THEN 1 / (tau + sqrt(1 + tau * tau))
         |        ELSE -1 / (-tau + sqrt(1 + tau * tau)) END AS t
         |    FROM (
         |      SELECT g.p, g.q, cpq.v AS apq,
         |        CASE WHEN cpq.v = 0 THEN CAST(0 AS DOUBLE)
         |          ELSE (cqq.v - cpp.v) / (2 * cpq.v) END AS tau
         |      FROM (SELECT CAST(r.i AS BIGINT) AS p,
         |              CAST(r.i + $o AS BIGINT) AS q
         |            FROM range($d) r(i) WHERE (r.i // $o) % 2 = 0) g
         |      JOIN rc$t cpp ON cpp.i = g.p AND cpp.j = g.p
         |      JOIN rc$t cqq ON cqq.i = g.q AND cqq.j = g.q
         |      JOIN rc$t cpq ON cpq.i = g.p AND cpq.j = g.q))),
         |ram$t AS MATERIALIZED (
         |  SELECT p AS i, p AS lo, q AS mate, c, s FROM rag$t
         |  UNION ALL SELECT q, p, p, c, s FROM rag$t),
         |m${t + 1} AS MATERIALIZED (
         |  SELECT x.i, x.j,
         |    CASE WHEN a.i = a.lo THEN a.c * x.v - a.s * xm.v
         |      ELSE a.s * xm.v + a.c * x.v END AS v
         |  FROM m$t x
         |  JOIN ram$t a ON a.i = x.i
         |  JOIN m$t xm ON xm.i = a.mate AND xm.j = x.j)""".stripMargin)
      if (t != offsets.size - 1) sb.append(s""",
         |rt$t AS MATERIALIZED (
         |  SELECT m.i, m.j,
         |    CASE WHEN a.i = a.lo THEN a.c * m.v - a.s * mm.v
         |      ELSE a.s * mm.v + a.c * m.v END AS v
         |  FROM rc$t m
         |  JOIN ram$t a ON a.i = m.i
         |  JOIN rc$t mm ON mm.i = a.mate AND mm.j = m.j),
         |rc${t + 1} AS MATERIALIZED (
         |  SELECT m.i, m.j,
         |    CASE WHEN a.i = a.lo THEN a.c * m.v - a.s * mm.v
         |      ELSE a.s * mm.v + a.c * m.v END AS v
         |  FROM rt$t m
         |  JOIN ram$t a ON a.i = m.j
         |  JOIN rt$t mm ON mm.i = m.i AND mm.j = a.mate)""".stripMargin)
    }
    val chain = (1 to d).map(i => s"ds[$i]").mkString(" + ")
    sb.append(s""",
       |pmean AS (SELECT i, CAST(s AS DOUBLE) / n / 1e6 AS m
       |          FROM rsums),
       |pterm AS (
       |  SELECT x.vec_id, mm.i AS comp,
       |    list((x.v - mn.m) * mm.v ORDER BY x.i) AS ds
       |  FROM rx0 x
       |  JOIN m${offsets.size} mm ON mm.j = x.i
       |  JOIN pmean mn ON mn.i = x.i
       |  GROUP BY x.vec_id, mm.i),
       |rotc AS MATERIALIZED (
       |  SELECT vec_id, list_transform(list(y ORDER BY comp),
       |    y -> CAST(y AS FLOAT)) AS embedding
       |  FROM (SELECT vec_id, comp, $chain AS y FROM pterm)
       |  GROUP BY vec_id)""".stripMargin)
    sb.toString
  }

  def oracles: Map[String, String] = Map(
    // The full rotated-serving replay: cascade CTEs produce the
    // rotated corpus `rotc`, then the proven IVF-PQ chain runs over
    // it verbatim (quantizer sampling is id-hash-driven, so it is
    // content-independent and identical on both engines).
    "q_x3w_opq_ivfpq" -> ivfPqOracleSqlFrom("", "rotc",
      givensCascadeCtes(64, Seq(32, 16, 8, 4, 2, 1)) + ","),

    // The persisted rotated lifecycle must reproduce the inline chain
    // row for row: save/load round-trips floats and Givens angles
    // bit-exactly, and rotateQueries replays givensCascadeRotate —
    // so the oracle IS q_x3w's.
    "q_x3x_rotated_lifecycle" -> ivfPqOracleSqlFrom("", "rotc",
      givensCascadeCtes(64, Seq(32, 16, 8, 4, 2, 1)) + ","),

    // The OPQ composition: q_x3w's cascade CTEs rotate the corpus to
    // `rotc`, then q_x3m's residual replay runs ENTIRELY over the
    // rotated vectors — coarse cells, residual codebooks, cell-
    // dependent query tables, the ordered 8-term ADC chain. Queries
    // come from `rotc` exactly as serveTopK's rotateQueries produces
    // them (same per-element cascade arithmetic, bit-equal).
    "q_x3wz_opq_residual_lifecycle" ->
      (ivfCoarseCtesFrom("", "rotc",
        givensCascadeCtes(64, Seq(32, 16, 8, 4, 2, 1)) + ",") +
        ivfPqResidualSuffixCtesFrom("rotc") +
        """
          |SELECT query_id, vec_id,
          |  CAST(floor(adist * 1e4 + CAST(0.5 AS DOUBLE)) AS BIGINT)
          |    AS adist_e4,
          |  CAST(rank AS BIGINT) AS rank
          |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          |  ORDER BY adist, vec_id) AS rank FROM rsc)
          |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // The benign policy branch: NO retrain happened, so serving must
    // equal the frozen base-slice quantizers over the full clustered
    // corpus (the q_x3k/q_x3p rebuild shape, clustered transform
    // mirrored in double with one float cast) — plus the 'compacted'
    // action the row emits from the measured report.
    "q_x3n_policy_benign" ->
      (ivfPqOracleCtesFrom("WHERE vec_id < 300", "clusc",
        """clusc AS (
          |  SELECT vec_id, list_transform(embedding, x ->
          |    CAST(CAST(x AS DOUBLE) / 8 + 0.5 AS FLOAT)) AS embedding
          |  FROM embeddings WHERE vec_id < 600),
          |""".stripMargin) +
        """
          |SELECT 'compacted' AS action, query_id, vec_id,
          |  CAST(floor(adist * 1e4 + CAST(0.5 AS DOUBLE)) AS BIGINT)
          |    AS adist_e4,
          |  CAST(rank AS BIGINT) AS rank
          |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          |  ORDER BY adist, vec_id) AS rank FROM sc)
          |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // The drift policy branch: the retrain DID happen, so serving
    // must equal a FRESH full build over the mixed (clustered base ∪
    // raw delta) corpus — retrain ≡ fresh build by the deterministic
    // id-hash sampling, the q_x3s discipline — plus the 'retrained'
    // action literal.
    "q_x3nd_policy_drift" ->
      (ivfPqOracleCtesFrom("", "mixc",
        """mixc AS (
          |  SELECT vec_id, list_transform(embedding, x ->
          |    CAST(CAST(x AS DOUBLE) / 8 + 0.5 AS FLOAT)) AS embedding
          |  FROM embeddings WHERE vec_id < 300
          |  UNION ALL
          |  SELECT vec_id, embedding FROM embeddings
          |  WHERE vec_id >= 300 AND vec_id < 600),
          |""".stripMargin) +
        """
          |SELECT 'retrained' AS action, query_id, vec_id,
          |  CAST(floor(adist * 1e4 + CAST(0.5 AS DOUBLE)) AS BIGINT)
          |    AS adist_e4,
          |  CAST(rank AS BIGINT) AS rank
          |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          |  ORDER BY adist, vec_id) AS rank FROM sc)
          |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // The matrix-basis replay: cascade angles + covariance updates,
    // the stage-by-stage matrix composition, moment means, and the
    // pcaRotate projection (ordered 64-term chains, float cast at
    // reassembly) produce `rotc`; the proven IVF-PQ chain runs over
    // it verbatim.
    "q_x3xm_matrix_lifecycle" -> ivfPqOracleSqlFrom("", "rotc",
      matrixCascadeCtes(64, Seq(32, 16, 8, 4, 2, 1)) + ","),

    // The maintenance→refit→serving chain over the EFFECTIVE corpus:
    // the cascade CTEs run from `eff` (maintained moments ≡ one-shot
    // over eff, q_x3y), then the proven IVF-PQ chain over the rotated
    // effective corpus.
    "q_x3yz_maintained_refit_ivfpq" -> ivfPqOracleSqlFrom("", "rotc",
      """eff AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  WHERE vec_id % 4 = 0
        |     OR (vec_id % 4 <> 0 AND vec_id % 3 <> 0)),
        |""".stripMargin +
        givensCascadeCtes(64, Seq(32, 16, 8, 4, 2, 1), "eff") + ","),

    // Moments rebuilt with DuckDB list lambdas: identical e6
    // quantization (float→double widening exact on both engines),
    // exact BIGINT sums/products, the covariance's operand
    // association mirrored term for term.
    "q_x3v_pca_moments" ->
      """WITH v6 AS (
        |  SELECT vec_id, list_transform(embedding, x ->
        |    CAST(floor(x * 1e6 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS v
        |  FROM embeddings),
        |ex AS (
        |  SELECT vec_id, i - 1 AS i, v[i] AS x
        |  FROM v6, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) u),
        |sums AS (SELECT i, sum(x) AS s, count(*) AS n FROM ex
        |         GROUP BY i),
        |pr AS (
        |  SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS sp
        |  FROM ex a JOIN ex b
        |    ON b.vec_id = a.vec_id AND b.i >= a.i
        |  GROUP BY 1, 2)
        |SELECT CAST(pr.i AS BIGINT) AS i, CAST(pr.j AS BIGINT) AS j,
        |  si.n AS n, CAST(si.s AS BIGINT) AS s_i,
        |  CAST(sj.s AS BIGINT) AS s_j, CAST(pr.sp AS BIGINT) AS sp,
        |  CAST(floor(
        |    (CAST(pr.sp AS DOUBLE) - CAST(si.s AS DOUBLE) * sj.s / si.n)
        |      / si.n / CAST(1e12 AS DOUBLE) * 1e9
        |    + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cov_e9
        |FROM pr JOIN sums si ON si.i = pr.i
        |  JOIN sums sj ON sj.i = pr.j
        |ORDER BY i, j""".stripMargin,

    // The maintained store ≡ the one-shot moments over the EFFECTIVE
    // corpus: (%4==0 adds) ∪ (%4≠0 base minus its %3==0 erasures) —
    // q_x3v's replay with the effective WHERE.
    "q_x3y_moments_maintained" ->
      """WITH eff AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  WHERE vec_id % 4 = 0
        |     OR (vec_id % 4 <> 0 AND vec_id % 3 <> 0)),
        |v6 AS (
        |  SELECT vec_id, list_transform(embedding, x ->
        |    CAST(floor(x * 1e6 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS v
        |  FROM eff),
        |ex AS (
        |  SELECT vec_id, i - 1 AS i, v[i] AS x
        |  FROM v6, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) u),
        |sums AS (SELECT i, sum(x) AS s, count(*) AS n FROM ex
        |         GROUP BY i),
        |pr AS (
        |  SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS sp
        |  FROM ex a JOIN ex b
        |    ON b.vec_id = a.vec_id AND b.i >= a.i
        |  GROUP BY 1, 2)
        |SELECT CAST(pr.i AS BIGINT) AS i, CAST(pr.j AS BIGINT) AS j,
        |  si.n AS n, CAST(si.s AS BIGINT) AS s_i,
        |  CAST(sj.s AS BIGINT) AS s_j, CAST(pr.sp AS BIGINT) AS sp,
        |  CAST(floor(
        |    (CAST(pr.sp AS DOUBLE) - CAST(si.s AS DOUBLE) * sj.s / si.n)
        |      / si.n / CAST(1e12 AS DOUBLE) * 1e9
        |    + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cov_e9
        |FROM pr JOIN sums si ON si.i = pr.i
        |  JOIN sums sj ON sj.i = pr.j
        |ORDER BY i, j""".stripMargin,

    // Greedy MMR unroll — see mmrOracle.
    "q_x3d_mmr_rerank" -> mmrOracle(5),

    // IVF is deterministic end-to-end (fixed-k hash-sampled centroids,
    // double cosine, id tie-breaks), so even the ANN path gets an exact
    // oracle. The centroid CTE mirrors Similarity.ivfIndex: k smallest by
    // multiplicative hash of the id.
    "q_x3b_ann_ivf" ->
      """WITH cent AS (
        |  SELECT vec_id AS centroid_id, embedding AS cv FROM (
        |    SELECT vec_id, embedding FROM embeddings
        |    ORDER BY (vec_id * 2654435761) % 4294967296, vec_id
        |    LIMIT 32)),
        |corpus AS (SELECT vec_id, embedding FROM embeddings),
        |asn0 AS (
        |  SELECT c.vec_id, c.embedding, ct.centroid_id,
        |    (SELECT sum(CAST(x AS DOUBLE)*CAST(y AS DOUBLE))
        |       FROM (SELECT unnest(c.embedding) x, unnest(ct.cv) y)) /
        |    (sqrt((SELECT sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE))
        |       FROM (SELECT unnest(c.embedding) x))) *
        |     sqrt((SELECT sum(CAST(y AS DOUBLE)*CAST(y AS DOUBLE))
        |       FROM (SELECT unnest(ct.cv) y)))) AS csim
        |  FROM corpus c CROSS JOIN cent ct),
        |asn AS (
        |  SELECT vec_id, embedding, centroid_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY csim DESC, centroid_id) rn FROM asn0)
        |  WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, embedding AS qv
        |      FROM embeddings WHERE vec_id < 8),
        |probe0 AS (
        |  SELECT q.query_id, q.qv, ct.centroid_id,
        |    (SELECT sum(CAST(x AS DOUBLE)*CAST(y AS DOUBLE))
        |       FROM (SELECT unnest(q.qv) x, unnest(ct.cv) y)) /
        |    (sqrt((SELECT sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE))
        |       FROM (SELECT unnest(q.qv) x))) *
        |     sqrt((SELECT sum(CAST(y AS DOUBLE)*CAST(y AS DOUBLE))
        |       FROM (SELECT unnest(ct.cv) y)))) AS csim
        |  FROM q CROSS JOIN cent ct),
        |probed AS (
        |  SELECT query_id, qv, centroid_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY csim DESC, centroid_id) rn FROM probe0)
        |  WHERE rn <= 3),
        |scored AS (
        |  SELECT p.query_id, a.vec_id,
        |    (SELECT sum(CAST(x AS DOUBLE)*CAST(y AS DOUBLE))
        |       FROM (SELECT unnest(p.qv) x, unnest(a.embedding) y)) /
        |    (sqrt((SELECT sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE))
        |       FROM (SELECT unnest(p.qv) x))) *
        |     sqrt((SELECT sum(CAST(y AS DOUBLE)*CAST(y AS DOUBLE))
        |       FROM (SELECT unnest(a.embedding) y)))) AS cosine
        |  FROM probed p JOIN asn a ON a.centroid_id = p.centroid_id
        |    AND a.vec_id <> p.query_id)
        |SELECT query_id, vec_id, ROUND(cosine, 6) AS cosine, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, vec_id) AS rank FROM scored)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // PQ rebuild: hash-ranked 16-row codebook with dense ranks, per-sub
    // slices, argmin-L2² encoding, query distance tables, and the ADC
    // sum as an ORDERED 8-term chain (list(d ORDER BY sub) then explicit
    // left-to-right addition — bit-identical to the codegen kernel's
    // fold).
    "q_x3h_pq_topk" ->
      """WITH cb0 AS (
        |  SELECT vec_id, embedding,
        |    row_number() OVER (
        |      ORDER BY (vec_id * 2654435761) % 4294967296, vec_id) - 1
        |      AS code
        |  FROM (SELECT vec_id, embedding FROM embeddings
        |        ORDER BY (vec_id * 2654435761) % 4294967296, vec_id
        |        LIMIT 16)),
        |subs AS (SELECT unnest(generate_series(0, 7)) AS sub),
        |cb AS MATERIALIZED (
        |  SELECT subs.sub, cb0.code,
        |    list_slice(cb0.embedding, subs.sub * 8 + 1, subs.sub * 8 + 8)
        |      AS cw
        |  FROM cb0 CROSS JOIN subs),
        |encd0 AS (
        |  SELECT e.vec_id, cb.sub, cb.code,
        |    (SELECT sum((CAST(x AS DOUBLE) - CAST(y AS DOUBLE))
        |              * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)))
        |     FROM (SELECT
        |         unnest(list_slice(e.embedding,
        |           cb.sub * 8 + 1, cb.sub * 8 + 8)) x,
        |         unnest(cb.cw) y)) AS d
        |  FROM embeddings e CROSS JOIN cb),
        |enc AS MATERIALIZED (
        |  SELECT vec_id, sub, code FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
        |      ORDER BY d, code) rn FROM encd0)
        |  WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, embedding FROM embeddings
        |      WHERE vec_id < 8),
        |dt0 AS MATERIALIZED (
        |  SELECT q.query_id, cb.sub, cb.code,
        |    (SELECT sum((CAST(x AS DOUBLE) - CAST(y AS DOUBLE))
        |              * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)))
        |     FROM (SELECT
        |         unnest(list_slice(q.embedding,
        |           cb.sub * 8 + 1, cb.sub * 8 + 8)) x,
        |         unnest(cb.cw) y)) AS d
        |  FROM q CROSS JOIN cb),
        |terms AS (
        |  SELECT d0.query_id, en.vec_id, list(d0.d ORDER BY en.sub) AS ds
        |  FROM enc en JOIN dt0 d0 ON d0.sub = en.sub AND d0.code = en.code
        |  WHERE d0.query_id <> en.vec_id
        |  GROUP BY d0.query_id, en.vec_id),
        |sc AS (
        |  SELECT query_id, vec_id,
        |    ds[1] + ds[2] + ds[3] + ds[4]
        |      + ds[5] + ds[6] + ds[7] + ds[8] AS adist
        |  FROM terms)
        |SELECT query_id, vec_id,
        |  CAST(floor(adist * 1e4 + CAST(0.5 AS DOUBLE)) AS BIGINT)
        |    AS adist_e4,
        |  CAST(rank AS BIGINT) AS rank
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |  ORDER BY adist, vec_id) AS rank FROM sc)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // IVF-PQ rebuild: x3b's cell assignment + probing composed with
    // x3h's codebook/encoding/distance tables; candidates restricted to
    // probed cells before the ordered ADC chain.
    // x3i and x3j share ONE oracle: the save/load round-trip is
    // semantically a no-op (floats round-trip parquet bit-exactly), so
    // the stored-index query must reproduce the in-memory result rows
    "q_x3i_ivfpq_topk" -> ivfPqOracleSql,

    "q_x3m_ivfpq_residual" -> ivfPqResidualOracleSql,

    // The persisted residual lifecycle answers to the SAME full
    // residual replay: save/load round-trips codes and floats
    // bit-exactly and the codec identity routes serving to the
    // cell-dependent ADC.
    "q_x3mz_residual_lifecycle" -> ivfPqResidualOracleSql,

    "q_x3o_rerank_topk" ->
      (ivfPqOracleCtesFrom("") + """,
        |rr25 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY adist, vec_id) AS rank FROM sc)
        |  WHERE rank <= 25),
        |rr0 AS (
        |  SELECT r.query_id, r.vec_id,
        |    (SELECT sum(CAST(x AS DOUBLE)*CAST(y AS DOUBLE))
        |       FROM (SELECT unnest(q.embedding) x, unnest(e.embedding) y)) /
        |    (sqrt((SELECT sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE))
        |       FROM (SELECT unnest(q.embedding) x))) *
        |     sqrt((SELECT sum(CAST(y AS DOUBLE)*CAST(y AS DOUBLE))
        |       FROM (SELECT unnest(e.embedding) y)))) AS cosine
        |  FROM rr25 r
        |  JOIN q ON q.query_id = r.query_id
        |  JOIN embeddings e ON e.vec_id = r.vec_id)
        |SELECT query_id, vec_id, ROUND(cosine, 6) AS cosine,
        |  CAST(rk AS BIGINT) AS rank
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |  ORDER BY cosine DESC, vec_id) AS rk FROM rr0)
        |WHERE rk <= 5 ORDER BY query_id, rank""".stripMargin),

    "q_x3j_index_reuse" -> ivfPqOracleSql,

    // Incremental-update rebuild: identical pipeline, but the
    // quantizers sample only the base slice while assignment/encoding
    // still cover the whole corpus — exactly what the frozen-quantizer
    // append converges to.
    "q_x3k_index_update" -> ivfPqOracleSqlFrom("WHERE vec_id < 300"),

    // Compaction is query-identical by construction, so the compacted
    // index answers to the SAME oracle as the fragmented one.
    "q_x3p_compacted_index" -> ivfPqOracleSqlFrom("WHERE vec_id < 300"),

    // Retrain ≡ fresh full-corpus build (deterministic id-hash
    // sampling), so the oracle is the full-corpus IVF-PQ rebuild —
    // q_x3j's verbatim.
    "q_x3s_retrained_index" -> ivfPqOracleSql,

    // the twice-retrained, vacuumed index must serve the identical
    // fresh build — the shared oracle IS the claim (q_g3e/q_x2t
    // discipline)
    "q_x3se_era_retrain" -> ivfPqOracleSql,

    // The q_x3p rebuild with the tombstoned ids excluded BEFORE the
    // ranking — a deleted row must not occupy a rank.
    // The maintained-index serve (update + delete + compact + the
    // serveTopK streaming body) answers to q_x3q's rebuild: compaction
    // moves codes without changing them and serveTopK is loadIndex +
    // ivfPqTopK on an un-rotated index.
    "q_x3z_streaming_search_composition" ->
      (ivfPqOracleCtesFrom("WHERE vec_id < 300") +
        """
          |SELECT query_id, vec_id,
          |  CAST(floor(adist * 1e4 + CAST(0.5 AS DOUBLE)) AS BIGINT)
          |    AS adist_e4,
          |  CAST(rank AS BIGINT) AS rank
          |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          |  ORDER BY adist, vec_id) AS rank
          |  FROM sc WHERE vec_id % 5 <> 1)
          |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    "q_x3q_deleted_index" ->
      (ivfPqOracleCtesFrom("WHERE vec_id < 300") +
        """
          |SELECT query_id, vec_id,
          |  CAST(floor(adist * 1e4 + CAST(0.5 AS DOUBLE)) AS BIGINT)
          |    AS adist_e4,
          |  CAST(rank AS BIGINT) AS rank
          |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          |  ORDER BY adist, vec_id) AS rank
          |  FROM sc WHERE vec_id % 5 <> 1)
          |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // Recall audit rebuild: the ivfpq CTE prefix supplies the PQ leg
    // (sc) plus the shared q/cent/cell/probe0; the IVF leg re-probes at
    // nProbe 3 with exact cosine inside probed cells (q_x3b's shape);
    // the exact leg is q_x3's all-pairs cosine. Hits by left-join
    // membership; sums cast back from HUGEINT.
    "q_x3l_recall_audit" ->
      (ivfPqOracleCtesFrom("") + ivfPqResidualSuffixCtes + """,
        |pq5 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY adist, vec_id) AS rank FROM sc)
        |  WHERE rank <= 5),
        |rpq5 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY adist, vec_id) AS rank FROM rsc)
        |  WHERE rank <= 5),
        |rr25 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY adist, vec_id) AS rank FROM sc)
        |  WHERE rank <= 25),
        |rr0 AS (
        |  SELECT r.query_id, r.vec_id,
        |    (SELECT sum(CAST(x AS DOUBLE)*CAST(y AS DOUBLE))
        |       FROM (SELECT unnest(q.embedding) x, unnest(e.embedding) y)) /
        |    (sqrt((SELECT sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE))
        |       FROM (SELECT unnest(q.embedding) x))) *
        |     sqrt((SELECT sum(CAST(y AS DOUBLE)*CAST(y AS DOUBLE))
        |       FROM (SELECT unnest(e.embedding) y)))) AS cosine
        |  FROM rr25 r
        |  JOIN q ON q.query_id = r.query_id
        |  JOIN embeddings e ON e.vec_id = r.vec_id),
        |rr5 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, vec_id) AS rk FROM rr0)
        |  WHERE rk <= 5),
        |probed3 AS (
        |  SELECT query_id, centroid_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY csim DESC, centroid_id) rn FROM probe0)
        |  WHERE rn <= 3),
        |iv0 AS (
        |  SELECT p.query_id, ce.vec_id,
        |    (SELECT sum(CAST(x AS DOUBLE)*CAST(y AS DOUBLE))
        |       FROM (SELECT unnest(q.embedding) x, unnest(e.embedding) y)) /
        |    (sqrt((SELECT sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE))
        |       FROM (SELECT unnest(q.embedding) x))) *
        |     sqrt((SELECT sum(CAST(y AS DOUBLE)*CAST(y AS DOUBLE))
        |       FROM (SELECT unnest(e.embedding) y)))) AS cosine
        |  FROM probed3 p
        |  JOIN cell ce ON ce.centroid_id = p.centroid_id
        |  JOIN q ON q.query_id = p.query_id
        |  JOIN embeddings e ON e.vec_id = ce.vec_id
        |  WHERE ce.vec_id <> p.query_id),
        |ivf5 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, vec_id) AS rk FROM iv0)
        |  WHERE rk <= 5),
        |ex0 AS (
        |  SELECT q.query_id, e.vec_id,
        |    (SELECT sum(CAST(x AS DOUBLE)*CAST(y AS DOUBLE))
        |       FROM (SELECT unnest(q.embedding) x, unnest(e.embedding) y)) /
        |    (sqrt((SELECT sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE))
        |       FROM (SELECT unnest(q.embedding) x))) *
        |     sqrt((SELECT sum(CAST(y AS DOUBLE)*CAST(y AS DOUBLE))
        |       FROM (SELECT unnest(e.embedding) y)))) AS cosine
        |  FROM q JOIN embeddings e ON e.vec_id <> q.query_id),
        |exact5 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, vec_id) AS rk FROM ex0)
        |  WHERE rk <= 5),
        |per AS (
        |  SELECT x.query_id,
        |    CAST(count(*) AS BIGINT) AS n_exact,
        |    CAST(sum(CASE WHEN iv.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ivf_hits,
        |    CAST(sum(CASE WHEN pq.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ivfpq_hits,
        |    CAST(sum(CASE WHEN rq.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS resid_hits,
        |    CAST(sum(CASE WHEN rr.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS rerank_hits
        |  FROM exact5 x
        |  LEFT JOIN ivf5 iv ON iv.query_id = x.query_id
        |    AND iv.vec_id = x.vec_id
        |  LEFT JOIN pq5 pq ON pq.query_id = x.query_id
        |    AND pq.vec_id = x.vec_id
        |  LEFT JOIN rpq5 rq ON rq.query_id = x.query_id
        |    AND rq.vec_id = x.vec_id
        |  LEFT JOIN rr5 rr ON rr.query_id = x.query_id
        |    AND rr.vec_id = x.vec_id
        |  GROUP BY x.query_id)
        |SELECT query_id, n_exact, ivf_hits, ivfpq_hits, resid_hits,
        |  rerank_hits
        |FROM per
        |UNION ALL
        |SELECT CAST(-1 AS BIGINT) AS query_id,
        |  CAST(sum(n_exact) AS BIGINT) AS n_exact,
        |  CAST(sum(ivf_hits) AS BIGINT) AS ivf_hits,
        |  CAST(sum(ivfpq_hits) AS BIGINT) AS ivfpq_hits,
        |  CAST(sum(resid_hits) AS BIGINT) AS resid_hits,
        |  CAST(sum(rerank_hits) AS BIGINT) AS rerank_hits FROM per
        |ORDER BY query_id""".stripMargin),

    "q_x3_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |           FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id, embedding AS cv FROM embeddings),
        |prod AS (
        |  SELECT query_id, vec_id,
        |    sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
        |    sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS qq,
        |    sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS cc
        |  FROM (SELECT query_id, vec_id, unnest(qv) AS x, unnest(cv) AS y
        |        FROM q JOIN c ON query_id <> vec_id)
        |  GROUP BY query_id, vec_id),
        |ranked AS (
        |  SELECT query_id, vec_id,
        |    dot / (sqrt(qq) * sqrt(cc)) AS cosine,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY dot / (sqrt(qq) * sqrt(cc)) DESC, vec_id) AS rank
        |  FROM prod)
        |SELECT query_id, vec_id, ROUND(cosine, 6) AS cosine, rank
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // int8 quantization reproduced exactly: scale = float(max|x|/127) (1
    // for the zero vector), q = clamp(floor(x/scale + 0.5), ±127) — the
    // spelled-out JVM Math.round, NOT DuckDB round() (half-away differs on
    // negatives) — and q·scale is exact in double (7-bit × 24-bit mantissa
    // fits 53) so the FLOAT cast reproduces Scala's Byte*Float to the bit.
    "q_x3c_quantized_topk" ->
      """WITH sc AS (
        |  SELECT vec_id, embedding,
        |    CASE WHEN list_max(list_transform(embedding,
        |             x -> abs(CAST(x AS DOUBLE)))) = 0
        |         THEN CAST(1 AS FLOAT)
        |         ELSE CAST(list_max(list_transform(embedding,
        |             x -> abs(CAST(x AS DOUBLE)))) / CAST(127 AS DOUBLE)
        |           AS FLOAT) END AS scale
        |  FROM embeddings),
        |dq AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x ->
        |      CAST(GREATEST(CAST(-127 AS DOUBLE), LEAST(CAST(127 AS DOUBLE),
        |          floor(CAST(x AS DOUBLE) / CAST(scale AS DOUBLE)
        |            + CAST(0.5 AS DOUBLE))))
        |        * CAST(scale AS DOUBLE) AS FLOAT)) AS v
        |  FROM sc),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM dq WHERE vec_id < 8),
        |prod AS (
        |  SELECT query_id, vec_id,
        |    sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
        |    sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS qq,
        |    sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS cc
        |  FROM (SELECT query_id, c.vec_id, unnest(qv) AS x, unnest(c.v) AS y
        |        FROM q JOIN dq c ON query_id <> c.vec_id)
        |  GROUP BY query_id, vec_id),
        |ranked AS (
        |  SELECT query_id, vec_id,
        |    dot / (sqrt(qq) * sqrt(cc)) AS cosine,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY dot / (sqrt(qq) * sqrt(cc)) DESC, vec_id) AS rank
        |  FROM prod)
        |SELECT query_id, vec_id,
        |  CAST(floor(cosine * 1e4 + CAST(0.5 AS DOUBLE)) AS BIGINT)
        |    AS cosine_e4, rank
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // Portable JL projection: ±1 sign = parity of md5-48("42:i,j"),
    // out_j = Σᵢ ±xᵢ · (1/√16), rounded through FLOAT exactly as the
    // kernel does (the float rounding also absorbs summation-order ulps),
    // then e4-integerized. i is 0-based in the kernel, 1-based from
    // generate_subscripts — hence u.i - 1.
    "q_x3g_project_portable" ->
      """WITH el AS (
        |  SELECT vec_id, u.x, u.i
        |  FROM (SELECT vec_id, embedding AS arr FROM embeddings),
        |    LATERAL (SELECT unnest(arr) AS x,
        |             generate_subscripts(arr, 1) AS i) u
        |), s AS (
        |  SELECT vec_id, g.j,
        |    sum(CASE WHEN (CAST(concat('0x',
        |          substr(md5(concat(42, ':', u.i - 1, ',', g.j)), 1, 12))
        |          AS BIGINT) & 1) = 0
        |        THEN CAST(x AS DOUBLE) ELSE -CAST(x AS DOUBLE) END) AS acc
        |  FROM el u CROSS JOIN generate_series(0, 15) g(j)
        |  GROUP BY vec_id, g.j
        |)
        |SELECT vec_id, j,
        |  CAST(floor(CAST(CAST(acc * CAST(0.25 AS DOUBLE) AS FLOAT)
        |    AS DOUBLE) * 1e4 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS v_e4
        |FROM s ORDER BY vec_id, j""".stripMargin,

    // Dense leg mirrors the q_x3 oracle; sparse leg mirrors q_x9c; RRF
    // reciprocals are exact doubles on both engines, so the fused top-10
    // set and order are deterministic.
    "q_x3e_hybrid_rrf" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |c AS (SELECT vec_id, embedding AS cv FROM embeddings
        |      WHERE vec_id <> 0),
        |prod AS (
        |  SELECT vec_id,
        |    sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
        |    sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS qq,
        |    sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS cc
        |  FROM (SELECT vec_id, unnest(qv) AS x, unnest(cv) AS y
        |        FROM q JOIN c ON true)
        |  GROUP BY vec_id),
        |dense AS (
        |  SELECT vec_id AS id,
        |    row_number() OVER (ORDER BY dot / (sqrt(qq) * sqrt(cc)) DESC,
        |      vec_id) AS rank
        |  FROM prod QUALIFY rank <= 20),
        |tok AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
        |       GROUP BY doc_id, token),
        |lens AS (SELECT doc_id, sum(tf) AS doc_len FROM tf GROUP BY doc_id),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n FROM documents),
        |al AS (SELECT avg(doc_len) AS avg_len FROM lens),
        |scored AS (
        |  SELECT tf.doc_id AS id,
        |    ROUND(SUM(ln(1 + (n.n - dfreq.df + CAST(0.5 AS DOUBLE))
        |        / (dfreq.df + CAST(0.5 AS DOUBLE)))
        |      * (tf.tf * CAST(2.2 AS DOUBLE))
        |      / (tf.tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
        |          + CAST(0.75 AS DOUBLE) * lens.doc_len
        |          / al.avg_len))), 6) AS s
        |  FROM tf JOIN dfreq USING (token) JOIN lens USING (doc_id), n, al
        |  WHERE tf.token IN ('data', 'model', 'the')
        |  GROUP BY tf.doc_id),
        |sparse AS (
        |  SELECT id, row_number() OVER (ORDER BY s DESC, id) AS rank
        |  FROM scored QUALIFY rank <= 20),
        |fused AS (
        |  SELECT id, CAST(1.0 AS DOUBLE)/(60 + rank) AS r FROM dense
        |  UNION ALL SELECT id, CAST(1.0 AS DOUBLE)/(60 + rank) FROM sparse),
        |topk AS (
        |  SELECT id, sum(r) AS s, count(*) AS n_lists FROM fused
        |  GROUP BY id ORDER BY s DESC, id LIMIT 10)
        |SELECT id, ROUND(s, 6) AS rrf_score, n_lists FROM topk
        |ORDER BY rrf_score DESC, id""".stripMargin,
  )
}
