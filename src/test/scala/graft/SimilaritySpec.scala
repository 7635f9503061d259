package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.{FrameVersions, Similarity}

/** X3 similarity search: exact brute-force top-k + IVF recall. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("vector kernels: dot, norm, cosine") {
    val r = Seq(1).toDF("x").select(
      VectorFunctions.dot(array(lit(1f), lit(2f)), array(lit(3f), lit(4f)))
        .as("dot"),
      VectorFunctions.l2_norm(array(lit(3f), lit(4f))).as("norm"),
      VectorFunctions.cosine(array(lit(1f), lit(0f)), array(lit(1f), lit(0f)))
        .as("same"),
      VectorFunctions.cosine(array(lit(1f), lit(0f)), array(lit(0f), lit(1f)))
        .as("orth"),
      VectorFunctions.cosine(array(lit(0f), lit(0f)), array(lit(1f), lit(0f)))
        .as("zero")).head()
    assert(r.getDouble(0) == 11.0)
    assert(r.getDouble(1) == 5.0)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(3)) < 1e-12)
    assert(r.isNullAt(4)) // zero vector -> null, not NaN
  }

  test("int8 quantization: round-trip error bound and cosine preservation") {
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
    val q = e.select(col("vec_id"), col("embedding"),
      VectorFunctions.dequantize8(
        VectorFunctions.quantize8(col("embedding"))).as("deq"))
    // per-element error ≤ scale/2, scale = max|x|/127 → relative to the
    // vector's max element the error is ≤ 1/254
    val errStats = q.select(
      max(expr("aggregate(zip_with(embedding, deq, (a, b) -> " +
        "abs(cast(a as double) - cast(b as double))), cast(0.0 as double), " +
        "(acc, x) -> greatest(acc, x))")).as("max_abs_err"),
      max(expr("aggregate(transform(embedding, x -> " +
        "abs(cast(x as double))), cast(0.0 as double), " +
        "(acc, x) -> greatest(acc, x))")).as("max_abs_val")).head()
    assert(errStats.getDouble(0) <= errStats.getDouble(1) / 254.0 + 1e-9)
    // cosine between original and dequantized stays essentially 1
    val minCos = q.select(min(
      VectorFunctions.cosine(col("embedding"), col("deq"))).as("c")).head()
      .getDouble(0)
    assert(minCos > 0.999, s"quantization distorted direction: $minCos")
    // zero vector round-trips without dividing by zero
    val z = Seq(1).toDF("x").select(VectorFunctions.dequantize8(
      VectorFunctions.quantize8(array(lit(0f), lit(0f)))).as("v"))
      .head().getAs[scala.collection.Seq[Float]]("v")
    assert(z.toSeq == Seq(0f, 0f))
  }

  test("quantized corpus: exact top-k over dequantized vectors ≈ fp32 top-k") {
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
    val deq = e.select(col("vec_id"),
      VectorFunctions.dequantize8(
        VectorFunctions.quantize8(col("embedding"))).as("embedding"))
    val exact = Similarity.bruteForceTopK(
      e.filter(col("vec_id") < 8), e, "embedding", "vec_id", k = 10)
    val quant = Similarity.bruteForceTopK(
      deq.filter(col("vec_id") < 8), deq, "embedding", "vec_id", k = 10)
    val a = exact.select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = quant.select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = a.intersect(b).size.toDouble / a.size
    assert(recall >= 0.85, s"int8 recall too low: $recall")
  }

  test("normalize: unit norm, direction preserved, zero-vector safe") {
    val out = Seq(1).toDF("x").select(
      VectorFunctions.normalize(array(lit(3f), lit(4f))).as("v"),
      VectorFunctions.normalize(array(lit(0f), lit(0f))).as("z")).head()
    val v = out.getAs[scala.collection.Seq[Float]]("v")
    assert(math.abs(v(0) - 0.6f) < 1e-6 && math.abs(v(1) - 0.8f) < 1e-6)
    assert(out.getAs[scala.collection.Seq[Float]]("z").toSeq == Seq(0f, 0f))
  }

  test("bruteForceTopK: self excluded, ranks ordered, k respected") {
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
    val out = Similarity.bruteForceTopK(
      e.filter(col("vec_id") < 3), e, "embedding", "vec_id", k = 4)
    val rows = out.orderBy("query_id", "rank").collect()
    assert(rows.length == 12) // 3 queries x 4
    assert(!rows.exists(r => r.getAs[Long]("query_id") == r.getAs[Long]("vec_id")))
    val cosines = rows.filter(_.getAs[Long]("query_id") == 0L)
      .map(_.getAs[Double]("cosine")).toSeq
    assert(cosines == cosines.sorted.reverse)
  }

  test("IVF top-k achieves decent recall vs brute force") {
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
    val queries = e.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(queries, e, "embedding", "vec_id", 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val (cent, assigned) = Similarity.ivfIndex(e, "embedding", "vec_id", 10)
    val approx = Similarity.ivfTopK(queries, cent, assigned,
      "embedding", "vec_id", k = 5, nProbe = 4)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // random-ish embeddings + 10 cells probed 4 -> expect ~40%+ overlap;
    // this guards the plumbing, not the statistics
    assert(recall > 0.2, s"recall $recall too low")
    assert(approx.size == exact.size)
  }

  test("refineCentroids: Lloyd passes never worsen the quantization objective") {
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
    // objective = mean over vectors of the best-cell cosine (what IVF
    // probing quality depends on); Lloyd is monotone non-decreasing on it
    def objective(cents: org.apache.spark.sql.DataFrame): Double =
      e.crossJoin(broadcast(cents))
        .select(col("vec_id"),
          VectorFunctions.cosine(col("embedding"), col("_centv")).as("c"))
        .groupBy("vec_id").agg(max("c").as("best"))
        .agg(avg("best")).head().getDouble(0)
    val (seeds, _) = Similarity.ivfIndex(e, "embedding", "vec_id", 16)
    val obj0 = objective(seeds)
    val r1 = Similarity.refineCentroids(e, "embedding", "vec_id", seeds, 1)
    val obj1 = objective(r1)
    val r2 = Similarity.refineCentroids(e, "embedding", "vec_id", r1, 1)
    val obj2 = objective(r2)
    assert(obj1 >= obj0 - 1e-9, s"$obj0 -> $obj1")
    assert(obj2 >= obj1 - 1e-9, s"$obj1 -> $obj2")
    // centroid count is preserved (empty cells keep previous centroid)
    assert(r2.count() == 16)
  }

  test("ivfIndexRefined: recall at least matches the unrefined index") {
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
    val queries = e.filter(col("vec_id") < 16)
    val exact = Similarity.bruteForceTopK(queries, e, "embedding", "vec_id", 5)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(index: (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)): Double = {
      val got = Similarity.ivfTopK(queries, index._1, index._2,
        "embedding", "vec_id", k = 5, nProbe = 3)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.intersect(got).size.toDouble / exact.size
    }
    val plain = recall(Similarity.ivfIndex(e, "embedding", "vec_id", 16))
    val refined = recall(
      Similarity.ivfIndexRefined(e, "embedding", "vec_id", 16, iterations = 2))
    // Lloyd tightens cells; allow small slack (assignment boundaries move)
    assert(refined >= plain - 0.05, s"refined $refined vs plain $plain")
    assert(refined >= 0.5, s"refined recall too low: $refined")
  }

  test("ivfIndex: centroid count is fixed at k regardless of corpus size") {
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
    val (cent, assigned) = Similarity.ivfIndex(e, "embedding", "vec_id", 16)
    assert(cent.count() == 16)
    // every vector assigned to exactly one of the k cells
    assert(assigned.count() == e.count())
    val cells = assigned.select("centroid_id").distinct().count()
    assert(cells <= 16 && cells > 1)
  }

  test("random_project: deterministic, linear, norm-preserving on average") {
    import graft.functions.{VectorFunctions => VFn}
    val vecs = (0 until 50).map { i =>
      (i.toLong, Array.tabulate(64)(d => math.sin(i * 64 + d).toFloat))
    }.toDF("id", "v")
    val p1 = vecs.select($"id", VFn.random_project($"v", 16).as("p"))
      .orderBy("id").as[(Long, Seq[Float])].collect()
    val p2 = vecs.repartition(7)
      .select($"id", VFn.random_project($"v", 16).as("p"))
      .orderBy("id").as[(Long, Seq[Float])].collect()
    assert(p1.toSeq == p2.toSeq) // deterministic, partitioning-independent
    assert(p1.forall(_._2.length == 16))
    // E[||Pv||^2] = ||v||^2: averaged over the corpus, ratios hug 1
    val ratios = vecs.select(
      (VFn.l2_norm(VFn.random_project($"v", 16)) / VFn.l2_norm($"v"))
        .as("r")).as[Double].collect()
    val mean = ratios.map(r => r * r).sum / ratios.length
    assert(mean > 0.6 && mean < 1.4, s"squared-norm ratio mean $mean")
    // different seeds give different projections
    val alt = vecs.select(VFn.random_project($"v", 16, seed = 7L).as("p"))
      .as[Seq[Float]].head()
    assert(alt != p1.head._2)
  }

  test("random_project_portable: JVM-rebuildable signs, same JL contract") {
    import graft.functions.{VectorFunctions => VFn}
    val vecs = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
    }.toDF("id", "v")
    val p = vecs.select($"id", VFn.random_project_portable($"v", 4).as("p"))
      .orderBy("id").as[(Long, Seq[Float])].collect()
    // hand-rebuild row 0 from the portable hash parity — the property the
    // DuckDB oracle stands on
    val v0 = Array.tabulate(8)(d => math.sin(0 * 8 + d).toFloat)
    val expected = (0 until 4).map { j =>
      val acc = (0 until 8).map { i =>
        val sign =
          if ((graft.functions.PortableHash.hash48(s"$i,$j", 42L) & 1L) == 0L)
            1.0 else -1.0
        sign * v0(i)
      }.sum
      (acc * (1.0 / math.sqrt(4.0))).toFloat
    }
    assert(p.head._2 == expected)
    // norm preserved on average, like the default kernel
    val ratios = vecs.select(
      (VFn.l2_norm(VFn.random_project_portable($"v", 4)) / VFn.l2_norm($"v"))
        .as("r")).as[Double].collect()
    val mean = ratios.map(r => r * r).sum / ratios.length
    assert(mean > 0.4 && mean < 1.6, s"squared-norm ratio mean $mean")
  }

  test("rrfFuse: consensus ids outrank single-list ids, exact reciprocals") {
    val dense = Seq((10L, 1), (11L, 2), (12L, 3)).toDF("id", "rank")
    val sparse = Seq((11L, 1), (13L, 2)).toDF("id", "rank")
    val out = Similarity.rrfFuse(Seq(dense, sparse), "id", "rank", k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    // 11 is in both lists → top, with n_lists = 2
    assert(out.head._1 == 11L && out.head._3 == 2L)
    assert(math.abs(out.head._2 - (1.0 / 62 + 1.0 / 61)) < 1e-15)
    // singles ranked by their reciprocal; k caps
    assert(out.map(_._1).toSeq == Seq(11L, 10L, 13L, 12L))
    assert(Similarity.rrfFuse(Seq(dense, sparse), "id", "rank", k = 2)
      .count() == 2)
  }

  test("mmrRerank: near-duplicate of the top result is demoted") {
    // query-relevance: a=0.99, a'=0.98 (a' ≈ duplicate of a), c=0.80
    // (orthogonal-ish). Plain ranking: a, a', c. MMR λ=0.5 must pick the
    // diverse c second.
    val cands = Seq(
      (1L, 10L, 0.99, Array(1f, 0f, 0f)),
      (1L, 11L, 0.98, Array(0.999f, 0.04f, 0f)),
      (1L, 12L, 0.80, Array(0f, 1f, 0f)))
      .toDF("query_id", "vec_id", "sim", "vec")
    val out = Similarity.mmrRerank(cands, "query_id", "vec_id", "vec",
      "sim", k = 3, lambda = 0.5)
      .orderBy("mmr_rank").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(10L, 12L, 11L))
    // rank-1 score is pure relevance·λ
    assert(math.abs(out(0).getDouble(3) - 0.5 * 0.99) < 1e-12)
  }

  test("mmrRerank: λ=1 degenerates to relevance order; k caps output") {
    val cands = Seq(
      (1L, 10L, 0.9, Array(1f, 0f)),
      (1L, 11L, 0.8, Array(1f, 0f)),
      (1L, 12L, 0.7, Array(1f, 0f)),
      (2L, 20L, 0.5, Array(0f, 1f)))
      .toDF("query_id", "vec_id", "sim", "vec")
    val out = Similarity.mmrRerank(cands, "query_id", "vec_id", "vec",
      "sim", k = 2, lambda = 1.0)
      .orderBy("query_id", "mmr_rank").collect()
    // identical duplicate vectors don't matter at λ=1 — pure relevance
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 10L), (1L, 11L), (2L, 20L)))
    assert(out.map(_.getInt(2)).toSeq == Seq(1, 2, 1)) // k=2 cap per query
  }

  test("IVF recall vs exact at sf0.01 scale") {
    val e = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
    val queries = e.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(queries, e, "embedding", "vec_id", 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val (cent, assigned) = Similarity.ivfIndex(e, "embedding", "vec_id", 32)
    val approx = Similarity.ivfTopK(queries, cent, assigned,
      "embedding", "vec_id", k = 5, nProbe = 8)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall > 0.2, s"recall $recall too low at sf0.01")
  }

  test("l2sq and adc kernels: exact values, null guards") {
    val r = Seq(1).toDF("x").select(
      VectorFunctions.l2sq(array(lit(1f), lit(2f)), array(lit(4f), lit(6f)))
        .as("d"),
      VectorFunctions.l2sq(array(lit(1f)), array(lit(1f), lit(2f)))
        .as("mismatch"),
      // dtable for m=2, k=2: [s0c0, s0c1, s1c0, s1c1]; codes [1, 0]
      // → dtable[0*2+1] + dtable[1*2+0] = 20 + 30
      VectorFunctions.adc(array(lit(1), lit(0)),
        array(lit(10d), lit(20d), lit(30d), lit(40d)), k = 2).as("adc"),
      VectorFunctions.adc(array(lit(2), lit(0)),
        array(lit(10d), lit(20d), lit(30d), lit(40d)), k = 2)
        .as("oob")).head()
    assert(r.getDouble(0) == 25.0) // 3² + 4²
    assert(r.isNullAt(1))
    assert(r.getDouble(2) == 50.0)
    assert(r.isNullAt(3)) // code ≥ k → null, never a wild read
  }

  test("pq codec: codebook shape, dense codes, encode picks the exact " +
      "codeword for sampled rows, dim-divisibility fails fast") {
    val dim8 = (0 until 4).map(i =>
      (i.toLong, Array.tabulate(8)(j => (i * 8 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebooks(dim8, "embedding", "vec_id",
      m = 2, k = 4)
    val rows = cb.collect()
    assert(rows.length == 8) // m·k
    assert(rows.map(_.getAs[Int]("code")).toSet == Set(0, 1, 2, 3))
    assert(rows.forall(_.getAs[scala.collection.Seq[Float]]("codeword").length == 4))
    // every corpus row IS a sampled codeword here (k = n), so each
    // encodes to its own codeword in every subspace: per-row codes are
    // constant arrays and distinct across rows
    val enc = Similarity.pqEncode(dim8, "embedding", "vec_id", cb, m = 2)
      .collect().map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Int]]("codes")).toMap
    assert(enc.size == 4)
    assert(enc.values.forall(c => c.length == 2 && c.distinct.length == 1))
    assert(enc.values.map(_.head).toSeq.sorted == Seq(0, 1, 2, 3))
    intercept[Exception] {
      Similarity.pqCodebooks(
        Seq((1L, Array(1f, 2f, 3f))).toDF("vec_id", "embedding"),
        "embedding", "vec_id", m = 2, k = 2).collect()
    }
  }

  test("ivfPqTopK: probing every cell reproduces pqTopK exactly; narrow " +
      "probes stay well-formed") {
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
    val q = e.filter(col("vec_id") < 4)
    val (cents, assigned) = Similarity.ivfIndex(e, "embedding", "vec_id", 8)
    val cb = Similarity.pqCodebooks(e, "embedding", "vec_id", m = 8, k = 8)
    val enc = Similarity.pqEncode(e, "embedding", "vec_id", cb, m = 8)
    val ae = assigned.select(col("centroid_id"), col("vec_id"))
      .join(enc, Seq("vec_id"))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val full = Similarity.ivfPqTopK(q, cents, cb, ae, "embedding",
      "vec_id", m = 8, k = 8, topK = 5, nProbe = 8)
    val flat = Similarity.pqTopK(q, cb, enc, "embedding", "vec_id",
      m = 8, k = 8, topK = 5)
    assert(key(full) == key(flat)) // all cells probed ⇒ same candidates
    val narrow = Similarity.ivfPqTopK(q, cents, cb, ae, "embedding",
      "vec_id", m = 8, k = 8, topK = 5, nProbe = 1)
    val perQuery = narrow.groupBy("query_id").count().collect()
      .map(_.getLong(1))
    assert(perQuery.forall(_ <= 5) && perQuery.nonEmpty)
  }

  test("saveIndex/loadIndex: build once, query twice — stored-index " +
      "results bit-equal to the in-memory path; geometry round-trips") {
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
    val q = e.filter(col("vec_id") < 4)
    val (cents, assigned) = Similarity.ivfIndex(e, "embedding", "vec_id", 8)
    val cb = Similarity.pqCodebooks(e, "embedding", "vec_id", m = 8, k = 8)
    val enc = Similarity.pqEncode(e, "embedding", "vec_id", cb, m = 8)
    val ae = assigned.select(col("centroid_id"), col("vec_id"))
      .join(enc, Seq("vec_id"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ann_ix").toString
    Similarity.saveIndex(dir, cents, cb, ae, m = 8, k = 8)
    val ix = Similarity.loadIndex(spark, dir)
    assert(ix.m == 8 && ix.k == 8)
    // the partitioned vectors table restores centroid_id as a column
    assert(ix.assignedEncoded.columns.toSet ==
      Set("centroid_id", "vec_id", "codes"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id", "adist", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
    val inMem = rows(Similarity.ivfPqTopK(q, cents, cb, ae, "embedding",
      "vec_id", m = 8, k = 8, topK = 5, nProbe = 3))
    val stored1 = rows(Similarity.ivfPqTopK(q, ix.centroids, ix.codebooks,
      ix.assignedEncoded, "embedding", "vec_id", m = ix.m, k = ix.k,
      topK = 5, nProbe = 3))
    val stored2 = rows(Similarity.ivfPqTopK(q, ix.centroids, ix.codebooks,
      ix.assignedEncoded, "embedding", "vec_id", m = ix.m, k = ix.k,
      topK = 5, nProbe = 3))
    assert(stored1 == inMem) // bit-equal incl. the double adist
    assert(stored2 == stored1) // re-query without rebuild: stable
  }

  test("updateIndex: frozen-quantizer append equals a one-pass rebuild " +
      "bit-exactly; drift report flags a shifted delta") {
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
    val base = e.filter(col("vec_id") < 300)
    val delta = e.filter(col("vec_id") >= 300)
    val (cents, assigned) = Similarity.ivfIndex(base, "embedding",
      "vec_id", 8)
    val cb = Similarity.pqCodebooks(base, "embedding", "vec_id",
      m = 8, k = 8)
    val encB = Similarity.pqEncode(base, "embedding", "vec_id", cb, m = 8)
    val aeB = assigned.select(col("centroid_id"), col("vec_id"))
      .join(encB, Seq("vec_id"))
    val meanCos = assigned.agg(avg(col("assign_cosine")))
      .head().getDouble(0)
    def freshIx(): String = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_ann_upd").toString + "/ix"
      Similarity.saveIndex(dir, cents, cb, aeB, m = 8, k = 8, meanCos)
      dir
    }
    val dir = freshIx()
    val report = Similarity.updateIndex(spark, dir, delta,
      "embedding", "vec_id").head()
    assert(report.getLong(0) == delta.count())
    assert(report.getDouble(2) == meanCos) // build mean round-trips
    // in-distribution delta: drift is small either way
    assert(math.abs(report.getDouble(3)) < 0.2)
    // updated index ≡ one-pass full-corpus encode against the SAME
    // frozen quantizers — assignment/encoding are per-row deterministic
    val assignedAll = Similarity.assignToCentroids(e, "embedding",
      "vec_id", cents)
    val encAll = Similarity.pqEncode(e, "embedding", "vec_id", cb, m = 8)
    val aeAll = assignedAll.select(col("centroid_id"), col("vec_id"))
      .join(encAll, Seq("vec_id"))
    val q = e.filter(col("vec_id") < 4)
    val ix = Similarity.loadIndex(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id", "adist", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSet
    val updated = rows(Similarity.ivfPqTopK(q, ix.centroids,
      ix.codebooks, ix.assignedEncoded, "embedding", "vec_id",
      m = ix.m, k = ix.k, topK = 5, nProbe = 3))
    val onePass = rows(Similarity.ivfPqTopK(q, cents, cb, aeAll,
      "embedding", "vec_id", m = 8, k = 8, topK = 5, nProbe = 3))
    assert(updated == onePass)
    // planted drift: base clustered on axis 0 (build mean ≈ 1), delta
    // on the orthogonal axis 4 (assign cos ≈ 0) — cosine_drift ≈ 1,
    // the retrain signal. (Negating REAL embeddings barely moves the
    // metric: random 64-dim vectors are near-symmetric, so the
    // max-over-centroids cosine distribution survives negation.)
    def axisVec(axis: Int, wob: Int) = Array.tabulate(8)(j =>
      if (j == axis) 1f else if (j == (axis + 1) % 8) 0.02f * wob else 0f)
    val base2 = (0 until 16).map(i => (i.toLong, axisVec(0, i % 4)))
      .toDF("vec_id", "embedding")
    val delta2 = (100 until 116).map(i => (i.toLong, axisVec(4, i % 4)))
      .toDF("vec_id", "embedding")
    val (c2, a2) = Similarity.ivfIndex(base2, "embedding", "vec_id", 2)
    val cb2 = Similarity.pqCodebooks(base2, "embedding", "vec_id",
      m = 4, k = 2)
    val enc2 = Similarity.pqEncode(base2, "embedding", "vec_id", cb2,
      m = 4)
    val ae2 = a2.select(col("centroid_id"), col("vec_id"))
      .join(enc2, Seq("vec_id"))
    val mean2 = a2.agg(avg(col("assign_cosine"))).head().getDouble(0)
    assert(mean2 > 0.9) // tight base cluster
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_ann_drift").toString + "/ix"
    Similarity.saveIndex(dir2, c2, cb2, ae2, m = 4, k = 2, mean2)
    val report2 = Similarity.updateIndex(spark, dir2, delta2,
      "embedding", "vec_id").head()
    assert(report2.getDouble(3) > 0.5,
      s"orthogonal delta must read as drift, got ${report2.getDouble(3)}")
  }

  test("updateIndex: checkIdOverlap rejects a re-ingested vec_id before " +
      "anything is appended; fresh ids pass the guard") {
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
    val base = e.filter(col("vec_id") < 100)
    val (cents, assigned) = Similarity.ivfIndex(base, "embedding",
      "vec_id", 4)
    val cb = Similarity.pqCodebooks(base, "embedding", "vec_id",
      m = 8, k = 8)
    val enc = Similarity.pqEncode(base, "embedding", "vec_id", cb, m = 8)
    val ae = assigned.select(col("centroid_id"), col("vec_id"))
      .join(enc, Seq("vec_id"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ann_ovl").toString + "/ix"
    Similarity.saveIndex(dir, cents, cb, ae, m = 8, k = 8)
    // delta overlaps the stored layout on id 50 → fail fast, no append
    val overlapping = e.filter(col("vec_id") === 50 ||
      col("vec_id") === 200)
    val before = spark.read.parquet(dir + "/vectors").count()
    val ex = intercept[IllegalArgumentException](Similarity.updateIndex(
      spark, dir, overlapping, "embedding", "vec_id",
      checkIdOverlap = true).count())
    assert(ex.getMessage.contains("already present"))
    assert(spark.read.parquet(dir + "/vectors").count() == before,
      "guard must fire BEFORE the append")
    // disjoint delta passes the guard and appends
    val fresh = e.filter(col("vec_id") >= 200 && col("vec_id") < 210)
    val rep = Similarity.updateIndex(spark, dir, fresh, "embedding",
      "vec_id", checkIdOverlap = true).head()
    assert(rep.getLong(0) == fresh.count())
    assert(spark.read.parquet(dir + "/vectors").count() ==
      before + fresh.count())
  }

  test("compactIndex: fragmented appends collapse to one file per cell, " +
      "query-identical; drift ledger drives the retrain recommendation") {
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
    val base = e.filter(col("vec_id") < 200)
    val (cents, assigned) = Similarity.ivfIndex(base, "embedding",
      "vec_id", 8)
    val cb = Similarity.pqCodebooks(base, "embedding", "vec_id",
      m = 8, k = 8)
    val enc = Similarity.pqEncode(base, "embedding", "vec_id", cb, m = 8)
    val ae = assigned.select(col("centroid_id"), col("vec_id"))
      .join(enc, Seq("vec_id"))
    val stats = assigned.agg(avg(col("assign_cosine")),
      stddev_pop(col("assign_cosine"))).head()
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ann_cmp").toString + "/ix"
    Similarity.saveIndex(dir, cents, cb, ae, m = 8, k = 8,
      stats.getDouble(0), stats.getDouble(1))
    // two fragmenting appends, each its own parquet fragment set
    Similarity.updateIndex(spark, dir,
      e.filter(col("vec_id") >= 200 && col("vec_id") < 300),
      "embedding", "vec_id").collect()
    Similarity.updateIndex(spark, dir, e.filter(col("vec_id") >= 300),
      "embedding", "vec_id").collect()
    val q = e.filter(col("vec_id") < 4)
    def rows(ix: Similarity.AnnIndex) =
      Similarity.ivfPqTopK(q, ix.centroids, ix.codebooks,
        ix.assignedEncoded, "embedding", "vec_id", m = ix.m, k = ix.k,
        topK = 5, nProbe = 3)
        .select("query_id", "vec_id", "adist", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSet
    val beforeRows = rows(Similarity.loadIndex(spark, dir))
    val rep = Similarity.compactIndex(spark, dir).head()
    assert(rep.getLong(0) == e.count(), "row count preserved")
    val nCells = spark.read.parquet(s"$dir/vectors")
      .select("centroid_id").distinct().count()
    assert(rep.getLong(2) < rep.getLong(1),
      s"must shrink: ${rep.getLong(1)} -> ${rep.getLong(2)}")
    assert(rep.getLong(2) == nCells, "one file per populated cell")
    assert(rows(Similarity.loadIndex(spark, dir)) == beforeRows,
      "compaction must be query-identical (bit-equal)")
    // ledger: both appends recorded; in-distribution deltas -> no retrain
    assert(rep.getLong(4) == 2L)
    assert(!rep.getBoolean(9))
    assert(rep.getLong(3) == 0L, "no tombstones -> nothing purged")
    // compaction rolls the ledger up to ONE summary row in ONE file,
    // with the batch count and weighted mean preserved as sufficient
    // statistics — a later compaction still reports both absorbed
    // batches and the same weighted drift
    val ledger = spark.read.parquet(s"$dir/drift_log").collect()
    assert(ledger.length == 1 && ledger.head.getLong(2) == 2L)
    assert(new java.io.File(s"$dir/drift_log").listFiles()
      .count(_.getName.endsWith(".parquet")) == 1)
    val repAgain = Similarity.compactIndex(spark, dir).head()
    assert(repAgain.getLong(4) == 2L,
      "rolled-up ledger keeps the absorbed-batch count")
    assert(repAgain.getDouble(5) == rep.getDouble(5),
      "rolled-up ledger keeps the weighted delta mean")
    // crash-window self-heal: a compaction that died between the
    // aside-rename and the promote leaves NO live drift_log but a
    // complete copy at drift_log_compact_old — the next compaction
    // must rename it back on entry, not destroy it with the
    // unconditional pre-swap delete
    assert(new java.io.File(s"$dir/drift_log")
      .renameTo(new java.io.File(s"$dir/drift_log_compact_old")),
      "fixture: simulate the crash window")
    val repHealed = Similarity.compactIndex(spark, dir).head()
    assert(repHealed.getLong(4) == 2L,
      "self-healed ledger keeps the absorbed-batch count")
    assert(repHealed.getDouble(5) == rep.getDouble(5),
      "self-healed ledger keeps the weighted delta mean")
    assert(new java.io.File(s"$dir/drift_log").exists() &&
      !new java.io.File(s"$dir/drift_log_compact_old").exists(),
      "live ledger restored, aside copy gone")
    // a rebuild into the same dir resets the maintenance state: the
    // ledger measured the OLD quantizers (stale latch) and every
    // fresh-written row is live by definition
    Similarity.saveIndex(dir, cents, cb, ae, m = 8, k = 8,
      stats.getDouble(0), stats.getDouble(1))
    assert(!new java.io.File(s"$dir/drift_log").exists(),
      "saveIndex clears the drift ledger")
    assert(Similarity.compactIndex(spark, dir).head().isNullAt(9),
      "no ledger -> no recommendation")
    // planted drift: orthogonal-axis deltas push the weighted delta mean
    // far below the build mean -> retrain recommended
    def axisVec(axis: Int, wob: Int) = Array.tabulate(8)(j =>
      if (j == axis) 1f else if (j == (axis + 1) % 8) 0.02f * wob else 0f)
    val base2 = (0 until 16).map(i => (i.toLong, axisVec(0, i % 4)))
      .toDF("vec_id", "embedding")
    val delta2 = (100 until 116).map(i => (i.toLong, axisVec(4, i % 4)))
      .toDF("vec_id", "embedding")
    val (c2, a2) = Similarity.ivfIndex(base2, "embedding", "vec_id", 2)
    val cb2 = Similarity.pqCodebooks(base2, "embedding", "vec_id",
      m = 4, k = 2)
    val enc2 = Similarity.pqEncode(base2, "embedding", "vec_id", cb2,
      m = 4)
    val ae2 = a2.select(col("centroid_id"), col("vec_id"))
      .join(enc2, Seq("vec_id"))
    val st2 = a2.agg(avg(col("assign_cosine")),
      stddev_pop(col("assign_cosine"))).head()
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_ann_cmp2").toString + "/ix"
    Similarity.saveIndex(dir2, c2, cb2, ae2, m = 4, k = 2,
      st2.getDouble(0), st2.getDouble(1))
    Similarity.updateIndex(spark, dir2, delta2, "embedding", "vec_id")
      .collect()
    val rep2 = Similarity.compactIndex(spark, dir2).head()
    assert(rep2.getBoolean(9),
      s"orthogonal delta must recommend retrain: drift=${rep2.get(7)} " +
        s"tol=${rep2.get(8)}")
  }

  test("retrainIndex: planted drift measurably recovers recall; the " +
      "swapped layout is bit-identical to a fresh build on the purged " +
      "corpus; the maintenance era resets") {
    // two identical-vector families; ids chosen so the deterministic
    // id-hash 2-sample of the MIXED corpus picks one vector per family
    // (h(0)=0 leads, h(1597) beats every other id here) while the
    // base-only sample stays all-axis-0 — so pre-retrain quantizers
    // cannot represent the drift family and post-retrain ones can
    def axis(a: Int) = Array.tabulate(8)(j => if (j == a) 1f else 0f)
    val base = (0 until 16).map(i => (i.toLong, axis(0)))
      .toDF("vec_id", "embedding")
    val delta = (1597 until 1613).map(i => (i.toLong, axis(4)))
      .toDF("vec_id", "embedding")
    val corpus = base.unionByName(delta)
    val (c0, a0) = Similarity.ivfIndex(base, "embedding", "vec_id", 2)
    val cb0 = Similarity.pqCodebooks(base, "embedding", "vec_id",
      m = 4, k = 2)
    val enc0 = Similarity.pqEncode(base, "embedding", "vec_id", cb0,
      m = 4)
    val ae0 = a0.select(col("centroid_id"), col("vec_id"))
      .join(enc0, Seq("vec_id"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ann_rt").toString + "/ix"
    Similarity.saveIndex(dir, c0, cb0, ae0, m = 4, k = 2)
    Similarity.updateIndex(spark, dir, delta, "embedding", "vec_id")
      .collect()
    // erase two rows first: retrain must purge them from training,
    // serving, and the tombstone set
    Similarity.deleteFromIndex(spark, dir,
      Seq(15L, 1612L).toDF("vec_id"), "vec_id").collect()
    val rep = Similarity.retrainIndex(spark, dir, corpus,
      "embedding", "vec_id").head()
    assert(rep.getLong(0) == 30L, "tombstoned rows excluded from corpus")
    assert(rep.getLong(1) == 2L)
    assert(rep.getInt(2) == 2 && rep.getInt(3) == 4 &&
      rep.getInt(4) == 2, "geometry preserved")
    val (nExact, before, after) =
      (rep.getLong(5), rep.getLong(6), rep.getLong(7))
    assert(nExact == 40L)
    assert(after > before,
      s"retrain must recover recall: before=$before after=$after")
    // bit-identity: the swapped layout equals a fresh build on the
    // same purged corpus
    val live = corpus.filter(!col("vec_id").isin(15L, 1612L))
    val (c1, a1) = Similarity.ivfIndex(live, "embedding", "vec_id", 2)
    val cb1 = Similarity.pqCodebooks(live, "embedding", "vec_id",
      m = 4, k = 2)
    val enc1 = Similarity.pqEncode(live, "embedding", "vec_id", cb1,
      m = 4)
    val ix = Similarity.loadIndex(spark, dir)
    def vset(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("codes").cast("string"),
          col("centroid_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSet
    assert(vset(ix.assignedEncoded) == vset(
      a1.select(col("centroid_id"), col("vec_id")).join(enc1,
        Seq("vec_id"))))
    assert(ix.centroids.select("centroid_id").collect()
      .map(_.getLong(0)).toSet ==
      c1.select("centroid_id").collect().map(_.getLong(0)).toSet)
    assert(Set(0L, 1597L) == ix.centroids.select("centroid_id")
      .collect().map(_.getLong(0)).toSet,
      "mixed-corpus quantizer sample covers both families")
    // the committed version starts clean: no ledger, no tombstones,
    // no leftover staging dirs
    val root = FrameVersions.latest(spark, dir).root
    assert(!new java.io.File(s"$root/drift_log").exists())
    assert(!new java.io.File(s"$root/tombstones").exists())
    assert(!new java.io.File(s"${dir}_retrain_tmp").exists())
    assert(!new java.io.File(s"${dir}_retrain_old").exists())
  }

  test("deleteFromIndex: tombstoned ids vanish from serving without a " +
      "rewrite; compaction purges them physically and clears the set") {
    val e = (0 until 32).map(i =>
        (i.toLong, Array.tabulate(8)(j => ((i * 8 + j) % 13).toFloat)))
      .toDF("vec_id", "embedding")
    val (cents, assigned) = Similarity.ivfIndex(e, "embedding",
      "vec_id", k = 4)
    val cb = Similarity.pqCodebooks(e, "embedding", "vec_id", m = 4,
      k = 4)
    val enc = Similarity.pqEncode(e, "embedding", "vec_id", cb, m = 4)
    val ae = assigned.select(col("centroid_id"), col("vec_id"))
      .join(enc, Seq("vec_id"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ann_del").toString + "/ix"
    Similarity.saveIndex(dir, cents, cb, ae, m = 4, k = 4)
    val q = e.filter(col("vec_id") < 2)
    def served(): Set[Long] = {
      val ix = Similarity.loadIndex(spark, dir)
      Similarity.ivfPqTopK(q, ix.centroids, ix.codebooks,
          ix.assignedEncoded, "embedding", "vec_id", m = 4, k = 4,
          topK = 32, nProbe = 4)
        .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
    }
    val before = served()
    val dead = Seq(3L, 7L, 11L).toDF("vec_id")
    val rep = Similarity.deleteFromIndex(spark, dir, dead, "vec_id")
      .head()
    assert(rep.getLong(0) == 3L && rep.getLong(1) == 3L)
    val after = served()
    assert(after == before -- Set(3L, 7L, 11L))
    // absent-id delete is a no-op; totals accumulate distinct
    Similarity.deleteFromIndex(spark, dir, Seq(3L, 999L).toDF("vec_id"),
      "vec_id").collect()
    assert(served() == after)
    // compaction purges physically and clears the tombstone set
    val crep = Similarity.compactIndex(spark, dir).head()
    assert(crep.getLong(3) == 4L, "purged distinct tombstones")
    assert(!new java.io.File(s"$dir/tombstones").exists())
    assert(served() == after, "purge must be serving-invariant")
  }

  test("pqTopK: near-identical twin ranks first with near-zero distance") {
    // two tight clusters + noise; query 0's twin (id 10) shares its
    // codes, so ADC distance equals the query's own quantization
    // residual — far below any cross-cluster distance
    val base = Array.tabulate(8)(j => j.toFloat)
    val far = Array.tabulate(8)(j => (100 - j).toFloat)
    val vecs = Seq(
      (0L, base), (10L, base.map(x => x + 0.01f)),
      (20L, far), (21L, far.map(x => x + 0.01f)),
      (30L, Array.tabulate(8)(j => (j * j).toFloat)))
      .toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebooks(vecs, "embedding", "vec_id",
      m = 4, k = 4)
    val enc = Similarity.pqEncode(vecs, "embedding", "vec_id", cb, m = 4)
    val top = Similarity.pqTopK(
        vecs.filter(col("vec_id") === 0L), cb, enc,
        "embedding", "vec_id", m = 4, k = 4, topK = 2)
      .orderBy("rank").collect()
    assert(top.head.getAs[Long]("vec_id") == 10L)
    assert(top.head.getAs[Double]("adist") <
      top.last.getAs[Double]("adist"))
  }

  test("rerankTopK: full-set rerank IS brute force bit-equal; a PQ " +
      "shortlist reranked realizes exactly the shortlist's recall mass") {
    // same planted-cluster construction as the residual-PQ test: PQ
    // destroys within-cluster ranking, which is precisely what the
    // exact rerank stage exists to recover
    val n = 240
    val dim = 64
    val vecs = (0 until n).map { id =>
      val cluster = id / 30
      val variant = id % 4
      val v = Array.tabulate(dim) { i =>
        val sign = if (((i + 7) * (cluster + 13)) % 5 <= 2) 1f else -1f
        10f * sign + 0.2f * (((i + variant) % 4) - 1.5f)
      }
      (id.toLong, v)
    }.toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") % 30 === 0) // one per cluster
    val exact = Similarity.bruteForceTopK(q, vecs, "embedding", "vec_id",
      k = 5)
    // degenerate shortlist = every candidate → rerank IS brute force,
    // including bit-equal cosines (same kernel, same tie-break)
    val all = Similarity.bruteForceTopK(q, vecs, "embedding", "vec_id",
      k = n)
    val rerankAll = Similarity.rerankTopK(all, q, vecs, "embedding",
      "vec_id", topK = 5)
    assert(rerankAll.orderBy("query_id", "rank").collect().toSeq ==
      exact.orderBy("query_id", "rank").collect().toSeq)
    // PQ shortlist leg
    val (cents, assigned) = Similarity.ivfIndex(vecs, "embedding",
      "vec_id", k = 16)
    val cb = Similarity.pqCodebooks(vecs, "embedding", "vec_id",
      m = 8, k = 16)
    val enc = Similarity.pqEncode(vecs, "embedding", "vec_id", cb, m = 8)
    val ae = assigned.select(col("centroid_id"), col("vec_id"))
      .join(enc, Seq("vec_id"))
    val adc5 = Similarity.ivfPqTopK(q, cents, cb, ae, "embedding",
      "vec_id", m = 8, k = 16, topK = 5, nProbe = 4)
    val short25 = Similarity.ivfPqTopK(q, cents, cb, ae, "embedding",
      "vec_id", m = 8, k = 16, topK = 25, nProbe = 4)
    val rr = Similarity.rerankTopK(short25, q, vecs, "embedding",
      "vec_id", topK = 5)
    // rerank returns only shortlisted candidates
    val shortSet = short25.select(col("query_id"), col("vec_id"))
      .as[(Long, Long)].collect().toSet
    val rrPairs = rr.select(col("query_id"), col("vec_id"))
      .as[(Long, Long)].collect()
    rrPairs.foreach(p => assert(shortSet(p), s"$p not in shortlist"))
    // THE theorem: rerank's top-5 contains every exact-top-5 member the
    // shortlist caught (they have the highest true cosines, so they
    // win the exact re-scoring) — recall@5 of the composed search
    // equals recall@25 of the ADC stage, and can only beat raw ADC@5
    val exactSet = exact.select(col("query_id"), col("vec_id"))
      .as[(Long, Long)].collect().toSet
    val rrHits = rrPairs.count(exactSet)
    val shortMass = shortSet.count(exactSet)
    val adcHits = adc5.select(col("query_id"), col("vec_id"))
      .as[(Long, Long)].collect().count(exactSet)
    info(s"recall@5 over 16 queries: rerank $rrHits/80, " +
      s"adc@5 $adcHits/80, shortlist mass $shortMass/80")
    assert(rrHits == shortMass,
      s"rerank must realize the shortlist's full recall mass: " +
        s"$rrHits vs $shortMass")
    assert(rrHits >= adcHits)
  }

  test("residual PQ beats raw PQ on clustered data; codec is well-formed") {
    // Planted structure: 16 well-separated clusters with DENSE centers
    // (±10 mixed-sign patterns across all 64 dims — so every PQ
    // subspace sees 16 distinct cluster subvectors, not zeros), each
    // point = center + one of 4 small periodic perturbation patterns.
    // Raw PQ's 16 codewords per subspace must spend themselves covering
    // the 16 cluster patterns, so within a cluster its reconstruction
    // collapses to ~the center and the within-cluster ranking signal
    // drowns in quantization error. After the coarse assign the
    // residual is a difference of two small perturbation patterns — a
    // tiny per-subspace set the residual codebook resolves nearly
    // exactly. This is THE case residual encoding exists for (and the
    // mirror of q_x3l's structureless-corpus negative result).
    val n = 480
    val dim = 64
    val vecs = (0 until n).map { id =>
      val cluster = id / 30
      val variant = id % 4
      val v = Array.tabulate(dim) { i =>
        val sign = if (((i + 7) * (cluster + 13)) % 5 <= 2) 1f else -1f
        val pert = 0.2f * (((i + variant) % 4) - 1.5f)
        10f * sign + pert
      }
      (id.toLong, v)
    }.toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") % 30 === 0) // one per cluster
    val exact = Similarity.bruteForceTopK(q, vecs, "embedding", "vec_id",
      k = 5)
    val (cents, assigned) = Similarity.ivfIndex(vecs, "embedding",
      "vec_id", k = 32)
    val cbRaw = Similarity.pqCodebooks(vecs, "embedding", "vec_id",
      m = 8, k = 16)
    val encRaw = Similarity.pqEncode(vecs, "embedding", "vec_id", cbRaw,
      m = 8)
    val aeRaw = assigned.select(col("centroid_id"), col("vec_id"))
      .join(encRaw, Seq("vec_id"))
    val raw = Similarity.ivfPqTopK(q, cents, cbRaw, aeRaw, "embedding",
      "vec_id", m = 8, k = 16, topK = 5, nProbe = 4)
    val cbRes = Similarity.pqCodebooksResidual(vecs, "embedding",
      "vec_id", assigned, cents, m = 8, k = 16)
    val encRes = Similarity.pqEncodeResidual(vecs, "embedding", "vec_id",
      assigned, cents, cbRes, m = 8)
    val aeRes = assigned.select(col("centroid_id"), col("vec_id"))
      .join(encRes, Seq("vec_id"))
    val res = Similarity.ivfPqResidualTopK(q, cents, cbRes, aeRes,
      "embedding", "vec_id", m = 8, k = 16, topK = 5, nProbe = 4)
    // codec well-formedness: m codes per vector, codes within [0, k)
    val shape = encRes.select(size(col("codes")).as("m"),
      array_max(col("codes")).as("hi"), array_min(col("codes")).as("lo"))
      .agg(min("m"), max("m"), max("hi"), min("lo")).head()
    assert(shape.getInt(0) == 8 && shape.getInt(1) == 8)
    assert(shape.getInt(2) < 16 && shape.getInt(3) >= 0)
    def hits(approx: org.apache.spark.sql.DataFrame): Long =
      Similarity.recallAtK(exact, approx)
        .agg(sum("n_hits")).head().getLong(0)
    val (rawHits, resHits) = (hits(raw), hits(res))
    info(s"recall@5 over 16 queries: residual $resHits/80, raw $rawHits/80")
    assert(resHits > rawHits,
      s"residual PQ must beat raw PQ on clustered data: " +
        s"residual $resHits vs raw $rawHits of ${16 * 5}")
    assert(resHits >= 40,
      s"residual PQ should resolve most within-cluster ranks: $resHits/80")
  }

  test("pcaMoments: exact-integer sums and products, hand-computed, " +
      "partition-order-free") {
    val vecs = Seq(
      (1L, Seq(1.0f, 2.0f)),
      (2L, Seq(3.0f, 4.0f)),
      (3L, Seq(5.0f, 6.0f))).toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6)))).toMap
    val m = rows(Similarity.pcaMoments(vecs, "embedding"))
    assert(m.size == 3) // (0,0), (0,1), (1,1)
    val (n00, s0, _, sp00, c00) = m((0L, 0L))
    assert(n00 == 3L && s0 == 9000000L && sp00 == 35000000000000L)
    assert(math.abs(c00 - 8.0 / 3.0) < 1e-9) // population var of 1,3,5
    val (_, _, s1, sp01, _) = m((0L, 1L))
    assert(s1 == 12000000L && sp01 == 44000000000000L)
    assert(m((1L, 1L))._4 == 56000000000000L)
    // exact longs => identical under any partitioning
    assert(rows(Similarity.pcaMoments(vecs.repartition(5),
      "embedding")) == m)
  }

  test("pcaFit + pcaProject: the top component recovers a planted " +
      "principal axis, components are orthonormal with ordered " +
      "eigenvalues, projections are centered and variance-ordered") {
    // points along (0.6, 0.8) with small orthogonal jitter
    val pts = (-10 to 10).map { t =>
      val u = t / 10.0
      val j = (t % 3) * 0.01 // deterministic jitter in (-0.8, 0.6)
      (t.toLong + 10L,
        Seq((0.6 * u - 0.8 * j).toFloat, (0.8 * u + 0.6 * j).toFloat))
    }
    val df = pts.toDF("vec_id", "embedding")
    val model = Similarity.pcaFit(df, "embedding", k = 2)
    val v0 = model.components(0)
    val align = math.abs(v0(0) * 0.6 + v0(1) * 0.8)
    assert(align > 0.999, s"top axis ${v0.toSeq} vs (0.6, 0.8)")
    // sign pin: the largest-|weight| coordinate is positive
    assert(v0.maxBy(math.abs) > 0)
    val v1 = model.components(1)
    assert(math.abs(v0(0) * v1(0) + v0(1) * v1(1)) < 1e-6,
      "components orthogonal")
    assert(math.abs(v0.map(x => x * x).sum - 1.0) < 1e-9 &&
      math.abs(v1.map(x => x * x).sum - 1.0) < 1e-9, "unit norm")
    assert(model.eigenvalues(0) > 10 * model.eigenvalues(1),
      s"planted axis dominates: ${model.eigenvalues.toSeq}")
    val proj = Similarity.pcaProject(df, "vec_id", "embedding", model)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val y0 = pts.map(p => proj((p._1, 0L)))
    val y1 = pts.map(p => proj((p._1, 1L)))
    def meanOf(xs: Seq[Double]) = xs.sum / xs.size
    def varOf(xs: Seq[Double]) = {
      val mu = meanOf(xs); xs.map(x => (x - mu) * (x - mu)).sum / xs.size
    }
    assert(math.abs(meanOf(y0)) < 1e-6 && math.abs(meanOf(y1)) < 1e-6,
      "projections centered")
    assert(varOf(y0) > 10 * varOf(y1), "variance ordered")
    intercept[IllegalArgumentException](
      Similarity.pcaFit(df, "embedding", k = 0))
    intercept[IllegalArgumentException](
      Similarity.pcaFit(df, "embedding", k = 5))
  }

  test("pcaFit on a NON-zero-mean corpus: the covariance comes from " +
      "pcaMoments' centered cov, so a translated cloud recovers the " +
      "same planted axis as the centered one") {
    // the same planted-axis cloud as above, shifted far from the
    // origin — the regression fixture for the mis-centered covariance
    // (sᵢ·sⱼ/n² instead of sᵢ·sⱼ/n), which only zero-mean data hid
    val pts = (-10 to 10).map { t =>
      val u = t / 10.0
      val j = (t % 3) * 0.01
      (t.toLong + 10L,
        Seq((5.0 + 0.6 * u - 0.8 * j).toFloat,
          (7.0 + 0.8 * u + 0.6 * j).toFloat))
    }
    val df = pts.toDF("vec_id", "embedding")
    val model = Similarity.pcaFit(df, "embedding", k = 2)
    val v0 = model.components(0)
    val align = math.abs(v0(0) * 0.6 + v0(1) * 0.8)
    assert(align > 0.999,
      s"translated cloud's top axis ${v0.toSeq} vs (0.6, 0.8)")
    assert(model.eigenvalues(0) > 10 * model.eigenvalues(1),
      s"planted axis dominates: ${model.eigenvalues.toSeq}")
    // and the fitted diagonal equals pcaMoments' own cov column
    val momCov = Similarity.pcaMoments(df, "embedding")
      .filter(col("i") === col("j")).collect()
      .map(r => r.getLong(0) -> r.getDouble(6)).toMap
    val eigSum = model.eigenvalues.sum
    assert(math.abs(eigSum - (momCov(0L) + momCov(1L))) < 1e-9,
      "trace(cov) must equal the eigenvalue sum (full-rank fit)")
  }

  test("pcaRotate + PQ (the OPQ-P recipe): decorrelating before " +
      "product quantization beats raw PQ on cross-subspace-correlated " +
      "data, with L2 ground truth preserved by the rotation") {
    // latent axes with concentrated variance, mixed ACROSS the PQ
    // subspace boundary by 45-degree rotations of dim pairs (i, i+8):
    // raw PQ (m=4 chunks of 4 dims) must then model each strong axis
    // in two codebooks at once
    val d = 16
    def h(a: Long, b: Long): Double = {
      val x = a * 2654435761L + b * 40503L
      ((x % 1000L + 1000L) % 1000L) / 1000.0 - 0.5
    }
    val scales = Array(6.0, 5.0, 4.0, 3.0, 0.3, 0.3, 0.3, 0.3,
      0.3, 0.3, 0.3, 0.3, 0.3, 0.3, 0.3, 0.3)
    val pts = (0L until 160L).map { r =>
      val z = Array.tabulate(d)(i => h(r, i.toLong) * scales(i))
      val x = new Array[Double](d)
      val c = math.cos(math.Pi / 4); val sn = math.sin(math.Pi / 4)
      for (i <- 0 until 8) {
        x(i) = c * z(i) - sn * z(i + 8)
        x(i + 8) = sn * z(i) + c * z(i + 8)
      }
      (r, x.map(_.toFloat).toSeq)
    }
    val df = pts.toDF("vec_id", "embedding")
    // L2 ground truth (exact, in-memory — the rotation preserves it)
    val arr = pts.toMap
    def l2(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (p, q) => (p - q).toDouble * (p - q) }.sum
    val queries = (0L until 16L).toSeq
    val truth = queries.map { q =>
      q -> pts.filter(_._1 != q)
        .sortBy(p => (l2(arr(q), p._2), p._1)).take(5).map(_._1).toSet
    }.toMap
    def recall(topk: Map[Long, Set[Long]]): Int =
      queries.map(q => (truth(q) & topk.getOrElse(q, Set())).size).sum
    def pqRun(data: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] = {
      val cb = Similarity.pqCodebooks(data, "embedding", "vec_id",
        m = 4, k = 8)
      val enc = Similarity.pqEncode(data, "embedding", "vec_id", cb,
        m = 4)
      Similarity.pqTopK(
          data.filter(col("vec_id") < 16), cb, enc,
          "embedding", "vec_id", m = 4, k = 8, topK = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1)
        .map { case (q, rs) =>
          q -> rs.map(_._2).filter(_ != q).take(5).toSet }
    }
    val rawHits = recall(pqRun(df))
    val model = Similarity.pcaFit(df, "embedding", k = d)
    val rot = Similarity.pcaRotate(df, "vec_id", "embedding", model)
    val rotHits = recall(pqRun(rot))
    info(s"recall@5 over 16 queries: rotated $rotHits/80, raw $rawHits/80")
    assert(rotHits > rawHits,
      s"PCA-rotated PQ must beat raw PQ on correlated data: " +
        s"$rotHits vs $rawHits of 80")
  }

  // the cross-subspace-correlated fixture shared by the rotation
  // tests: latent axes mixed ACROSS the m=4 PQ boundary by 45-degree
  // rotations of dim pairs (i, i+8). Two variance layouts: the
  // CONCENTRATED one (all strong latents in dims 0-3 — the shape PCA's
  // variance ordering handles) and the SPREAD one (one strong latent
  // per PQ subspace after un-mixing — the shape a pure rotation fixes
  // outright, no reordering needed).
  private def mixedFixture(scales: Array[Double])
      : Seq[(Long, Seq[Float])] = {
    val d = 16
    def h(a: Long, b: Long): Double = {
      val x = a * 2654435761L + b * 40503L
      ((x % 1000L + 1000L) % 1000L) / 1000.0 - 0.5
    }
    (0L until 160L).map { r =>
      val z = Array.tabulate(d)(i => h(r, i.toLong) * scales(i))
      val x = new Array[Double](d)
      val c = math.cos(math.Pi / 4); val sn = math.sin(math.Pi / 4)
      for (i <- 0 until 8) {
        x(i) = c * z(i) - sn * z(i + 8)
        x(i + 8) = sn * z(i) + c * z(i + 8)
      }
      (r, x.map(_.toFloat).toSeq)
    }
  }
  private val concScales = Array(6.0, 5.0, 4.0, 3.0, 0.3, 0.3, 0.3,
    0.3, 0.3, 0.3, 0.3, 0.3, 0.3, 0.3, 0.3, 0.3)
  private val spreadScales = Array(6.0, 0.3, 0.3, 0.3, 5.0, 0.3, 0.3,
    0.3, 4.0, 0.3, 0.3, 0.3, 3.0, 0.3, 0.3, 0.3)

  private def l2Truth(pts: Seq[(Long, Seq[Float])],
      queries: Seq[Long]): Map[Long, Set[Long]] = {
    val arr = pts.toMap
    def l2(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (p, q) => (p - q).toDouble * (p - q) }.sum
    queries.map { q =>
      q -> pts.filter(_._1 != q)
        .sortBy(p => (l2(arr(q), p._2), p._1)).take(5).map(_._1).toSet
    }.toMap
  }

  test("givensCascadeFit/Rotate: exactly orthogonal (pairwise L2 " +
      "preserved), kills the planted cross-subspace correlation, and " +
      "cascade-rotated PQ beats raw PQ") {
    val pts = mixedFixture(spreadScales)
    val df = pts.toDF("vec_id", "embedding")
    val stages = Similarity.givensCascadeFit(df, "embedding",
      Seq(8, 4, 2, 1))
    val rot = Similarity.givensCascadeRotate(df, "vec_id", "embedding",
      stages)
    val rotMap = rot.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def l2(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (p, q) => (p - q).toDouble * (p - q) }.sum
    val arr = pts.toMap
    for (a <- 0L until 10L; b <- (a + 1) to 10L) {
      val raw = l2(arr(a), arr(b)); val rr = l2(rotMap(a), rotMap(b))
      assert(math.abs(raw - rr) <= 1e-3 * (raw + 1.0),
        s"L2($a,$b) must survive the rotation: $raw vs $rr")
    }
    // the planted (0, 8) mixing is gone: rotated covariance's
    // cross-subspace cell collapses vs the raw one
    def cov08(d2: org.apache.spark.sql.DataFrame): Double =
      Similarity.pcaMoments(d2, "embedding")
        .filter(col("i") === 0L && col("j") === 8L)
        .head().getDouble(6)
    val rawC = math.abs(cov08(df)); val rotC = math.abs(cov08(rot))
    assert(rotC < rawC / 10.0,
      s"cascade must decorrelate the swept pair: |cov| $rawC -> $rotC")
    // and the PQ payoff: same codebook budget, better recall
    val queries = (0L until 16L).toSeq
    val truth = l2Truth(pts, queries)
    def recall(topk: Map[Long, Set[Long]]): Int =
      queries.map(q => (truth(q) & topk.getOrElse(q, Set())).size).sum
    def pqRun(data: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] = {
      val cb = Similarity.pqCodebooks(data, "embedding", "vec_id",
        m = 4, k = 8)
      val enc = Similarity.pqEncode(data, "embedding", "vec_id", cb,
        m = 4)
      Similarity.pqTopK(
          data.filter(col("vec_id") < 16), cb, enc,
          "embedding", "vec_id", m = 4, k = 8, topK = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1)
        .map { case (q, rs) =>
          q -> rs.map(_._2).filter(_ != q).take(5).toSet }
    }
    val rawHits = recall(pqRun(df))
    val rotHits = recall(pqRun(rot))
    info(s"recall@5: cascade-rotated $rotHits/80, raw $rawHits/80")
    assert(rotHits > rawHits,
      s"cascade-rotated PQ must beat raw PQ: $rotHits vs $rawHits")
    intercept[IllegalArgumentException](
      Similarity.givensCascadeFit(df, "embedding", Seq(3)))
    intercept[IllegalArgumentException](
      Similarity.givensCascadeFit(df, "embedding", Nil))
  }

  test("maintainPcaMoments: maintained table bit-equals the one-shot " +
      "rebuild, cascade/PCA refits off it are stage-identical, " +
      "unknown takedowns no-op, and the grid guards fire") {
    val pts = mixedFixture(spreadScales)
    val df = pts.toDF("vec_id", "embedding")
    val base = df.filter(col("vec_id") % 4 =!= 0)
    val adds = df.filter(col("vec_id") % 4 === 0)
    val rems = df.filter(col("vec_id") % 4 =!= 0 &&
      col("vec_id") % 3 === 0)
    val st = Similarity.maintainPcaMoments(
      Similarity.buildMomentsStore(base, "vec_id", "embedding"),
      adds, rems, "vec_id", "embedding")
    val eff = df.filter(col("vec_id") % 4 === 0 ||
      (col("vec_id") % 4 =!= 0 && col("vec_id") % 3 =!= 0))
    def cells(m: org.apache.spark.sql.DataFrame) =
      m.select("i", "j", "n", "s_i", "s_j", "sp", "cov").collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
            r.getDouble(6)))).toMap
    val maintained = cells(st.moments)
    val oneShot = cells(Similarity.pcaMoments(eff, "embedding"))
    assert(maintained == oneShot,
      "maintained moments must BIT-equal the effective-corpus rebuild")
    // registry tracks the effective ids
    assert(st.docs.collect().map(_.getLong(0)).toSet ==
      eff.select("vec_id").collect().map(_.getLong(0)).toSet)
    // refit WITHOUT a rescan ≡ refit off the rescan, stage for stage
    val offs = Seq(8, 4, 2, 1)
    val fromStore = Similarity.givensCascadeFitFromMoments(
      st.moments, offs)
    val fromScan = Similarity.givensCascadeFit(eff, "embedding", offs)
    assert(fromStore.zip(fromScan).forall { case (a, b) =>
      a.offset == b.offset && a.cos.sameElements(b.cos) &&
        a.sin.sameElements(b.sin) },
      "cascade refit off the maintained store must be bit-identical")
    val pcaStore = Similarity.pcaFitFromMoments(st.moments, k = 2,
      iters = 30)
    val pcaScan = Similarity.pcaFit(eff, "embedding", k = 2,
      iters = 30)
    assert(pcaStore.means.sameElements(pcaScan.means) &&
      pcaStore.components.zip(pcaScan.components)
        .forall { case (a, b) => a.sameElements(b) })
    // unknown-id takedown no-ops (registry semi-join)
    val ghost = Similarity.maintainPcaMoments(st,
      df.limit(0), df.filter(col("vec_id") === 99999L),
      "vec_id", "embedding")
    assert(cells(ghost.moments) == maintained)
    // save/load round-trip serves the same refit
    val dir = java.nio.file.Files
      .createTempDirectory("graft_moments").toString + "/st"
    Similarity.saveMomentsStore(st, dir)
    val loaded = Similarity.loadMomentsStore(spark, dir)
    assert(cells(loaded.moments) == maintained)
    // guard: re-add of a LIVE id without its old row fails loudly
    // (the store keeps no per-doc terms — a silent double-count
    // would be undetectable later)
    intercept[Exception] {
      Similarity.maintainPcaMoments(st,
        eff.limit(1), df.limit(0), "vec_id", "embedding")
        .moments.collect()
    }
    // same-call duplicate ids fold deterministically (the CDC fold):
    // adding a row twice in one batch counts once
    val dupAdds = df.filter(col("vec_id") === 99999L) // none: baseline
    val one = df.filter(col("vec_id") % 4 === 0).limit(1)
    val viaDup = Similarity.maintainPcaMoments(
      Similarity.buildMomentsStore(base, "vec_id", "embedding"),
      one.unionByName(one), rems, "vec_id", "embedding")
    val viaOne = Similarity.maintainPcaMoments(
      Similarity.buildMomentsStore(base, "vec_id", "embedding"),
      one, rems, "vec_id", "embedding")
    assert(cells(viaDup.moments) == cells(viaOne.moments))
    assert(dupAdds.isEmpty) // fixture sanity: 99999 is not an id
  }

  test("rotated index LIFECYCLE: saveIndex persists the rotation and " +
      "serveTopK/updateIndex bring raw vectors into the index basis; " +
      "a flagged index without its record refuses to load") {
    val pts = mixedFixture(spreadScales)
    val df = pts.toDF("vec_id", "embedding")
    val stages = Similarity.givensCascadeFit(df, "embedding",
      Seq(8, 4, 2, 1))
    val rot = Similarity.givensCascadeRotate(df, "vec_id", "embedding",
      stages).localCheckpoint()
    val (cents, assigned) = Similarity.ivfIndex(rot, "embedding",
      "vec_id", 4)
    val cb = Similarity.pqCodebooks(rot, "embedding", "vec_id",
      m = 4, k = 8)
    val enc = Similarity.pqEncode(rot, "embedding", "vec_id", cb, m = 4)
    val ae = assigned.select(col("centroid_id"), col("vec_id"))
      .join(enc, Seq("vec_id"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_rot_ix").toString + "/ix"
    Similarity.saveIndex(dir, cents, cb, ae, m = 4, k = 8,
      rotation = stages)
    // the rotation record round-trips bit-exactly (plain doubles)
    val ix = Similarity.loadIndex(spark, dir)
    assert(ix.rotation.map(_.offset) == stages.map(_.offset))
    assert(ix.rotation.zip(stages).forall { case (a, b) =>
      a.cos.sameElements(b.cos) && a.sin.sameElements(b.sin) })
    def rows(d2: org.apache.spark.sql.DataFrame) =
      d2.select("query_id", "vec_id", "adist", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSet
    // serveTopK with RAW queries ≡ the inline rotated chain, bit-equal
    val inline = rows(Similarity.ivfPqTopK(
      rot.filter(col("vec_id") < 4), cents, cb, ae, "embedding",
      "vec_id", m = 4, k = 8, topK = 5, nProbe = 2))
    val served = rows(Similarity.serveTopK(spark, dir,
      df.filter(col("vec_id") < 4), "embedding", "vec_id",
      topK = 5, nProbe = 2))
    assert(served == inline,
      "the persisted+loaded serve must replay the inline rotated chain")
    // and the PRE-FIX bug (raw queries straight into ivfPqTopK) gives
    // a DIFFERENT answer on this fixture — the guard is not vacuous
    val rawServe = rows(Similarity.ivfPqTopK(
      df.filter(col("vec_id") < 4), ix.centroids, ix.codebooks,
      ix.assignedEncoded, "embedding", "vec_id", m = 4, k = 8,
      topK = 5, nProbe = 2))
    assert(rawServe != inline,
      "fixture must make basis mismatch observable — raw serve " +
        "accidentally equal would make this spec vacuous")
    // updateIndex absorbs a RAW-basis delta: quantizers train on the
    // rotated even slice, the odd slice lands via updateIndex, and the
    // result equals a one-pass encode of the FULL rotated corpus
    // against the same frozen quantizers
    val evenRot = rot.filter(col("vec_id") % 2 === 0)
    val (c2, a2) = Similarity.ivfIndex(evenRot, "embedding", "vec_id", 4)
    val cb2 = Similarity.pqCodebooks(evenRot, "embedding", "vec_id",
      m = 4, k = 8)
    val e2 = Similarity.pqEncode(evenRot, "embedding", "vec_id", cb2,
      m = 4)
    val ae2 = a2.select(col("centroid_id"), col("vec_id"))
      .join(e2, Seq("vec_id"))
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_rot_upd").toString + "/ix"
    Similarity.saveIndex(dir2, c2, cb2, ae2, m = 4, k = 8,
      rotation = stages)
    Similarity.updateIndex(spark, dir2,
        df.filter(col("vec_id") % 2 === 1), "embedding", "vec_id")
      .write.format("noop").mode("overwrite").save()
    val aAll = Similarity.assignToCentroids(rot, "embedding", "vec_id",
      c2)
    val eAll = Similarity.pqEncode(rot, "embedding", "vec_id", cb2,
      m = 4)
    val aeAll = aAll.select(col("centroid_id"), col("vec_id"))
      .join(eAll, Seq("vec_id"))
    val updServed = rows(Similarity.serveTopK(spark, dir2,
      df.filter(col("vec_id") < 4), "embedding", "vec_id",
      topK = 5, nProbe = 2))
    val rebuilt = rows(Similarity.ivfPqTopK(
      rot.filter(col("vec_id") < 4), c2, cb2, aeAll, "embedding",
      "vec_id", m = 4, k = 8, topK = 5, nProbe = 2))
    assert(updServed == rebuilt,
      "raw delta absorbed into the rotated basis must equal the " +
        "one-pass rotated rebuild")
    // maintenance PRESERVES the basis identity: compaction rewrites
    // vectors only (record intact, serve unchanged) and retrain
    // rotates the rebuild corpus and carries the stages into the new
    // era — the audit queries rotate per-index inside hits()
    Similarity.compactIndex(spark, dir2)
      .write.format("noop").mode("overwrite").save()
    assert(Similarity.loadIndex(spark, dir2).rotation.nonEmpty)
    assert(rows(Similarity.serveTopK(spark, dir2,
      df.filter(col("vec_id") < 4), "embedding", "vec_id",
      topK = 5, nProbe = 2)) == updServed,
      "compaction must not change rotated serving results")
    Similarity.retrainIndex(spark, dir2, df, "embedding", "vec_id",
        sampleQueries = 2, recallK = 3, nProbe = 2)
      .write.format("noop").mode("overwrite").save()
    val retrained = Similarity.loadIndex(spark, dir2)
    assert(retrained.rotation.map(_.offset) == stages.map(_.offset) &&
      retrained.rotation.zip(stages).forall { case (a, b) =>
        a.cos.sameElements(b.cos) && a.sin.sameElements(b.sin) },
      "retrain must carry the rotation into the new era")
    // retrain ≡ fresh build on the ROTATED corpus: serve equals the
    // inline full-corpus rotated chain
    val (cR, aR) = Similarity.ivfIndex(rot, "embedding", "vec_id", 4)
    val cbR = Similarity.pqCodebooks(rot, "embedding", "vec_id",
      m = 4, k = 8)
    val eR = Similarity.pqEncode(rot, "embedding", "vec_id", cbR,
      m = 4)
    val aeR = aR.select(col("centroid_id"), col("vec_id"))
      .join(eR, Seq("vec_id"))
    assert(rows(Similarity.serveTopK(spark, dir2,
      df.filter(col("vec_id") < 4), "embedding", "vec_id",
      topK = 5, nProbe = 2)) ==
      rows(Similarity.ivfPqTopK(rot.filter(col("vec_id") < 4), cR,
        cbR, aeR, "embedding", "vec_id", m = 4, k = 8, topK = 5,
        nProbe = 2)),
      "retrained rotated serve ≡ fresh rotated full-corpus build")
    // identity poisoning refused: a rotated-flagged index whose
    // rotation record is gone must fail FAST, not serve raw
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/rotation"), true): Unit
    intercept[IllegalArgumentException](Similarity.loadIndex(spark, dir))
    intercept[IllegalArgumentException](Similarity.serveTopK(spark, dir,
      df.filter(col("vec_id") < 4), "embedding", "vec_id"))
  }

  test("MATRIX-rotated index lifecycle (pcaRotate / OPQ-P): saveIndex " +
      "persists the d×d model, serveTopK/updateIndex bring raw " +
      "vectors into the basis, maintenance carries it, refusal on a " +
      "lost record") {
    val pts = mixedFixture(spreadScales)
    val df = pts.toDF("vec_id", "embedding")
    val model = Similarity.pcaFit(df, "embedding", k = 16, iters = 50)
    val rot = Similarity.pcaRotate(df, "vec_id", "embedding", model)
      .localCheckpoint()
    val (cents, assigned) = Similarity.ivfIndex(rot, "embedding",
      "vec_id", 4)
    val cb = Similarity.pqCodebooks(rot, "embedding", "vec_id",
      m = 4, k = 8)
    val enc = Similarity.pqEncode(rot, "embedding", "vec_id", cb, m = 4)
    val ae = assigned.select(col("centroid_id"), col("vec_id"))
      .join(enc, Seq("vec_id"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mrot_ix").toString + "/ix"
    Similarity.saveIndex(dir, cents, cb, ae, m = 4, k = 8,
      rotationMatrix = Some(model))
    // the model round-trips bit-exactly (plain doubles)
    val ix = Similarity.loadIndex(spark, dir)
    assert(ix.rotation.isEmpty && ix.rotationMatrix.nonEmpty)
    val lm = ix.rotationMatrix.get
    assert(lm.means.sameElements(model.means) &&
      lm.eigenvalues.sameElements(model.eigenvalues) &&
      lm.components.zip(model.components)
        .forall { case (a, b) => a.sameElements(b) })
    def rows(d2: org.apache.spark.sql.DataFrame) =
      d2.select("query_id", "vec_id", "adist", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSet
    val inline = rows(Similarity.ivfPqTopK(
      rot.filter(col("vec_id") < 4), cents, cb, ae, "embedding",
      "vec_id", m = 4, k = 8, topK = 5, nProbe = 2))
    val served = rows(Similarity.serveTopK(spark, dir,
      df.filter(col("vec_id") < 4), "embedding", "vec_id",
      topK = 5, nProbe = 2))
    assert(served == inline,
      "matrix-rotated serve must replay the inline chain")
    val rawServe = rows(Similarity.ivfPqTopK(
      df.filter(col("vec_id") < 4), ix.centroids, ix.codebooks,
      ix.assignedEncoded, "embedding", "vec_id", m = 4, k = 8,
      topK = 5, nProbe = 2))
    assert(rawServe != inline, "fixture must expose the basis mismatch")
    // raw delta absorbs into the matrix basis ≡ one-pass rotated
    // rebuild against the same frozen quantizers (fresh base on < 150,
    // the id contract: delta ids must be NEW)
    val evenRot = rot.filter(col("vec_id") < 150)
    val (c2, a2) = Similarity.ivfIndex(evenRot, "embedding", "vec_id", 4)
    val cb2 = Similarity.pqCodebooks(evenRot, "embedding", "vec_id",
      m = 4, k = 8)
    val e2 = Similarity.pqEncode(evenRot, "embedding", "vec_id", cb2,
      m = 4)
    val ae2 = a2.select(col("centroid_id"), col("vec_id"))
      .join(e2, Seq("vec_id"))
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_mrot_upd").toString + "/ix"
    Similarity.saveIndex(dir2, c2, cb2, ae2, m = 4, k = 8,
      rotationMatrix = Some(model))
    Similarity.updateIndex(spark, dir2,
        df.filter(col("vec_id") >= 150), "embedding", "vec_id")
      .write.format("noop").mode("overwrite").save()
    val aAll = Similarity.assignToCentroids(rot, "embedding",
      "vec_id", c2)
    val eAll = Similarity.pqEncode(rot, "embedding", "vec_id", cb2,
      m = 4)
    val aeAll = aAll.select(col("centroid_id"), col("vec_id"))
      .join(eAll, Seq("vec_id"))
    assert(rows(Similarity.serveTopK(spark, dir2,
      df.filter(col("vec_id") < 4), "embedding", "vec_id",
      topK = 5, nProbe = 2)) ==
      rows(Similarity.ivfPqTopK(rot.filter(col("vec_id") < 4), c2,
        cb2, aeAll, "embedding", "vec_id", m = 4, k = 8, topK = 5,
        nProbe = 2)),
      "raw delta absorbed into the matrix basis ≡ rotated rebuild")
    // retrain carries the matrix record into the new era
    Similarity.retrainIndex(spark, dir2, df, "embedding", "vec_id",
        sampleQueries = 2, recallK = 3, nProbe = 2)
      .write.format("noop").mode("overwrite").save()
    assert(Similarity.loadIndex(spark, dir2).rotationMatrix.nonEmpty)
    // a lost record refuses at load
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/rotation_matrix"),
      true): Unit
    intercept[IllegalArgumentException](Similarity.loadIndex(spark, dir))
    // and both bases at once is refused at save
    intercept[IllegalArgumentException](
      Similarity.saveIndex(dir2 + "_x", cents, cb, ae, m = 4, k = 8,
        rotation = Seq(Similarity.GivensStage(1, Array(1.0),
          Array(0.0))),
        rotationMatrix = Some(model)))
  }

  test("maintainIndex: the drift→retrain loop closes on the MEASURED " +
      "verdict — benign deltas compact only (quantizers frozen), " +
      "novel mass retrains (≡ fresh build), explicit tolerance " +
      "overrides both ways") {
    val df = mixedFixture(spreadScales).toDF("vec_id", "embedding")
    // planted cluster: v/8 + 0.5 (tight positive orthant, build mean
    // assign cosine ≈ 1); the raw fixture vectors are the novel mass
    def clus(d2: org.apache.spark.sql.DataFrame) =
      d2.select(col("vec_id"), transform(col("embedding"), x =>
        (x.cast("double") / lit(8.0) + lit(0.5)).cast("float"))
        .as("embedding"))
    val base = clus(df.filter(col("vec_id") < 100))
    val (cents, assigned) = Similarity.ivfIndex(base, "embedding",
      "vec_id", 4)
    val cb = Similarity.pqCodebooks(base, "embedding", "vec_id",
      m = 4, k = 8)
    val enc = Similarity.pqEncode(base, "embedding", "vec_id", cb,
      m = 4)
    val ae = assigned.select(col("centroid_id"), col("vec_id"))
      .join(enc, Seq("vec_id"))
    val st = assigned.agg(avg(col("assign_cosine")),
      stddev_pop(col("assign_cosine"))).head()
    val root = java.nio.file.Files
      .createTempDirectory("graft_maint_ix").toString
    val baseDir = root + "/base"
    Similarity.saveIndex(baseDir, cents, cb, ae, m = 4, k = 8,
      st.getDouble(0), st.getDouble(1))
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    def copyTo(name: String): String = {
      val dst = s"$root/$name"
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(baseDir), fs,
        new org.apache.hadoop.fs.Path(dst), false, conf)
      dst
    }
    def rows(d2: org.apache.spark.sql.DataFrame) =
      d2.select("query_id", "vec_id", "adist", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSet
    val q = clus(df.filter(col("vec_id") < 4))
    // ---- benign: more of the same cluster — drift ≈ 0 < 2σ
    val benignDelta = clus(df.filter(col("vec_id") >= 100))
    val bDir = copyTo("benign")
    Similarity.updateIndex(spark, bDir, benignDelta, "embedding",
      "vec_id").write.format("noop").mode("overwrite").save()
    val bRep = Similarity.maintainIndex(spark, bDir, clus(df),
      "embedding", "vec_id").head()
    assert(bRep.getString(0) == "compacted",
      s"benign delta must not retrain, got ${bRep.getString(0)} " +
        s"(drift ${bRep.get(1)}, tol ${bRep.getDouble(2)})")
    assert(bRep.isNullAt(bRep.fieldIndex("n_hits_before")),
      "compact-only branch carries no retrain audit")
    // quantizers stayed frozen: serving equals the base-slice-trained
    // one-pass rebuild over the full clustered corpus
    val aAll = Similarity.assignToCentroids(clus(df), "embedding",
      "vec_id", cents)
    val eAll = Similarity.pqEncode(clus(df), "embedding", "vec_id",
      cb, m = 4)
    val aeAll = aAll.select(col("centroid_id"), col("vec_id"))
      .join(eAll, Seq("vec_id"))
    assert(rows(Similarity.serveTopK(spark, bDir, q, "embedding",
      "vec_id", topK = 5, nProbe = 2)) ==
      rows(Similarity.ivfPqTopK(q, cents, cb, aeAll, "embedding",
        "vec_id", m = 4, k = 8, topK = 5, nProbe = 2)),
      "benign branch must serve the frozen quantizers")
    // ---- drift: raw zero-mean vectors — novel mass, drift >> 2σ
    val driftDelta = df.filter(col("vec_id") >= 100)
    val mixed = clus(df.filter(col("vec_id") < 100))
      .unionByName(driftDelta)
    val dDir = copyTo("drift")
    Similarity.updateIndex(spark, dDir, driftDelta, "embedding",
      "vec_id").write.format("noop").mode("overwrite").save()
    val dRep = Similarity.maintainIndex(spark, dDir, mixed,
      "embedding", "vec_id", sampleQueries = 2, recallK = 3,
      nProbe = 2).head()
    assert(dRep.getString(0) == "retrained",
      s"novel mass must retrain, got ${dRep.getString(0)} " +
        s"(drift ${dRep.get(1)}, tol ${dRep.getDouble(2)})")
    assert(!dRep.isNullAt(dRep.fieldIndex("n_hits_after")),
      "the retrain branch carries the recall audit")
    // retrain ≡ fresh build on the mixed corpus
    val (c2, a2) = Similarity.ivfIndex(mixed, "embedding", "vec_id", 4)
    val cb2 = Similarity.pqCodebooks(mixed, "embedding", "vec_id",
      m = 4, k = 8)
    val e2 = Similarity.pqEncode(mixed, "embedding", "vec_id", cb2,
      m = 4)
    val ae2 = a2.select(col("centroid_id"), col("vec_id"))
      .join(e2, Seq("vec_id"))
    assert(rows(Similarity.serveTopK(spark, dDir, q, "embedding",
      "vec_id", topK = 5, nProbe = 2)) ==
      rows(Similarity.ivfPqTopK(q, c2, cb2, ae2, "embedding",
        "vec_id", m = 4, k = 8, topK = 5, nProbe = 2)),
      "the retrained index must equal a fresh build on the live corpus")
    // ---- explicit tolerance overrides the calibrated default
    val dDir2 = copyTo("drift_hi_tol")
    Similarity.updateIndex(spark, dDir2, driftDelta, "embedding",
      "vec_id").write.format("noop").mode("overwrite").save()
    assert(Similarity.maintainIndex(spark, dDir2, mixed, "embedding",
      "vec_id", driftTolerance = 1e9).head().getString(0)
      == "compacted", "a huge tolerance must suppress the retrain")
    val bDir2 = copyTo("benign_neg_tol")
    Similarity.updateIndex(spark, bDir2, benignDelta, "embedding",
      "vec_id").write.format("noop").mode("overwrite").save()
    assert(Similarity.maintainIndex(spark, bDir2, clus(df),
      "embedding", "vec_id", driftTolerance = -1e9,
      sampleQueries = 2, recallK = 3, nProbe = 2).head().getString(0)
      == "retrained", "a negative tolerance must force the retrain")
  }

  test("composeGivensMatrix: the explicit P is orthogonal, agrees " +
      "with stage-by-stage cascade application up to association " +
      "ulps, and guards refuse empty/mismatched stages") {
    val df = mixedFixture(spreadScales).toDF("vec_id", "embedding")
    val stages = Similarity.givensCascadeFit(df, "embedding",
      Seq(8, 4, 2, 1))
    val d = 16
    val m = Similarity.composeGivensMatrix(stages, d)
    // orthogonality: M·Mᵀ = I (each G is orthogonal, products stay so)
    for (i <- 0 until d; j <- 0 until d) {
      val dot = (0 until d).map(k => m(i)(k) * m(j)(k)).sum
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-12,
        s"M·Mᵀ[$i][$j] = $dot, expected $expect")
    }
    // agreement: applying the composed matrix (pcaRotate, zero means)
    // matches the stage-by-stage cascade to association-ulp tolerance
    // — same rotation, different float-level basis (the one-basis rule)
    val model = Similarity.PcaModel(new Array[Double](d), m,
      new Array[Double](d))
    def vecs(f: org.apache.spark.sql.DataFrame)
        : Map[Long, Seq[Float]] =
      f.collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).toSeq).toMap
    val viaMatrix = vecs(
      Similarity.pcaRotate(df, "vec_id", "embedding", model))
    val viaStages = vecs(
      Similarity.givensCascadeRotate(df, "vec_id", "embedding", stages))
    assert(viaMatrix.keySet == viaStages.keySet)
    viaMatrix.foreach { case (id, vm) =>
      vm.zip(viaStages(id)).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-4,
          s"composed vs cascade rotation diverged at id=$id: $a vs $b")
      }
    }
    intercept[IllegalArgumentException](
      Similarity.composeGivensMatrix(Nil, d))
    intercept[IllegalArgumentException](
      Similarity.composeGivensMatrix(stages, d + 1))
  }

  test("RESIDUAL index lifecycle: the pq_residual codec identity " +
      "persists, serveTopK dispatches to the cell-dependent ADC, " +
      "deltas encode residually, retrain keeps the encoding") {
    val pts = mixedFixture(spreadScales)
    val df = pts.toDF("vec_id", "embedding")
    val base = df.filter(col("vec_id") < 150)
    val (cents, assigned) = Similarity.ivfIndex(base, "embedding",
      "vec_id", 4)
    val cb = Similarity.pqCodebooksResidual(base, "embedding",
      "vec_id", assigned, cents, m = 4, k = 8)
    val enc = Similarity.pqEncodeResidual(base, "embedding", "vec_id",
      assigned, cents, cb, m = 4)
    val ae = assigned.select(col("centroid_id"), col("vec_id"))
      .join(enc, Seq("vec_id"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_resid_ix").toString + "/ix"
    Similarity.saveIndex(dir, cents, cb, ae, m = 4, k = 8,
      residual = true)
    val ix = Similarity.loadIndex(spark, dir)
    assert(ix.residual, "the codec identity round-trips")
    def rows(d2: org.apache.spark.sql.DataFrame) =
      d2.select("query_id", "vec_id", "adist", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSet
    val q = df.filter(col("vec_id") < 4)
    val inline = rows(Similarity.ivfPqResidualTopK(q, cents, cb, ae,
      "embedding", "vec_id", m = 4, k = 8, topK = 5, nProbe = 2))
    assert(rows(Similarity.serveTopK(spark, dir, q, "embedding",
      "vec_id", topK = 5, nProbe = 2)) == inline,
      "persisted residual serve must replay the inline residual chain")
    // the PRE-fix bug: the same codes through the FIXED-table ADC is
    // a different (wrong) answer on this fixture
    val wrongDecoder = rows(Similarity.ivfPqTopK(q, ix.centroids,
      ix.codebooks, ix.assignedEncoded, "embedding", "vec_id",
      m = 4, k = 8, topK = 5, nProbe = 2))
    assert(wrongDecoder != inline,
      "fixture must make the codec mismatch observable")
    // deltas encode RESIDUALLY against the frozen quantizers:
    // absorbed index ≡ one-pass residual encode of the full corpus
    Similarity.updateIndex(spark, dir,
        df.filter(col("vec_id") >= 150), "embedding", "vec_id")
      .write.format("noop").mode("overwrite").save()
    val aAll = Similarity.assignToCentroids(df, "embedding", "vec_id",
      cents)
    val eAll = Similarity.pqEncodeResidual(df, "embedding", "vec_id",
      aAll.select(col("vec_id"), col("centroid_id")), cents, cb,
      m = 4)
    val aeAll = aAll.select(col("centroid_id"), col("vec_id"))
      .join(eAll, Seq("vec_id"))
    assert(rows(Similarity.serveTopK(spark, dir, q, "embedding",
      "vec_id", topK = 5, nProbe = 2)) ==
      rows(Similarity.ivfPqResidualTopK(q, cents, cb, aeAll,
        "embedding", "vec_id", m = 4, k = 8, topK = 5, nProbe = 2)),
      "residual delta absorb ≡ one-pass residual rebuild")
    // retrain keeps the encoding and serves through the residual ADC
    Similarity.retrainIndex(spark, dir, df, "embedding", "vec_id",
        sampleQueries = 2, recallK = 3, nProbe = 2)
      .write.format("noop").mode("overwrite").save()
    val ix2 = Similarity.loadIndex(spark, dir)
    assert(ix2.residual, "retrain must carry the codec identity")
    val (cR, aR) = Similarity.ivfIndex(df, "embedding", "vec_id", 4)
    val cbR = Similarity.pqCodebooksResidual(df, "embedding",
      "vec_id", aR, cR, m = 4, k = 8)
    val eR = Similarity.pqEncodeResidual(df, "embedding", "vec_id",
      aR, cR, cbR, m = 4)
    val aeR = aR.select(col("centroid_id"), col("vec_id"))
      .join(eR, Seq("vec_id"))
    assert(rows(Similarity.serveTopK(spark, dir, q, "embedding",
      "vec_id", topK = 5, nProbe = 2)) ==
      rows(Similarity.ivfPqResidualTopK(q, cR, cbR, aeR, "embedding",
        "vec_id", m = 4, k = 8, topK = 5, nProbe = 2)),
      "retrained residual index ≡ fresh residual full-corpus build")
  }

  test("rotation and residual COMPOSE (the FAISS OPQ index proper): " +
      "a rotated residual-encoded store serves raw queries through " +
      "both identities — rotate first, then the cell-dependent ADC") {
    val pts = mixedFixture(spreadScales)
    val df = pts.toDF("vec_id", "embedding")
    val stages = Similarity.givensCascadeFit(df, "embedding",
      Seq(8, 4, 2, 1))
    val rot = Similarity.givensCascadeRotate(df, "vec_id", "embedding",
      stages).localCheckpoint()
    val (cents, assigned) = Similarity.ivfIndex(rot, "embedding",
      "vec_id", 4)
    val cb = Similarity.pqCodebooksResidual(rot, "embedding",
      "vec_id", assigned, cents, m = 4, k = 8)
    val enc = Similarity.pqEncodeResidual(rot, "embedding", "vec_id",
      assigned, cents, cb, m = 4)
    val ae = assigned.select(col("centroid_id"), col("vec_id"))
      .join(enc, Seq("vec_id"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_opq_ix").toString + "/ix"
    Similarity.saveIndex(dir, cents, cb, ae, m = 4, k = 8,
      rotation = stages, residual = true)
    val ix = Similarity.loadIndex(spark, dir)
    assert(ix.rotation.nonEmpty && ix.residual)
    def rows(d2: org.apache.spark.sql.DataFrame) =
      d2.select("query_id", "vec_id", "adist", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSet
    val inline = rows(Similarity.ivfPqResidualTopK(
      rot.filter(col("vec_id") < 4), cents, cb, ae, "embedding",
      "vec_id", m = 4, k = 8, topK = 5, nProbe = 2))
    assert(rows(Similarity.serveTopK(spark, dir,
      df.filter(col("vec_id") < 4), "embedding", "vec_id",
      topK = 5, nProbe = 2)) == inline,
      "raw queries must serve through rotation THEN residual ADC")
    // updateIndex composes too: a raw delta rotates, then encodes
    // residually against the frozen quantizers
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_opq_upd").toString + "/ix"
    val baseRot = rot.filter(col("vec_id") < 150)
    val (c2, a2) = Similarity.ivfIndex(baseRot, "embedding", "vec_id", 4)
    val cb2 = Similarity.pqCodebooksResidual(baseRot, "embedding",
      "vec_id", a2, c2, m = 4, k = 8)
    val e2 = Similarity.pqEncodeResidual(baseRot, "embedding",
      "vec_id", a2, c2, cb2, m = 4)
    Similarity.saveIndex(dir2, c2, cb2,
      a2.select(col("centroid_id"), col("vec_id"))
        .join(e2, Seq("vec_id")), m = 4, k = 8,
      rotation = stages, residual = true)
    Similarity.updateIndex(spark, dir2,
        df.filter(col("vec_id") >= 150), "embedding", "vec_id")
      .write.format("noop").mode("overwrite").save()
    val aAll = Similarity.assignToCentroids(rot, "embedding",
      "vec_id", c2)
    val eAll = Similarity.pqEncodeResidual(rot, "embedding", "vec_id",
      aAll.select(col("vec_id"), col("centroid_id")), c2, cb2, m = 4)
    assert(rows(Similarity.serveTopK(spark, dir2,
      df.filter(col("vec_id") < 4), "embedding", "vec_id",
      topK = 5, nProbe = 2)) ==
      rows(Similarity.ivfPqResidualTopK(rot.filter(col("vec_id") < 4),
        c2, cb2, aAll.select(col("centroid_id"), col("vec_id"))
          .join(eAll, Seq("vec_id")), "embedding", "vec_id",
        m = 4, k = 8, topK = 5, nProbe = 2)),
      "composed raw-delta absorb ≡ one-pass rotated residual rebuild")
  }

  test("rotations wired through the FULL ivfPqTopK serving path: the " +
      "rotated index serves better recall than the raw one at the " +
      "same quantizer budget (the OPQ serving composition)") {
    val queries = (0L until 16L).toSeq
    def recall(truth: Map[Long, Set[Long]],
        topk: Map[Long, Set[Long]]): Int =
      queries.map(q => (truth(q) & topk.getOrElse(q, Set())).size).sum
    def serve(data: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] = {
      val (cents, assigned) = Similarity.ivfIndex(data, "embedding",
        "vec_id", k = 8)
      val cb = Similarity.pqCodebooks(data, "embedding", "vec_id",
        m = 4, k = 8)
      val enc = Similarity.pqEncode(data, "embedding", "vec_id", cb,
        m = 4)
      val ae = assigned.select(col("centroid_id"), col("vec_id"))
        .join(enc, Seq("vec_id"))
      Similarity.ivfPqTopK(data.filter(col("vec_id") < 16), cents, cb,
          ae, "embedding", "vec_id", m = 4, k = 8, topK = 6, nProbe = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1)
        .map { case (q, rs) =>
          q -> rs.map(_._2).filter(_ != q).take(5).toSet }
    }
    // pcaRotate on the concentrated fixture (variance ordering is
    // PCA's own strength)
    val pcaPts = mixedFixture(concScales)
    val pcaDf = pcaPts.toDF("vec_id", "embedding")
    val pcaTruth = l2Truth(pcaPts, queries)
    val pcaRaw = recall(pcaTruth, serve(pcaDf))
    val model = Similarity.pcaFit(pcaDf, "embedding", k = 16)
    val pcaHits = recall(pcaTruth, serve(
      Similarity.pcaRotate(pcaDf, "vec_id", "embedding", model)))
    // the cascade on the spread fixture (a pure rotation fixes it
    // outright — no component reordering to lean on)
    val casPts = mixedFixture(spreadScales)
    val casDf = casPts.toDF("vec_id", "embedding")
    val casTruth = l2Truth(casPts, queries)
    val casRaw = recall(casTruth, serve(casDf))
    val stages = Similarity.givensCascadeFit(casDf, "embedding",
      Seq(8, 4, 2, 1))
    val casHits = recall(casTruth, serve(
      Similarity.givensCascadeRotate(casDf, "vec_id", "embedding",
        stages)))
    info(s"served recall@5: pca $pcaHits vs raw $pcaRaw; " +
      s"cascade $casHits vs raw $casRaw (of 80)")
    assert(pcaHits > pcaRaw,
      s"pcaRotate-served IVF-PQ must beat raw: $pcaHits vs $pcaRaw")
    assert(casHits > casRaw,
      s"cascade-served IVF-PQ must beat raw: $casHits vs $casRaw")
  }

  // ───────────────────── index versions (retrains) ─────────────────────

  test("index versions: a saveIndex store is version 0; retrainIndex " +
      "commits v1 WITHOUT touching it — a lazy pre-retrain reader keeps " +
      "serving version 0 bit-for-bit; within-version maintenance routes " +
      "to the latest version; a crashed retrain's claim is invisible " +
      "and refuses until recovered; vacuum drops the root frames") {
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
    val base = e.filter(col("vec_id") < 300)
    val q = e.filter(col("vec_id") < 4)
    val (cents, assigned) =
      Similarity.ivfIndex(base, "embedding", "vec_id", 8)
    val cb = Similarity.pqCodebooks(base, "embedding", "vec_id",
      m = 8, k = 8)
    val enc = Similarity.pqEncode(base, "embedding", "vec_id", cb,
      m = 8)
    val ae = assigned.select(col("centroid_id"), col("vec_id"))
      .join(enc, Seq("vec_id"))
    val meanCos = assigned.agg(avg(col("assign_cosine")))
      .head().getDouble(0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ann_era").toString + "/ix"
    Similarity.saveIndex(dir, cents, cb, ae, m = 8, k = 8, meanCos)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id", "adist", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSet
    def serve() = rows(Similarity.serveTopK(spark, dir, q,
      "embedding", "vec_id", topK = 5, nProbe = 8))
    val before = serve()
    assert(FrameVersions.current(spark, dir) == 0L)
    // pin version 0 LAZILY — no localCheckpoint; the claim under test
    val pinned = Similarity.loadIndex(spark, dir)
    def pinnedRows() = rows(Similarity.ivfPqTopK(q, pinned.centroids,
      pinned.codebooks, pinned.assignedEncoded, "embedding", "vec_id",
      m = 8, k = 8, topK = 5, nProbe = 8))
    assert(pinnedRows() == before)
    // a crashed retrain left its claim and a partial v1 — invisible to
    // everything, and the slot refuses until recovered
    assert(new java.io.File(s"$dir/_v1/centroids").mkdirs() &&
      new java.io.File(s"$dir/_v1/_claim").createNewFile())
    assert(FrameVersions.current(spark, dir) == 0L && serve() == before)
    val refuse = intercept[IllegalArgumentException](
      Similarity.retrainIndex(spark, dir, e, "embedding", "vec_id"))
    assert(refuse.getMessage.contains("another writer is publishing"))
    FrameVersions.recover(spark, dir)
    // retrain on the grown corpus: v1 commits, the root is untouched
    val rep = Similarity.retrainIndex(spark, dir, e,
      "embedding", "vec_id").head()
    assert(rep.getAs[Long]("n_corpus") == e.count())
    assert(FrameVersions.current(spark, dir) == 1L)
    assert(pinnedRows() == before,
      "the pre-retrain lazy reader still serves version 0 bit-for-bit")
    // a root save under a committed version would never be served
    intercept[IllegalArgumentException](
      Similarity.saveIndex(dir, cents, cb, ae, m = 8, k = 8, meanCos))
    val served2 = serve()
    assert(served2.nonEmpty && served2.map(_._1).size >= 1)
    // within-version maintenance routes to the LATEST version: an
    // update's append lands under _v1 and serving reflects it
    val extra = e.filter(col("vec_id") < 2)
      .select((col("vec_id") + 100000L).as("vec_id"),
        col("embedding"))
    Similarity.updateIndex(spark, dir, extra, "embedding", "vec_id")
      .write.format("noop").mode("overwrite").save()
    assert(new java.io.File(s"$dir/_v1/drift_log").exists)
    assert(serve().exists(_._2 >= 100000L),
      "the duplicate-vector ids surface in their own queries' top-5")
    assert(pinnedRows() == before, "version 0 still untouched by updates")
    // vacuum: the version-0 root frames drop, current serving unaffected
    assert(FrameVersions.vacuum(spark, dir, keepLast = 1) == 0L)
    assert(!new java.io.File(s"$dir/vectors").exists &&
      !new java.io.File(s"$dir/meta").exists)
    assert(serve().nonEmpty)
    intercept[IllegalArgumentException](
      FrameVersions.vacuum(spark, dir, 0))
  }

  test("index versions: an index in the retired eras/ layout is " +
      "refused, naming the layout change") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ann_eras_old").toString + "/ix"
    assert(new java.io.File(s"$dir/eras/e1").mkdirs() &&
      new java.io.File(s"$dir/eras/_committed_1").createNewFile())
    val e = intercept[IllegalArgumentException](
      Similarity.loadIndex(spark, dir))
    assert(e.getMessage.contains("retired eras/ layout"))
    intercept[IllegalArgumentException](Similarity.retrainIndex(spark,
      dir, Seq(1L).toDF("vec_id"), "embedding", "vec_id"))
  }

  test("maintainIndex on a versioned index: the drift branch commits " +
      "a NEW version (the pre-maintenance lazy pin keeps serving its " +
      "version), the benign branch compacts WITHIN the latest version " +
      "(no version bump)") {
    val df = mixedFixture(spreadScales).toDF("vec_id", "embedding")
    def clus(d2: org.apache.spark.sql.DataFrame) =
      d2.select(col("vec_id"), transform(col("embedding"), x =>
        (x.cast("double") / lit(8.0) + lit(0.5)).cast("float"))
        .as("embedding"))
    val base = clus(df.filter(col("vec_id") < 100))
    val (cents, assigned) = Similarity.ivfIndex(base, "embedding",
      "vec_id", 4)
    val cb = Similarity.pqCodebooks(base, "embedding", "vec_id",
      m = 4, k = 8)
    val enc = Similarity.pqEncode(base, "embedding", "vec_id", cb,
      m = 4)
    val ae = assigned.select(col("centroid_id"), col("vec_id"))
      .join(enc, Seq("vec_id"))
    val st = assigned.agg(avg(col("assign_cosine")),
      stddev_pop(col("assign_cosine"))).head()
    val dir = java.nio.file.Files
      .createTempDirectory("graft_maint_era").toString + "/ix"
    Similarity.saveIndex(dir, cents, cb, ae, m = 4, k = 8,
      st.getDouble(0), st.getDouble(1))
    def rows(d2: org.apache.spark.sql.DataFrame) =
      d2.select("query_id", "vec_id", "adist", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSet
    val q = clus(df.filter(col("vec_id") < 4))
    // benign: drift ≈ 0 — compaction runs IN the version, no bump
    val benign = clus(df.filter(col("vec_id") >= 100))
    Similarity.updateIndex(spark, dir, benign, "embedding", "vec_id")
      .write.format("noop").mode("overwrite").save()
    val bRep = Similarity.maintainIndex(spark, dir, clus(df),
      "embedding", "vec_id").head()
    assert(bRep.getString(0) == "compacted" &&
      FrameVersions.current(spark, dir) == 0L,
      "the benign branch must not publish a version")
    // pin version 0 lazily, then FORCE the retrain branch
    val pinned = Similarity.loadIndex(spark, dir)
    val pinnedBefore = rows(Similarity.ivfPqTopK(q, pinned.centroids,
      pinned.codebooks, pinned.assignedEncoded, "embedding",
      "vec_id", m = 4, k = 8, topK = 5, nProbe = 2))
    val dRep = Similarity.maintainIndex(spark, dir, clus(df),
      "embedding", "vec_id", driftTolerance = -1e9,
      sampleQueries = 2, recallK = 3, nProbe = 2).head()
    assert(dRep.getString(0) == "retrained" &&
      !dRep.isNullAt(dRep.fieldIndex("n_hits_after")))
    assert(FrameVersions.current(spark, dir) == 1L,
      "the retrain commits v1")
    assert(rows(Similarity.ivfPqTopK(q, pinned.centroids,
      pinned.codebooks, pinned.assignedEncoded, "embedding",
      "vec_id", m = 4, k = 8, topK = 5, nProbe = 2)) == pinnedBefore,
      "the pre-maintenance pin keeps serving version 0")
    // and the new era serves ≡ a fresh build on the live corpus
    val live = clus(df)
    val (c2, a2) = Similarity.ivfIndex(live, "embedding", "vec_id", 4)
    val cb2 = Similarity.pqCodebooks(live, "embedding", "vec_id",
      m = 4, k = 8)
    val e2 = Similarity.pqEncode(live, "embedding", "vec_id", cb2,
      m = 4)
    val ae2 = a2.select(col("centroid_id"), col("vec_id"))
      .join(e2, Seq("vec_id"))
    assert(rows(Similarity.serveTopK(spark, dir, q, "embedding",
      "vec_id", topK = 5, nProbe = 2)) ==
      rows(Similarity.ivfPqTopK(q, c2, cb2, ae2, "embedding",
        "vec_id", m = 4, k = 8, topK = 5, nProbe = 2)),
      "v1 ≡ the fresh build on the live corpus")
  }
}
