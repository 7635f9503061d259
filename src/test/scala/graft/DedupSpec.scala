package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** X1/X2 dedup family: exact, MinHash+LSH, SimHash, n-gram Jaccard. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat near the river bank"), // near dup of 0
    (3L, "completely different words about spark query engines and plans"),
    (4L, "another unrelated sentence mentioning databases and storage")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps lowest id") {
    val out = Dedup.exact(docs, "text", "doc_id").orderBy("keeper_id").collect()
    assert(out.length == 4)
    assert(out(0).getAs[Long]("keeper_id") == 0L)
    assert(out(0).getAs[Long]("n_dups") == 2L)
  }

  test("jaccard: identical=1, disjoint=0, symmetric") {
    val j = docs.select(
      Dedup.jaccard(lit("a b c"), lit("a b c"), 1).as("same"),
      Dedup.jaccard(lit("a b"), lit("x y"), 1).as("disj"),
      Dedup.jaccard(lit("a b c"), lit("b c d"), 1).as("half1"),
      Dedup.jaccard(lit("b c d"), lit("a b c"), 1).as("half2")).head()
    assert(j.getDouble(0) == 1.0)
    assert(j.getDouble(1) == 0.0)
    assert(j.getDouble(2) == j.getDouble(3))
    assert(j.getDouble(2) == 0.5) // |{b,c}| / |{a,b,c,d}|
  }

  test("minhash finds exact and near dups, skips unrelated") {
    val pairs = Dedup.minhashNearDups(docs, "text", "doc_id", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L))) // exact dup always collides
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L))) // near dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated
  }

  test("minhash signatures: identical text -> identical signature") {
    val sigs = Dedup.minhashSignatures(docs, "text", "doc_id", 16, 3)
      .orderBy("doc_id").collect()
    val s0 = sigs(0).toSeq.drop(1)
    val s1 = sigs(1).toSeq.drop(1)
    assert(s0 == s1)
  }

  test("portable minhash: same contract as the kernel path (exact dup " +
      "collides, unrelated doesn't), partition-invariant") {
    val pairs = Dedup.minhashNearDupsPortable(docs, "text", "doc_id",
        threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    val repart = Dedup.minhashNearDupsPortable(docs.repartition(7),
        "text", "doc_id", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(repart == pairs)
  }

  test("portable minhash signatures: JVM-recomputable, and the affine " +
      "permutations are non-monotone (minima land on different shingles)") {
    import graft.functions.PortableHash
    val P = Dedup.PortableP
    val coeffs = Dedup.portableCoeffs(16, 42L)
    // every a_i in [1, P-1], b_i in [0, P-1], all distinct
    coeffs.foreach { case (a, b) =>
      assert(a >= 1 && a < P && b >= 0 && b < P)
    }
    assert(coeffs.distinct.size == coeffs.size)
    val sigs = Dedup.minhashSignaturesPortable(docs, "text", "doc_id", 16, 3)
      .orderBy("doc_id").collect()
    // recompute doc 0's signature off-Spark from the raw text
    val text0 = docs.orderBy("doc_id").select("text").as[String].head()
    val toks = text0.trim.split("\\s+")
    val shingleHashes = (0 to toks.length - 3)
      .map(i => toks.slice(i, i + 3).mkString(" "))
      .map(sh => PortableHash.hash48(sh, 42L) % P)
    val want = coeffs.map { case (a, b) =>
      shingleHashes.map(h => (h * a + b) % P).min
    }
    val got = sigs(0).toSeq.drop(1).map(_.asInstanceOf[Long])
    assert(got == want)
    // non-monotone: the winning shingle must differ across hash functions
    // (a monotone family would pick the same argmin 16 times — the bug
    // that turns MinHash into single-shingle equality)
    val argmins = coeffs.map { case (a, b) =>
      shingleHashes.zipWithIndex.minBy { case (h, _) => (h * a + b) % P }._2
    }
    assert(argmins.distinct.size > 1)
  }

  test("simhash: identical -> hamming 0; near dup closer than unrelated") {
    val fps = Dedup.simhash64(docs, "text", "doc_id")
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val m = fps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ham(m(0L), m(1L)) == 0)
    assert(ham(m(0L), m(2L)) < ham(m(0L), m(3L)))
  }

  test("minhashSignatures kernel ≡ explode + min-aggregation formulation") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "one two"), // exactly shingleSize tokens → 1 shingle
      (4L, "short"), // fewer than shingleSize → no row
      (5L, "a  b\tc\nd e f g h")) // messy whitespace
      .toDF("doc_id", "text")
    val k = 16
    val kernel = Dedup.minhashSignatures(docs, "text", "doc_id", k, 2)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    // the original aggregation formulation, reconstructed inline
    val exploded = docs.select(col("doc_id"),
      explode(Dedup.shingles(col("text"), 2)).as("_shingle"))
    val aggs = (0 until k).map(i =>
      min(xxhash64(lit(i), col("_shingle"))).as(s"mh_$i"))
    val agg = exploded.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(kernel == agg)
    assert(!kernel.contains(4L)) // too-short doc excluded on both paths
    // narrow plan: no Exchange anywhere in the signature stage
    val plan = Dedup.minhashSignatures(docs, "text", "doc_id", k, 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("minhashSignatures: filter and kernel agree on hostile tokenization") {
    // BEL () is a token to both the profile counter and the kernel
    // (regex \s delimiters only — NOT String.trim's <= U+0020 sweep), so
    // the pre-filter exactly predicts signature presence: no empty arrays,
    // no ANSI element_at crash
    val docs = Seq(
      (1L, "hello world "), // 3 tokens incl. the control char
      (2L, ""), // 1 control-char token
      (3L, "a b"), // 2 plain tokens
      (4L, null.asInstanceOf[String]), // dropped
      (5L, "   ")) // 0 tokens -> dropped
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, "text", "doc_id",
      numHashes = 4, shingleSize = 1)
    assert(sigs.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
    assert(sigs.columns.count(_.startsWith("mh_")) == 4)
    sigs.collect().foreach(r => (1 to 4).foreach(i => assert(!r.isNullAt(i))))
    // shingleSize above every doc's token count -> empty output, no crash
    assert(Dedup.minhashSignatures(docs, "text", "doc_id", 4, 9).isEmpty)
  }

  test("simhash64 kernel ≡ explode + 64-column aggregation formulation") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "single"),
      (4L, "a  b\tc\nd"), // runs of mixed whitespace collapse
      (5L, "repeated repeated repeated words words"))
      .toDF("doc_id", "text")
    val kernel = Dedup.simhash64(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the original aggregation formulation, reconstructed inline
    val toks = docs.select(col("doc_id"),
      explode(split(trim(col("text")), "\\s+")).as("_tok"))
      .withColumn("_h", xxhash64(col("_tok")))
    val bitSums = (0 until 64).map { b =>
      sum(when(col("_h").bitwiseAND(lit(1L << b)) =!= 0, 1).otherwise(-1))
        .as(s"_s$b")
    }
    val fp = (0 until 64).map { b =>
      when(col(s"_s$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce[org.apache.spark.sql.Column](_ bitwiseOR _)
    val agg = toks.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kernel == agg)
    // and the kernel plan is narrow: no Exchange for the fingerprints
    val plan = Dedup.simhash64(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("simhashNearDups band blocking finds the dup pair") {
    val fps = Dedup.simhash64(docs, "text", "doc_id")
    val pairs = Dedup.simhashNearDups(fps, "doc_id", maxHamming = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("simhashNearDups blocking is lossless at the requested radius " +
      "(adversarial: flipped bits spread across all four quadrants)") {
    // 5 bits flipped, one per 16-bit quadrant plus one more: the old fixed
    // 4-quadrant blocking had NO matching quadrant and silently dropped the
    // pair; (h+1)-band blocking must find it for every h >= 5.
    val base = 0x0f0f0f0f0f0f0f0fL
    val flipped = base ^ (1L << 0) ^ (1L << 17) ^ (1L << 33) ^
      (1L << 49) ^ (1L << 63)
    assert(java.lang.Long.bitCount(base ^ flipped) == 5)
    val fps = Seq((0L, base), (1L, flipped), (2L, ~base))
      .toDF("doc_id", "simhash")
    for (h <- 5 to 8) {
      val pairs = Dedup.simhashNearDups(fps, "doc_id", maxHamming = h)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(pairs == Set((0L, 1L)), s"maxHamming=$h missed the pair")
    }
    // radius below the true distance: correctly empty
    assert(Dedup.simhashNearDups(fps, "doc_id", maxHamming = 4).count() == 0)
  }

  test("containment: embedded doc scores 1.0 into its host where " +
      "Jaccard dilutes; short docs score 0, not null") {
    val host = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val embedded = "gamma delta epsilon zeta"   // a contiguous slice
    val corpus = Seq((1L, embedded), (2L, host), (3L, "xy"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 2L)).toDF("id_a", "id_b")
    val out = Dedup.ngramContainmentPairs(pairs, corpus, "text", "doc_id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val (nInter, cAinB, cBinA) = out((1L, 2L))
    assert(cAinB == 1.0)            // every embedded trigram is in the host
    assert(nInter == 2L)            // 4 tokens → 2 trigrams
    assert(cBinA == 2.0 / 8)        // host has 8 trigrams
    // Jaccard on the same pair is far below 1 — the signal containment adds
    val j = Dedup.ngramJaccardPairs(pairs.limit(1), corpus, "text",
      "doc_id", 3).head().getDouble(2)
    assert(j == 2.0 / 8)
    // doc 3 has no trigram: both ratios 0.0, no nulls
    assert(out((3L, 2L)) == ((0L, 0.0, 0.0)))
  }

  test("simhash48Portable: 48-bit range, dup/near-dup ordering, empty " +
      "text -> 0, banded pairs (bits=48) ≡ brute-force Hamming") {
    val docs2 = docs.unionByName(Seq((5L, "   ")).toDF("doc_id", "text"))
    val fps = Dedup.simhash48Portable(docs2, "text", "doc_id")
      .orderBy("doc_id").collect()
    val byId = fps.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId.values.forall(f => f >= 0L && f < (1L << 48)))
    assert(byId(0L) == byId(1L)) // identical text, identical fingerprint
    assert(byId(5L) == 0L)       // whitespace-only doc
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(byId(0L), byId(2L)) < ham(byId(0L), byId(3L)))
    // banding over the true 48 bits finds exactly the brute-force pairs
    val fpDf = Dedup.simhash48Portable(docs2, "text", "doc_id")
    for (h <- Seq(4, 12)) {
      val banded = Dedup.simhashNearDups(fpDf, "doc_id", maxHamming = h,
          materialize = false, bits = 48)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val brute = (for {
        a <- byId.keys; b <- byId.keys if a < b
        if ham(byId(a), byId(b)) <= h
      } yield (a, b)).toSet
      assert(banded == brute, s"maxHamming=$h")
    }
  }

  test("simhash48Portable column hash agrees with the JVM hash48 twin") {
    // the oracle rebuilds fingerprints from md5 — the column/JVM twin
    // equality is the property the whole portable mode stands on
    val toks = Seq("alpha", "beta", "ümlaut").toDF("tk")
    val fromCol = toks.select(
      graft.functions.PortableHash.hash48(col("tk"), 42L)).as[Long]
      .collect().toSeq
    val fromJvm = Seq("alpha", "beta", "ümlaut")
      .map(graft.functions.PortableHash.hash48(_, 42L))
    assert(fromCol == fromJvm)
  }

  test("minhashCandidates caps degenerate buckets; overflow is reported") {
    // 10k identical docs: every band-bucket holds all 10k ids. Uncapped,
    // that's one 50M-pair explode in a single task; capped, candidates are
    // empty and the overflow report names the dropped buckets.
    val many = spark.range(10000).select(col("id").as("doc_id"),
      lit("same exact boilerplate text repeated in every document here").as("text"))
    val sigs = Dedup.minhashSignatures(many, "text", "doc_id", 16, 3)
    val cands = Dedup.minhashCandidates(sigs, "doc_id", bands = 4,
      maxBucketSize = 100)
    assert(cands.count() == 0)
    val overflow = Dedup.minhashBucketOverflow(sigs, "doc_id", bands = 4,
      maxBucketSize = 100).collect()
    assert(overflow.length == 4) // one oversized bucket per band
    assert(overflow.forall(_.getAs[Long]("n_ids") == 10000L))
    // identical docs are exactly what X1 exact dedup catches instead
    assert(Dedup.exact(many, "text", "doc_id").count() == 1)
  }

  test("dedupCorpus end-to-end: exact + near collapse to one keeper each") {
    val report = Dedup.dedupCorpus(docs, "text", "doc_id", threshold = 0.5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // 1 is a verbatim copy of 0; 2 is a near-dup of 0 → all map to keeper 0
    assert(report.toSeq == Seq(
      (0L, 0L, "kept"),
      (1L, 0L, "exact"),
      (2L, 0L, "near"),
      (3L, 3L, "kept"),
      (4L, 4L, "kept")))
    val survivors = Dedup.dedupedRows(docs, "text", "doc_id", 0.5)
    assert(survivors.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(0L, 3L, 4L))
    // surviving rows are the ORIGINAL rows (text intact)
    assert(survivors.filter($"doc_id" === 0L).head().getString(1)
      .startsWith("the quick brown fox"))
  }

  test("dedupCorpus: clean corpus passes through untouched") {
    val clean = Seq((10L, "alpha beta gamma delta"),
      (11L, "epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val report = Dedup.dedupCorpus(clean, "text", "doc_id")
      .collect().map(r => r.getString(2))
    assert(report.forall(_ == "kept"))
    assert(Dedup.dedupedRows(clean, "text", "doc_id").count() == 2)
  }

  test("incrementalDedup: corpus dup dropped, chain resolves to corpus, " +
      "all-new cluster keeps min id, clean doc kept") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (11L, "completely different words about spark query engines and plans"))
      .toDF("doc_id", "text")
    val corpusSigs = Dedup.minhashSignatures(corpus, "text", "doc_id",
      numHashes = 16, shingleSize = 3)
    val batch = Seq(
      // near-dup of corpus 10 (one word changed)
      (20L, "the quick brown fox jumps over the lazy cat near the river bank"),
      // near-dup of 20 but NOT directly of 10 — chain must still → corpus
      (21L, "a quick brown fox jumps over the lazy cat near the river bank"),
      // all-new dup pair: 22 ≈ 23, unrelated to corpus
      (22L, "orange mango banana papaya guava lychee melon kiwi fruit salad"),
      (23L, "orange mango banana papaya guava lychee melon kiwi fruit bowl"),
      // clean
      (24L, "unrelated text mentioning distributed storage layers and logs"))
      .toDF("doc_id", "text")
    val report = Dedup.incrementalDedup(corpusSigs, corpus, batch,
      "text", "doc_id", threshold = 0.5, bands = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    assert(report.size == 5) // one verdict per new doc
    assert(report(20L) == ((10L, "corpus")))
    assert(report(21L) == ((10L, "corpus"))) // via the 20-21 chain
    assert(report(22L) == ((22L, "kept")))
    assert(report(23L) == ((22L, "batch")))
    assert(report(24L) == ((24L, "kept")))
    // rolling the index forward: kept sigs union cleanly onto the index
    val keptIds = report.filter(_._2._2 == "kept").keys.toSet
    val newSigs = Dedup.minhashSignatures(batch, "text", "doc_id", 16, 3)
      .filter(col("doc_id").isin(keptIds.toSeq: _*))
    val updated = corpusSigs.unionByName(newSigs)
    assert(updated.count() == corpus.count() + keptIds.size)
    // re-ingestion: the same content arriving under fresh ids is now
    // fully absorbed by the rolled-forward index (every doc → corpus)
    val rolledCorpus = corpus.unionByName(
      batch.filter(col("doc_id").isin(keptIds.toSeq: _*)))
    val batch2 = batch.withColumn("doc_id", col("doc_id") + 100)
    val again = Dedup.incrementalDedup(updated, rolledCorpus, batch2,
      "text", "doc_id", threshold = 0.5, bands = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    assert(again(122L) == ((22L, "corpus"))) // exact re-arrival
    assert(again(124L) == ((24L, "corpus")))
    assert(again(120L)._2 == "corpus")
  }

  test("SigIndex: the persisted signature index carries its " +
      "derivation identity, FromIndex closes the silent-miss window " +
      "a hand-aligned seed leaves open, and a tampered store refuses") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the bank"),
      (11L, "completely different words about spark query engines here"))
      .toDF("doc_id", "text")
    // a NON-default seed: exactly the knob a caller can silently lose
    val ix = Dedup.SigIndex(
      Dedup.minhashSignaturesPortable(corpus, "text", "doc_id",
        numHashes = 16, shingleSize = 3, seed = 7L),
      numHashes = 16, shingleSize = 3, seed = 7L, portable = true)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sig_ix").toString + "/ix"
    Dedup.saveSigIndex(ix, dir)
    val loaded = Dedup.loadSigIndex(spark, dir)
    assert(loaded.numHashes == 16 && loaded.shingleSize == 3 &&
      loaded.seed == 7L && loaded.portable)
    val batch = Seq(
      (20L, "the quick brown fox jumps over the lazy cat near the bank"),
      (24L, "unrelated text mentioning distributed storage and logs"))
      .toDF("doc_id", "text")
    val viaStore = Dedup.incrementalDedupFromIndex(loaded, corpus,
        batch, "text", "doc_id", threshold = 0.5, bands = 8)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(viaStore(20L) == "corpus" && viaStore(24L) == "kept",
      "the store-identity path finds the corpus dup")
    // THE HAZARD the store closes: the same call hand-aligned with
    // the DEFAULT seed signs the batch under a different hash family
    // — same schema, no error, and the duplicate silently survives
    val misaligned = Dedup.incrementalDedup(loaded.sigs, corpus,
        batch, "text", "doc_id", threshold = 0.5, bands = 8,
        portable = true /* seed left at its default 42 */)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(misaligned(20L) == "kept",
      "the misaligned seed must demonstrably miss the duplicate — " +
        "otherwise this spec is vacuous")
    // a tampered store (sigs swapped for a different hash count)
    // refuses at load instead of serving garbage candidates
    Dedup.minhashSignaturesPortable(corpus, "text", "doc_id",
        numHashes = 8, shingleSize = 3, seed = 7L)
      .write.mode("overwrite").parquet(s"$dir/_v1/sigs")
    intercept[IllegalArgumentException](Dedup.loadSigIndex(spark, dir))
  }

  test("incrementalDedup: numHashes mismatch with stored index fails fast") {
    val corpus = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val sigs8 = Dedup.minhashSignatures(corpus, "text", "doc_id", 8, 3)
    intercept[IllegalArgumentException] {
      Dedup.incrementalDedup(sigs8, corpus, corpus, "text", "doc_id",
        numHashes = 16)
    }
  }

  test("connectedComponents: min-label clusters with isolated vertices") {
    val vertices = (1L to 7L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(vertices, "id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("incrementalDupClusters: new pairs merge on the label quotient " +
      "exactly — composed result equals the full recompute, unseen " +
      "endpoints enter, untouched clusters verbatim") {
    val vertices = Seq(1L, 2L, 3L, 5L, 6L, 10L, 11L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (10L, 11L))
      .toDF("id_a", "id_b")
    val prev = Dedup.connectedComponents(vertices, "id", pairs)
    // a bridging pair merges {1,2,3} with {5,6}; a brand-new doc 40
    // attaches to {10,11}; and a self-pair-only newcomer 50 enters
    val newPairs = Seq((3L, 5L), (40L, 10L), (50L, 50L))
      .toDF("id_a", "id_b")
    val out = Dedup.incrementalDupClusters(newPairs, prev)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.connectedComponents(
        (Seq(1L, 2L, 3L, 5L, 6L, 10L, 11L, 40L, 50L)).toDF("id"), "id",
        pairs.unionByName(newPairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == full, s"out=$out full=$full")
    assert(Set(1L, 2L, 3L, 5L, 6L).forall(out(_) == 1L))
    assert(out(40L) == 10L && out(50L) == 50L)
    // an in-cluster duplicate pair is a fixpoint
    val noop = Dedup.incrementalDupClusters(
        Seq((10L, 11L)).toDF("id_a", "id_b"), prev)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(noop == prev.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("decrementalDupClusters: a takedown splits its cluster exactly, " +
      "keeper removal relabels survivors, untouched clusters verbatim, " +
      "deleted docs leave the store, unknown deletes are no-ops") {
    // chains {1,2,3,4} and {5,6}; untouched {10,11}; isolated 20
    val vertices = Seq(1L, 2L, 3L, 4L, 5L, 6L, 10L, 11L, 20L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (10L, 11L))
      .toDF("id_a", "id_b")
    val prev = Dedup.connectedComponents(vertices, "id", pairs)
    // delete the bridge doc 2 (splits {1,2,3,4}) and the keeper 5
    // (6 must relabel to itself)
    val out = Dedup.decrementalDupClusters(pairs,
        Seq(2L, 5L).toDF("id"), prev)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // full recompute over the surviving pair graph
    val full = Dedup.connectedComponents(
        Seq(1L, 3L, 4L, 6L, 10L, 11L, 20L).toDF("id"),
        "id", Seq((3L, 4L), (10L, 11L)).toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == full, s"out=$out full=$full")
    assert(out == Map(1L -> 1L, 3L -> 3L, 4L -> 3L, 6L -> 6L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
    assert(!out.contains(2L) && !out.contains(5L),
      "taken-down docs leave the store")
    // keeper re-election composes: the refreshed clusters feed
    // electKeepers and the survivor wins
    // unknown deletes are no-ops
    val noop = Dedup.decrementalDupClusters(pairs,
        Seq(999L).toDF("id"), prev)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(noop == prev.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("connectedComponents: duplicate vertex ids collapse to one row " +
      "instead of multiplying through the pointer-jump self-join") {
    // regression: a duplicated vertex id used to give the jump join a
    // non-unique build key — rows pointing at the dup DOUBLED every
    // round (2^maxIter explosion; surfaced by q_x2l at sf0.1 where a
    // +1000 id offset collided with real ids)
    val vertices = (Seq(1L, 2L, 3L) ++ Seq(2L, 2L, 3L)).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(vertices, "id", pairs).collect()
    assert(out.length == 3) // one row per DISTINCT vertex
    assert(out.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("connectedComponents: long chain converges via pointer jumping") {
    val n = 60L
    val vertices = (0L until n).toDF("id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(vertices, "id", pairs, maxIter = 12)
      .select("comp").distinct().as[Long].collect()
    assert(comps.toSeq == Seq(0L)) // one component, min label 0
  }

  test("connectedComponents: hitting maxIter unconverged fails fast") {
    val n = 60L
    val vertices = (0L until n).toDF("id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ex = intercept[IllegalArgumentException](
      Dedup.connectedComponents(vertices, "id", pairs, maxIter = 3))
    assert(ex.getMessage.contains("did not converge"))
  }

  test("cosineNearDups brute force matches blocked candidates on dup vectors") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(1f, 0.01f, 0f, 0f)), // near dup of 0
      (2L, Array(0f, 1f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val brute = Dedup.cosineNearDups(vecs, "embedding", "vec_id", 0.99,
      bruteForce = true).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(brute == Set((0L, 1L)))
    val blocked = Dedup.cosineNearDups(vecs, "embedding", "vec_id", 0.99,
      bits = 4).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // blocking is approximate but near-identical vectors share buckets
    assert(blocked == Set((0L, 1L)))
  }

  test("editDistanceNearDups: known distances, lossless length-band " +
      "blocking ≡ brute force") {
    val docs = Seq(
      (1L, "kitten"), (2L, "sitting"),          // distance 3
      (3L, "kitten"),                           // exact dup of 1
      (4L, "kittens"),                          // distance 1 to kitten
      (5L, "completely unrelated text here"),
      (6L, "abc"), (7L, "abcdef"))              // distance 3, bands differ
      .toDF("doc_id", "text")
    val out = Dedup.editDistanceNearDups(docs, "text", "doc_id", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map((1L, 2L) -> 3L, (1L, 3L) -> 0L, (1L, 4L) -> 1L,
      (2L, 3L) -> 3L, (2L, 4L) -> 3L, // sitting↔kittens: 3 substitutions
      (3L, 4L) -> 1L, (6L, 7L) -> 3L))
    // blocked ≡ brute force on real text, incl. prefix truncation
    val real = spark.read.parquet(sf() + "/documents.parquet")
      .filter(col("doc_id") < 200)
    def pairs(bf: Boolean) =
      Dedup.editDistanceNearDups(real, "text", "doc_id", maxDist = 5,
        prefixLen = 24, bruteForce = bf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val blocked = pairs(bf = false)
    assert(blocked == pairs(bf = true) && blocked.nonEmpty)
  }

  test("multiprobe LSH recall >= exact-bucket recall on real embeddings") {
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
      .filter(col("vec_id") < 200)
    val exact = Dedup.cosineNearDups(e, "embedding", "vec_id", 0.3,
      bruteForce = true).count()
    val bucket0 = Dedup.cosineNearDups(e, "embedding", "vec_id", 0.3,
      bits = 8).count()
    val probed = Dedup.cosineNearDups(e, "embedding", "vec_id", 0.3,
      bits = 8, probes = 4).count()
    assert(bucket0 <= probed)   // probes can only add candidates
    assert(probed <= exact)     // and never invent pairs
    assert(probed > 0)
  }

  test("duplicateNgramStats: within-doc repeats count, short docs zero, " +
      "partitioning-independent") {
    val docs = Seq(
      (1L, "a b c d"),   // trigrams: "a b c" (corpus c=2), "b c d" (c=1)
      (2L, "a b c x"),   // "a b c" dup, "b c x" unique
      (3L, "z z z z"),   // "z z z" twice → self-duplicated
      (4L, "short")      // fewer than 3 tokens
    ).toDF("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      Dedup.duplicateNgramStats(d, "text", "doc_id", shingleSize = 3)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val out = run(docs)
    assert(out(1L) == ((2L, 1L, 500000L)))
    assert(out(2L) == ((2L, 1L, 500000L)))
    assert(out(3L) == ((2L, 2L, 1000000L)))
    assert(out(4L) == ((0L, 0L, 0L)))
    assert(run(docs.repartition(5)) == out)
  }

  test("dedupParagraphs: first corpus-wide occurrence wins, order kept, " +
      "all-boilerplate docs come back empty") {
    val docs = Seq(
      (1L, "alpha one\nSUBSCRIBE NOW\nbeta two"),
      (2L, "gamma three\nSUBSCRIBE NOW\ndelta four"), // footer dropped
      (3L, "SUBSCRIBE NOW"),                          // only boilerplate
      (4L, "epsilon five\nepsilon five\nzeta six"),   // within-doc dup
      (5L, "  \n\nalpha one"),                        // blanks + stolen para
      (6L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("alpha one\nSUBSCRIBE NOW\nbeta two", 3L, 0L)))
    assert(out(2L) == (("gamma three\ndelta four", 2L, 1L)))
    assert(out(3L) == (("", 0L, 1L)))
    assert(out(4L) == (("epsilon five\nzeta six", 2L, 1L)))
    assert(out(5L) == (("", 0L, 1L)))
    assert(out(6L) == (("", 0L, 0L)))
    // winner election is a total order => partitioning-independent
    val re = Dedup.dedupParagraphs(docs.repartition(7), "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(re == out)
  }

  test("removeDuplicateSpans: corpus-duplicated trigrams deleted, unique " +
      "text kept in order; within-doc repeats count; short/blank pass " +
      "through") {
    val docs = Seq(
      (1L, "alpha beta gamma unique one two three"),
      (2L, "alpha beta gamma other words entirely here"),
      // within-doc repeat: 'x y z' occurs twice in doc 3 alone
      (3L, "x y z padding tokens x y z"),
      (4L, "tiny doc"), // shorter than the shingle — untouched
      (5L, ""))
      .toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(docs, "text", "doc_id",
        shingleSize = 3, minCount = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // 'alpha beta gamma' is cross-doc duplicated → its 3 tokens vanish
    // from both docs; everything else survives in original order
    assert(out(1L) == (("unique one two three", 7L, 3L)))
    assert(out(2L) == (("other words entirely here", 7L, 3L)))
    // both occurrences of the within-doc repeat are removed
    assert(out(3L) == (("padding tokens", 8L, 6L)))
    assert(out(4L) == (("tiny doc", 2L, 0L)))
    assert(out(5L) == (("", 0L, 0L)))
  }

  test("semanticDedup: near-dup embedding cluster collapses to min id, " +
      "chains resolve transitively, distinct vectors all kept") {
    // cluster {0,1,2}: 1 and 2 are tiny perturbations of 0 (pairwise
    // cosine > 0.999); {5,6}: a second chain; 3 and 4 are orthogonal
    // singletons. numCells=1 → everything shares a cell, so the result
    // is exact (no approximation to reason about).
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(1f, 0.01f, 0f, 0f)),
      (2L, Array(1f, 0f, 0.01f, 0f)),
      (3L, Array(0f, 1f, 0f, 0f)),
      (4L, Array(0f, 0f, 1f, 0f)),
      (5L, Array(0f, 0.3f, 0.3f, 1f)),
      (6L, Array(0f, 0.3f, 0.31f, 1f))
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(vecs, "embedding", "vec_id",
        threshold = 0.99, numCells = 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    assert(out == Map(
      0L -> ((0L, "kept")), 1L -> ((0L, "semantic")),
      2L -> ((0L, "semantic")), 3L -> ((3L, "kept")),
      4L -> ((4L, "kept")), 5L -> ((5L, "kept")),
      6L -> ((5L, "semantic"))))
  }

  test("incrementalSemanticDedup: corpus wins its component, all-new " +
      "clusters keep min id, chains collapse, clean batch rows kept") {
    val corpus = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val (cents, index) = graft.operators.Similarity.ivfIndex(
      corpus, "embedding", "vec_id", k = 2)
    val batch = Seq(
      (10L, Array(1f, 0.01f, 0f, 0f)),  // ≈ corpus 1
      (11L, Array(1f, 0.02f, 0f, 0f)),  // ≈ corpus 1 AND ≈ 10 (chain)
      (12L, Array(0f, 0f, 1f, 0f)),     // novel — kept
      (13L, Array(0f, 0f, 1f, 0.01f))   // ≈ 12: all-new cluster
    ).toDF("vec_id", "embedding")
    val out = Dedup.incrementalSemanticDedup(cents, index, batch,
        "embedding", "vec_id", threshold = 0.99)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2)))).toMap
    assert(out == Map(
      10L -> ((1L, "corpus")), 11L -> ((1L, "corpus")),
      12L -> ((12L, "kept")), 13L -> ((12L, "batch"))))
  }

  test("semanticDedup: overflowed cells contribute no pairs; " +
      "cell stats report the skip") {
    val vecs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(1f, 0.001f)), (2L, Array(1f, 0.002f)))
      .toDF("vec_id", "embedding")
    // cap 2 < cell population 3 → the single cell is skipped, all kept
    val capped = Dedup.semanticDedup(vecs, "embedding", "vec_id",
        threshold = 0.99, numCells = 1, maxCellSize = 2)
      .collect().map(r => (r.getString(2)))
    assert(capped.length == 3 && capped.forall(_ == "kept"))
    val stats = Dedup.semanticDedupCellStats(vecs, "embedding", "vec_id",
        numCells = 1, maxCellSize = 2).collect()
    assert(stats.length == 1 && stats.head.getAs[Long]("n") == 3L &&
      stats.head.getAs[Boolean]("skipped"))
  }

  test("linkRecords: blocked A-B matches above threshold, blocks never " +
      "cross, self-link canonical pairs, degenerate block reported, " +
      "partition-invariant") {
    val left = Seq((1L, "acme corp", "US"), (2L, "globex inc", "US"),
      (3L, "acme corp", "DE")).toDF("id", "name", "nation")
    val right = Seq((10L, "acme corporation", "US"),
      (11L, "globex inc", "US"), (12L, "acme corp", "FR"))
      .toDF("id", "name", "nation")
    val (m, over) = Dedup.linkRecords(left, right, "id", "id", "name",
      "name", Seq("nation"), Seq("nation"), shingleSize = 1,
      threshold = 0.3)
    val got = m.collect().map(r =>
      (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // {acme, corp} vs {acme, corporation} → 1/3; exact name → 1;
    // id 3 (DE) and 12 (FR) block alone — never compared to anything
    assert(got == Map((1L, 10L) -> 1.0 / 3.0, (2L, 11L) -> 1.0))
    assert(over.count() == 0)
    // self-linkage: identical names once, as (lower, higher)
    val selfDf = Seq((1L, "red widget", "B"), (2L, "red widget", "B"),
      (3L, "blue bolt", "B")).toDF("id", "name", "brand")
    val (selfM, _) = Dedup.linkRecords(selfDf, selfDf, "id", "id",
      "name", "name", Seq("brand"), Seq("brand"), shingleSize = 1,
      threshold = 0.5, canonicalPairs = true)
    assert(selfM.collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq == Seq((1L, 2L)))
    // a degenerate block key (3·3 pairs > cap 8) is excluded AND
    // reported, not silently cross-joined
    val (gated, report) = Dedup.linkRecords(selfDf, selfDf, "id", "id",
      "name", "name", Seq("brand"), Seq("brand"), shingleSize = 1,
      threshold = 0.0, maxBlockPairs = 8L)
    assert(gated.count() == 0)
    // the overflow frame speaks the CALLER's block column names, not
    // the internal _bk* join aliases (the docstring contract)
    assert(report.columns.toSeq == Seq("brand", "n_left", "n_right"))
    assert(report.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("B", 3L, 3L)))
    val (re, _) = Dedup.linkRecords(left.repartition(7),
      right.repartition(3), "id", "id", "name", "name", Seq("nation"),
      Seq("nation"), shingleSize = 1, threshold = 0.3)
    assert(re.collect().map(r =>
      (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap == got)
  }

  test("text-only semantic dedup: hashedVectors feeds semanticDedup " +
      "with no embedding model in the loop") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different subject matter entirely unrelated"),
      (3L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val vecs = graft.operators.Relevance.hashedVectors(
      docs, "doc_id", "text", dim = 64)
    val m = Dedup.semanticDedup(vecs, "vector", "doc_id",
        threshold = 0.8, numCells = 1)
      .select(col("doc_id"), col("keeper_id"))
      .as[(Long, Long)].collect().toMap
    assert(m(0L) == 0L && m(1L) == 0L && m(3L) == 0L,
      s"near/exact textual dups must share the keeper: $m")
    assert(m(2L) == 2L, s"unrelated doc must stand alone: $m")
  }

  test("electKeepers: highest score wins, ties break to lowest id, " +
      "cluster labels pass through, singletons keep themselves") {
    // cluster 0: ids 0,1,2 with scores 10,30,30 → keeper 1 (tie 1 vs 2)
    // cluster 5: ids 5,6 with scores 7,9        → keeper 6 (not min id)
    // cluster 9: singleton id 9                 → keeper 9
    val clustered = Seq(
      (0L, 0L, 10L), (1L, 0L, 30L), (2L, 0L, 30L),
      (5L, 5L, 7L), (6L, 5L, 9L),
      (9L, 9L, 4L)).toDF("id", "cluster", "score")
    val got = Dedup.electKeepers(clustered, "id", "cluster", "score")
      .orderBy("id")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(got == Seq(
      (0L, 0L, 1L, false), (1L, 0L, 1L, true), (2L, 0L, 1L, false),
      (5L, 5L, 6L, false), (6L, 5L, 6L, true),
      (9L, 9L, 9L, true)))
    // exactly one keeper per cluster, and membership is unchanged
    val perCluster = got.groupBy(_._2)
    assert(perCluster.forall(_._2.count(_._4) == 1))
    assert(got.map(r => r._1 -> r._2).toMap ==
      clustered.select(col("id"), col("cluster"))
        .as[(Long, Long)].collect().toMap)
    // double scores work the same (quality-model outputs)
    val d = Seq((0L, 0L, 0.25), (1L, 0L, 0.75)).toDF("id", "cluster", "q")
    assert(Dedup.electKeepers(d, "id", "cluster", "q")
      .filter(col("is_kept")).select("id").as[Long].collect().toSeq ==
      Seq(1L))
  }

  test("bandingAudit: candidate sets nest with band count, verified " +
      "counts match the near-dup pipeline, the S-curve column is the " +
      "hand-folded value, and guards refuse bad configs") {
    // near-dup families at varied similarity so different bandings
    // disagree: exact twins, 1-token edits, half-overlaps, singletons
    val base = "the quick brown fox jumps over the lazy dog again and"
    val docs = (Seq(
      (1L, base), (2L, base), // exact twins
      (3L, base + " more"), (4L, base + " most"),
      (5L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (6L, "alpha beta gamma delta epsilon zeta unrelated tail words"),
      (7L, "completely different content with no shared trigrams one"),
      (8L, "another unrelated document full of its own tokens two")))
      .toDF("doc_id", "text")
    val rep = Dedup.bandingAudit(docs, "text", "doc_id",
        threshold = 0.2, bandsList = Seq(2, 4, 8))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(rep.keySet == Set(2L, 4L, 8L))
    assert(rep(2L)._1 == 8L && rep(4L)._1 == 4L && rep(8L)._1 == 2L,
      "rows_per_band = numHashes / bands")
    // a full-band match implies both half-band matches, so candidate
    // counts nest as bands grow
    assert(rep(2L)._2 <= rep(4L)._2 && rep(4L)._2 <= rep(8L)._2,
      s"candidate counts must nest: $rep")
    assert(rep(8L)._2 > 0L, "the twins must band together somewhere")
    // verified count at bands=4 equals the near-dup pipeline's pairs
    val pipeline = Dedup.minhashNearDupsPortable(docs, "text",
      "doc_id", threshold = 0.2, numHashes = 16, bands = 4,
      shingleSize = 3).count()
    assert(rep(4L)._3 == pipeline,
      s"audit verified (${rep(4L)._3}) ≡ pipeline pairs ($pipeline)")
    // the theory column is the hand-folded S-curve at the threshold
    def theory(b: Int, r: Int): Long = {
      var tr = 1.0; var i = 0
      while (i < r) { tr = tr * 0.2; i += 1 }
      var q = 1.0; val z = 1.0 - tr; i = 0
      while (i < b) { q = q * z; i += 1 }
      math.floor((1.0 - q) * 1e6 + 0.5).toLong
    }
    assert(rep(2L)._5 == theory(2, 8) && rep(4L)._5 == theory(4, 4) &&
      rep(8L)._5 == theory(8, 2))
    // more bands move the S-curve left: higher candidate probability
    assert(rep(2L)._5 < rep(4L)._5 && rep(4L)._5 < rep(8L)._5)
    intercept[IllegalArgumentException](
      Dedup.bandingAudit(docs, "text", "doc_id", 0.2, Seq(3)))
    intercept[IllegalArgumentException](
      Dedup.bandingAudit(docs, "text", "doc_id", 0.2, Seq(4, 4)))
    intercept[IllegalArgumentException](
      Dedup.bandingAudit(docs, "text", "doc_id", 0.2, Nil))

    // ---- the measure→act loop: autoTunedNearDups picks by the
    // documented rule and serves EXACTLY the chosen banding's pairs
    def pairsAt(b: Int): Set[(Long, Long)] =
      Dedup.minhashNearDupsPortable(docs, "text", "doc_id",
          threshold = 0.2, numHashes = 16, bands = b, shingleSize = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def tuned(budget: Long): (Long, Set[(Long, Long)]) = {
      val rows = Dedup.autoTunedNearDups(docs, "text", "doc_id",
          threshold = 0.2, bandsList = Seq(2, 4, 8),
          candidateBudget = budget)
        .collect()
      val bs = rows.map(_.getLong(0)).distinct
      assert(bs.length == 1, "one winning banding on every row")
      (bs.head, rows.map(r => (r.getLong(1), r.getLong(2))).toSet)
    }
    // unbounded budget: every config fits — max verified wins, ties
    // break to fewer candidates then fewer bands
    val audit = rep.map { case (b, (_, nc, nv, _, _)) => (b, nc, nv) }
      .toSeq
    val expectUnbounded = audit
      .minBy { case (b, nc, nv) => (-nv, nc, b) }._1
    val (bU, pU) = tuned(Long.MaxValue >> 1)
    assert(bU == expectUnbounded && pU == pairsAt(bU.toInt))
    // zero budget: nothing fits — the conservative fallback takes the
    // cheapest candidate bill
    val expectFallback = audit.minBy { case (b, nc, _) => (nc, b) }._1
    val (bF, pF) = tuned(0L)
    assert(bF == expectFallback && pF == pairsAt(bF.toInt))
    intercept[IllegalArgumentException](
      Dedup.autoTunedNearDups(docs, "text", "doc_id", 0.2,
        Seq(2, 4, 8), candidateBudget = -1L))
    // autoTunedNearDups shares bandingAudit's input validation (the
    // r15 advice: the requires live in bandingAuditFromSigs so BOTH
    // entries fail loudly, not in reduce() with an opaque error)
    intercept[IllegalArgumentException](
      Dedup.autoTunedNearDups(docs, "text", "doc_id", 0.2, Nil,
        candidateBudget = 100L))
    intercept[IllegalArgumentException](
      Dedup.autoTunedNearDups(docs, "text", "doc_id", 0.2, Seq(4, 4),
        candidateBudget = 100L))
    intercept[IllegalArgumentException](
      Dedup.autoTunedNearDups(docs, "text", "doc_id", 0.2, Seq(3),
        candidateBudget = 100L))
    intercept[IllegalArgumentException](
      Dedup.autoTunedNearDups(docs, "text", "doc_id", 1.5, Seq(2, 4),
        candidateBudget = 100L))
  }

  test("duplicatedSpans: equals the brute-force reference on a seeded " +
      "small-vocab corpus, every span is maximal (no duplicated window " +
      "extends it), and planted cross-document substrings surface") {
    val L = 3
    def tok(a: Long, b: Long): String =
      "w" + (((a * 2654435761L + b * 40503L) % 7L + 7L) % 7L)
    val planted = "alpha beta gamma delta epsilon zeta"
    val docs = (0L until 30L).map { dd =>
      val base = (0L until 20L).map(p => tok(dd, p)).mkString(" ")
      val text =
        if (dd % 5 == 0) base + " " + planted + " " + tok(dd, 99L)
        else base
      // doc 0 gets a leading TAB (survives Spark's space-only trim):
      // token positions must still index REAL tokens — the regression
      // for the empty-leading-token off-by-one in the text rebuild
      (dd, if (dd == 0L) "\t" + text else text)
    }
    val df = docs.toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(df, "text", "doc_id",
        shingleSize = L, minCount = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(5))).toSet
    // brute force: corpus-wide L-gram counts, duplicated starts,
    // runs merged at gaps <= L (REAL tokens only — maximal non-\s
    // runs, like the shingle kernel)
    val toksOf = docs.map { case (dd, t) =>
      dd -> t.split("\\s+").toSeq.filter(_.nonEmpty) }.toMap
    val grams = docs.flatMap { case (dd, _) =>
      toksOf(dd).sliding(L).filter(_.size == L).zipWithIndex
        .map { case (g, p) => (dd, p, g.mkString(" ")) } }
    val counts = grams.groupBy(_._3).map { case (g, os) => g -> os.size }
    val expect = grams.filter(g => counts(g._3) >= 2).groupBy(_._1)
      .flatMap { case (dd, gs) =>
        val ps = gs.map(_._2).sorted
        val runs = scala.collection.mutable.ListBuffer[(Int, Int, Int)]()
        var s = ps.head; var last = ps.head; var n = 1
        ps.tail.foreach { p =>
          if (p - last <= L) { last = p; n += 1 }
          else { runs += ((s, last, n)); s = p; last = p; n = 1 }
        }
        runs += ((s, last, n))
        runs.map { case (a, b, n2) =>
          (dd, a.toLong, (b + L - 1).toLong, (b + L - a).toLong,
            n2.toLong, toksOf(dd).slice(a, b + L).mkString(" ")) }
      }.toSet
    assert(got == expect, "spans must equal the brute-force reference")
    // maximality: no duplicated window immediately left of the span,
    // none that would extend past its last window
    got.foreach { case (dd, a, b, _, _, _) =>
      val ts = toksOf(dd)
      def dup(p: Long): Boolean =
        p >= 0 && p + L <= ts.size &&
          counts.getOrElse(
            ts.slice(p.toInt, p.toInt + L).mkString(" "), 0) >= 2
      val lastStart = b - L + 1
      assert(!(a - L to a - 1).exists(dup),
        s"doc $dd span [$a,$b]: a duplicated window on the left " +
          "should have merged in")
      assert(!(lastStart + 1 to lastStart + L).exists(dup),
        s"doc $dd span [$a,$b]: a duplicated window on the right " +
          "should have merged in")
    }
    // the planted sentence is reported in every planted doc
    docs.filter(_._1 % 5 == 0).foreach { case (dd, _) =>
      assert(got.exists(s => s._1 == dd && s._6.contains(planted)),
        s"doc $dd must report the planted span")
    }
    intercept[IllegalArgumentException](
      Dedup.duplicatedSpans(df, "text", "doc_id", minCount = 1))
  }

  test("scrubDuplicateSpansKeepOne: every duplicated span family " +
      "survives exactly once (smallest (doc, start) keeper), losers " +
      "scrub, unique text untouched — incl. the within-doc repeat") {
    val L = 3
    val docs = Seq(
      (1L, "u1 u2 p q r s u3 u4"), // keeper of family "p q r s"
      (2L, "v1 p q r s v2"), // loser (doc 2 > doc 1)
      (3L, "w1 w2 w3 w4 w5"), // no duplicated content
      // within-doc repeat of family "a b c": first occurrence keeps
      (4L, "a b c x1 x2 x3 x4 a b c"),
      (5L, "")) // blank row passes through
    val df = docs.toDF("doc_id", "text")
    val out = Dedup.scrubDuplicateSpansKeepOne(df, "text", "doc_id",
        shingleSize = L, minCount = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(out(1L) == (("u1 u2 p q r s u3 u4", 8L, 0L)),
      "the elected keeper keeps its copy")
    assert(out(2L) == (("v1 v2", 6L, 4L)),
      "the loser occurrence scrubs, surrounding text survives")
    assert(out(3L) == (("w1 w2 w3 w4 w5", 5L, 0L)))
    assert(out(4L) == (("a b c x1 x2 x3 x4", 10L, 3L)),
      "within-doc repeat: first occurrence keeps, second scrubs")
    assert(out(5L) == (("", 0L, 0L)))
    // the property proper: each family's span text appears in the
    // scrubbed corpus exactly as many times as before MINUS (n_occ-1)
    // — i.e. once per family here
    val cleaned = out.values.map(_._1).mkString(" | ")
    assert("p q r s".r.findAllIn(cleaned).size == 1)
    assert("a b c".r.findAllIn(cleaned).size == 1)
    // contrast with the destructive twin, which deletes EVERY copy
    val gone = Dedup.removeDuplicateSpans(df, "text", "doc_id",
        shingleSize = L, minCount = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!gone.values.mkString(" | ").contains("p q r s"))
  }
}
