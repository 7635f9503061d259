package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.Analyze.parse

/** Analytics/curation CLI: arg grammar + graph metrics and a curation run
  * driven end-to-end from argv against the shared session. */
class AnalyzeSpec extends SparkSpec {
  import spark.implicits._

  private def writeEdges(): String = {
    val dir = Files.createTempDirectory("graft-analyze").toString
    // 0→1→2→3 chain + 4↔5 cycle, with a weight column
    Seq((0L, 1L, 4.0), (1L, 2L, 1.0), (2L, 3L, 1.0), (4L, 5L, 1.0),
        (5L, 4L, 1.0), (0L, 2L, 10.0))
      .toDF("start_id", "end_id", "w")
      .write.parquet(s"$dir/edges")
    dir
  }

  test("arg parsing: command word, options, unknown-arg rejection") {
    val a = parse(List("pagerank", "--edges", "/e", "--iterations", "5",
      "--damping", "0.9", "-o", "/out", "--checkpoint-dir", "/ck"))
    assert(a.command == "pagerank" && a.edges == "/e" && a.iterations == 5 &&
      a.damping == 0.9 && a.outDir == "/out" &&
      a.checkpointDir.contains("/ck"))
    val s = parse(List("khop", "--edges", "/e", "--seeds", "1, 2,3"))
    assert(s.seeds == Seq(1L, 2L, 3L))
    val e = intercept[IllegalArgumentException](
      parse(List("degrees", "--bogus")))
    assert(e.getMessage.contains("--bogus"))
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("frobnicate", "--edges", "/e")), spark))
  }

  test("graph commands run from argv and write parquet results") {
    val dir = writeEdges()
    Analyze.run(parse(List("degrees", "--edges", s"$dir/edges",
      "-o", s"$dir/o1")), spark)
    val deg = spark.read.parquet(s"$dir/o1/degrees")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(deg(0L) == 2L && deg(1L) == 1L)

    Analyze.run(parse(List("paths", "--edges", s"$dir/edges", "--seeds", "0",
      "--weight-col", "w", "-o", s"$dir/o2")), spark)
    val dist = spark.read.parquet(s"$dir/o2/paths")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // 0→1→2 (5.0) beats 0→2 direct (10.0)
    assert(dist == Map(0L -> 0.0, 1L -> 4.0, 2L -> 5.0, 3L -> 6.0))

    val pr = Analyze.run(parse(List("pagerank", "--edges", s"$dir/edges",
      "--iterations", "3")), spark)
    assert(math.abs(pr.agg(sum("rank")).head().getDouble(0) - 1.0) < 1e-12)

    val cc = Analyze.run(parse(List("components", "--edges", s"$dir/edges")), spark)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc(3L) == 0L && cc(5L) == 4L)

    // direction matters here: the 0→1→2→3 chain is all singletons
    // (weakly one component, per the assert above) — only 4↔5 fuses
    val scc = Analyze.run(parse(List("scc", "--edges", s"$dir/edges")), spark)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scc == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L,
      4L -> 4L, 5L -> 4L))

    // chain 0-1-2-3 (+0-2 edge): 1,3 share neighbor 2; 0,2 adjacent
    val lp = Analyze.run(parse(List("linkpred", "--edges", s"$dir/edges",
      "--min-common", "1")), spark)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lp.contains((1L, 3L)) && !lp.contains((0L, 2L)))
  }

  test("curate runs end-to-end from argv: corpus + attributed report") {
    val dir = Files.createTempDirectory("graft-analyze-cur").toString
    val good = "the quick brown fox jumps over the lazy dog and then " +
      "walks away to find some more interesting things to do today " * 3
    val other = "completely different subject matter entirely about " +
      "cooking pasta with garlic butter sauce and fresh basil leaves " * 3
    Seq((1L, good + "alpha"), (2L, good + "alpha"), // exact dup pair
        (3L, "short junk"),                         // fails min-words
        (4L, other + "omega"))
      .toDF("doc_id", "text").write.parquet(s"$dir/docs")
    Seq((100L, "held out benchmark prompt nothing shared here"))
      .toDF("doc_id", "text").write.parquet(s"$dir/bench")
    Analyze.run(parse(List("curate", "--docs", s"$dir/docs", "--bench",
      s"$dir/bench", "--min-words", "20", "-o", s"$dir/out")), spark)
    val kept = spark.read.parquet(s"$dir/out/corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L)) // 2 deduped against 1, 3 quality-dropped
    val report = spark.read.parquet(s"$dir/out/report")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2)))
      .toMap
    assert(report(3L)._1 == "quality" && report(2L)._1 == "dedup" &&
      report(1L) == ("kept", "kept"))
  }

  test("decontaminate runs from argv in all three modes, same clean set") {
    val dir = Files.createTempDirectory("graft-analyze-dec").toString
    Seq((1L, "what is the capital of france paris is the answer today"),
        (2L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text").write.parquet(s"$dir/docs")
    Seq((100L, "what is the capital of france paris is the answer"))
      .toDF("doc_id", "text").write.parquet(s"$dir/bench")
    for (mode <- Seq("exact", "hashed", "bloom")) {
      val clean = Analyze.run(parse(List("decontaminate",
        "--docs", s"$dir/docs", "--bench", s"$dir/bench",
        "--shingle-size", "4", "--mode", mode,
        "-o", s"$dir/out-$mode")), spark)
      assert(clean.select("doc_id").as[Long].collect().toSeq == Seq(2L),
        s"mode=$mode")
    }
    intercept[IllegalArgumentException](Analyze.run(parse(List(
      "decontaminate", "--docs", s"$dir/docs", "--bench", s"$dir/bench",
      "--mode", "psychic")), spark))
    // domattr: the per-domain attribution report off the same fixture
    Seq((1L, "what is the capital of france paris is the answer today",
        "https://leaky.example.com/1"),
      (2L, "the quick brown fox jumps over the lazy dog",
        "https://clean.example.org/2"))
      .toDF("doc_id", "text", "url").write.parquet(s"$dir/docsu")
    val attr = Analyze.run(parse(List("domattr",
      "--docs", s"$dir/docsu", "--bench", s"$dir/bench",
      "--shingle-size", "4")), spark)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(attr("leaky.example.com") == ((1L, 1L)) &&
      attr("clean.example.org") == ((1L, 0L)))
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("domattr", "--docs", s"$dir/docsu")),
        spark))
    // scrubdecon: span-level — doc 1 loses the quoted bench span but
    // keeps its remainder instead of being dropped
    val scrubbed = Analyze.run(parse(List("scrubdecon",
      "--docs", s"$dir/docs", "--bench", s"$dir/bench",
      "--shingle-size", "4")), spark)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(3)))).toMap
    assert(scrubbed(1L) == (("today", 10L)))
    assert(scrubbed(2L)._2 == 0L)
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("scrubdecon", "--docs", s"$dir/docs")),
        spark))
  }

  test("lexmaint runs from argv: takedown + add maintained, served " +
      "BM25 equals the full rebuild") {
    val dir = Files.createTempDirectory("graft-analyze-lex").toString
    Seq((1L, "a a b"), (2L, "b c"), (3L, "c b"))
      .toDF("doc_id", "text").write.parquet(s"$dir/docs")
    Seq((4L, "d b")).toDF("doc_id", "text").write.parquet(s"$dir/adds")
    Seq(2L).toDF("doc_id").write.parquet(s"$dir/dels")
    val served = Analyze.run(parse(List("lexmaint",
      "--docs", s"$dir/docs", "--delta", s"$dir/adds",
      "--target", s"$dir/dels", "-o", s"$dir/out")), spark)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        r.getDouble(6)).toMap
    val rebuilt = graft.operators.Relevance.bm25(
      Seq((1L, "a a b"), (3L, "c b"), (4L, "d b"))
        .toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        r.getDouble(6)).toMap
    assert(served == rebuilt)
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("lexmaint")), spark))
  }

  test("lmmaint runs from argv: takedown + add maintained, served KN " +
      "perplexity equals the full rebuild") {
    val dir = Files.createTempDirectory("graft-analyze-lm").toString
    Seq((1L, "a b c d"), (2L, "b c d"), (3L, "x y z w"))
      .toDF("doc_id", "text").write.parquet(s"$dir/docs")
    Seq((4L, "a b c")).toDF("doc_id", "text")
      .write.parquet(s"$dir/adds")
    // removal ships ground truth text — the LM store's contract
    Seq((2L, "b c d")).toDF("doc_id", "text")
      .write.parquet(s"$dir/rems")
    val served = Analyze.run(parse(List("lmmaint",
      "--docs", s"$dir/docs", "--delta", s"$dir/adds",
      "--target", s"$dir/rems", "-o", s"$dir/out")), spark)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val rebuilt = graft.operators.Relevance.knTrigramPerplexity(
      Seq((1L, "a b c d"), (3L, "x y z w"), (4L, "a b c"))
        .toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(served == rebuilt)
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("lmmaint")), spark))
  }

  test("zorder runs from argv: rows mode emits z and bucket, stats " +
      "mode the per-bucket envelope") {
    val dir = Files.createTempDirectory("graft-analyze-z").toString
    (for { x <- 0L until 8L; y <- 0L until 8L } yield (x, y))
      .toDF("x", "y").write.parquet(s"$dir/pts")
    val rows = Analyze.run(parse(List("zorder",
      "--docs", s"$dir/pts", "--cols", "x,y", "--bits", "3",
      "--buckets", "4")), spark)
    assert(rows.columns.contains("_z") && rows.columns.contains("_bucket"))
    assert(rows.count() == 64L)
    val stats = Analyze.run(parse(List("zorder",
      "--docs", s"$dir/pts", "--cols", "x,y", "--bits", "3",
      "--buckets", "4", "--mode", "stats", "-o", s"$dir/out")), spark)
      .collect().map(r => r.getAs[Long]("bucket") ->
        r.getAs[Long]("n_rows")).toMap
    assert(stats.keySet == Set(0L, 1L, 2L, 3L) &&
      stats.values.sum == 64L)
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("zorder", "--docs", s"$dir/pts")), spark))
    // hilbert: same surface, curve index column
    val h = Analyze.run(parse(List("hilbert",
      "--docs", s"$dir/pts", "--cols", "x,y", "--bits", "3",
      "--buckets", "4")), spark)
    assert(h.columns.contains("_h") && h.count() == 64L)
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("hilbert", "--docs", s"$dir/pts",
        "--cols", "x")), spark))
  }

  test("dupspans runs from argv: maximal corpus-duplicated spans") {
    val dir = Files.createTempDirectory("graft-analyze-ds").toString
    Seq((1L, "p q r s t u"), (2L, "x p q r s y"), (3L, "a b c"))
      .toDF("doc_id", "text").write.parquet(s"$dir/docs")
    val spans = Analyze.run(parse(List("dupspans",
      "--docs", s"$dir/docs", "--shingle-size", "3",
      "--min-count", "2", "-o", s"$dir/out")), spark)
      .collect().map(r => (r.getLong(0), r.getString(5))).toSet
    // "p q r s" appears in docs 1 and 2 (two duplicated 3-gram
    // windows merging into one maximal span per doc)
    assert(spans == Set((1L, "p q r s"), (2L, "p q r s")))
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("dupspans")), spark))
    // omitted --min-count falls back to the documented default 2 ...
    val dflt = Analyze.run(parse(List("dupspans",
      "--docs", s"$dir/docs", "--shingle-size", "3")), spark)
      .collect().map(r => (r.getLong(0), r.getString(5))).toSet
    assert(dflt == Set((1L, "p q r s"), (2L, "p q r s")))
    // ... but an EXPLICIT --min-count 1 is not silently clamped — it
    // reaches the operator's require and fails loudly
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("dupspans", "--docs", s"$dir/docs",
        "--shingle-size", "3", "--min-count", "1")), spark))
  }

  test("scrubspans runs from argv: keepone keeps the canonical " +
      "occurrence, all scrubs every copy") {
    val dir = Files.createTempDirectory("graft-analyze-ss").toString
    Seq((1L, "p q r s t u"), (2L, "x p q r s y"), (3L, "a b c"))
      .toDF("doc_id", "text").write.parquet(s"$dir/docs")
    def clean(mode: String): Map[Long, String] =
      Analyze.run(parse(List("scrubspans", "--docs", s"$dir/docs",
        "--shingle-size", "3", "--mode", mode)), spark)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val keepone = clean("keepone")
    assert(keepone(1L) == "p q r s t u" && keepone(2L) == "x y",
      "keeper (doc 1, earliest) keeps; the doc-2 copy scrubs")
    val all = clean("all")
    assert(!all.values.mkString(" | ").contains("p q r"),
      "--mode all removes every copy (the destructive twin)")
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("scrubspans")), spark))
  }

  test("autotune runs from argv: winner banding on every row, pairs " +
      "at the chosen setting") {
    val dir = Files.createTempDirectory("graft-analyze-at").toString
    val base = "the quick brown fox jumps over the lazy dog again and"
    Seq((1L, base), (2L, base), (3L, base + " more"),
      (4L, "completely different content with no shared trigrams"))
      .toDF("doc_id", "text").write.parquet(s"$dir/docs")
    val rows = Analyze.run(parse(List("autotune",
      "--docs", s"$dir/docs", "--cols", "2,4,8",
      "--budget", "1000000", "--threshold", "0.2")), spark).collect()
    assert(rows.nonEmpty && rows.map(_.getLong(0)).distinct.length == 1,
      "one winning bands value on every row")
    assert(rows.exists(r => r.getLong(1) == 1L && r.getLong(2) == 2L),
      "the exact twins surface as a pair")
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("autotune", "--docs", s"$dir/docs")),
        spark))
  }

  test("momentsmaint runs from argv") {
    val dir = Files.createTempDirectory("graft-analyze-mm").toString
    // maintained moments ≡ one-shot over the effective corpus
    def vec(i: Long): Seq[Float] =
      (0 until 4).map(d => ((i * 7 + d * 3) % 11).toFloat / 11f)
    (0L until 6L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
      .write.parquet(s"$dir/vecs")
    (6L until 8L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
      .write.parquet(s"$dir/adds")
    (0L until 2L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
      .write.parquet(s"$dir/rems")
    val mm = Analyze.run(parse(List("momentsmaint",
      "--vectors", s"$dir/vecs", "--delta", s"$dir/adds",
      "--target", s"$dir/rems", "--id-col", "vec_id")), spark)
      .select("i", "j", "n", "s_i", "s_j", "sp").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    val eff = (2L until 8L).map(i => (i, vec(i)))
      .toDF("vec_id", "embedding")
    val oneShot = graft.operators.Similarity
      .pcaMoments(eff, "embedding").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(mm == oneShot)
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("momentsmaint")), spark))
  }

  test("rankmaint builds cold then warm-starts off the store's own " +
      "damping from argv") {
    val dir = Files.createTempDirectory("graft-analyze-rm").toString
    Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 0L))
      .toDF("start_id", "end_id").write.parquet(s"$dir/edges")
    val cold = Analyze.run(parse(List("rankmaint",
      "--docs", s"$dir/edges", "--target", s"$dir/rs",
      "--threshold", "0.5", "--budget", "10")), spark)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expCold = graft.operators.GraphOps.pageRank(
      spark.read.parquet(s"$dir/edges"), 0.5, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(cold.keySet == expCold.keySet &&
      cold.forall { case (k, v) => math.abs(v - expCold(k)) < 1e-12 })
    // grow the graph; the second run warm-starts off the store
    Seq((4L, 0L)).toDF("start_id", "end_id")
      .write.mode("append").parquet(s"$dir/edges")
    val warm = Analyze.run(parse(List("rankmaint",
      "--docs", s"$dir/edges", "--target", s"$dir/rs")), spark)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(warm.contains(4L) && math.abs(warm.values.sum - 1.0) < 1e-9)
    assert(graft.operators.GraphOps
      .loadRankStore(spark, s"$dir/rs").version == 2L)
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("rankmaint")), spark))
  }

  test("layoutversions runs the snapshot/report/vacuum/recover " +
      "lifecycle from argv") {
    val dir = Files.createTempDirectory("graft-analyze-lv").toString
    val base = (for { x <- 0L until 8L; y <- 0L until 8L }
      yield (x * 8 + y, x, y)).toDF("id", "x", "y")
    graft.operators.Layout.writeLayout(
      graft.operators.Layout.zOrderLayout(base, Seq("x", "y"), 3, 8),
      s"$dir/store", Seq("x", "y"), "z", 3, 8)
    // the build commits snapshot v1, an erasure publishes v2
    graft.operators.Layout.deleteFromLayout(spark,
      s"$dir/store", Seq(0L, 1L).toDF("id"), "id"): Unit
    val rep = Analyze.run(parse(List("layoutversions",
      "--docs", s"$dir/store")), spark).orderBy("version").collect()
    assert(rep.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(rep.head.getLong(2) == 64L && rep.last.getLong(2) == 62L)
    val vac = Analyze.run(parse(List("layoutversions",
      "--docs", s"$dir/store", "--mode", "vacuum",
      "--budget", "1")), spark).head()
    assert(vac.getAs[Long]("versions_dropped") == 1L)
    val rec = Analyze.run(parse(List("layoutversions",
      "--docs", s"$dir/store", "--mode", "recover")), spark).head()
    assert(rec.getString(0) == "recovered" && rec.getLong(1) == 2L)
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("layoutversions")), spark))
  }

  test("layoutversions --mode vacuum without --budget keeps one version") {
    import graft.operators.Layout
    val dir = Files.createTempDirectory("graft-analyze-lvd").toString
    val base = (for { x <- 0L until 8L; y <- 0L until 8L }
      yield (x * 8 + y, x, y)).toDF("id", "x", "y")
    Layout.writeLayout(Layout.zOrderLayout(base, Seq("x", "y"), 3, 8),
      s"$dir/store", Seq("x", "y"), "z", 3, 8)
    // v1 is the build; two erasures publish v2 and v3
    Layout.deleteFromLayout(spark, s"$dir/store", Seq(0L).toDF("id"),
      "id"): Unit
    Layout.deleteFromLayout(spark, s"$dir/store", Seq(1L).toDF("id"),
      "id"): Unit
    val vac = Analyze.run(parse(List("layoutversions",
      "--docs", s"$dir/store", "--mode", "vacuum")), spark).head()
    assert(vac.getAs[Long]("versions_dropped") == 2L)
    assert(Layout.snapshots(spark, s"$dir/store").map(_.n) == Seq(3L))
    assert(Layout.readLayoutVersion(spark, s"$dir/store").count() == 62L)
  }

  test("tokenbatch + autorebatch run from argv: budgeted batches, " +
      "padding audit, measured-argmin report") {
    val dir = Files.createTempDirectory("graft-analyze-tb").toString
    (0L until 50L).map(i => (i, "w " * (1 + (i % 9)).toInt))
      .toDF("doc_id", "text").write.parquet(s"$dir/docs")
    val b = Analyze.run(parse(List("tokenbatch",
      "--docs", s"$dir/docs", "--budget", "40")), spark)
    assert(b.columns.contains("batch_id") && b.count() == 50L)
    val waste = Analyze.run(parse(List("tokenbatch",
      "--docs", s"$dir/docs", "--budget", "40", "--mode", "waste",
      "-o", s"$dir/out")), spark).collect()
    assert(waste.forall { r =>
      r.getAs[Long]("n_rows") * r.getAs[Long]("max_len") <= 40L ||
        r.getAs[Long]("n_rows") == 1L })
    val rep = Analyze.run(parse(List("autorebatch",
      "--docs", s"$dir/docs", "--budget", "40", "--cols", "2,8,64",
      "-o", s"$dir/out2")), spark).collect()
    assert(rep.length == 3 &&
      rep.count(_.getAs[Long]("chosen") == 1L) == 1)
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("autorebatch", "--docs", s"$dir/docs")),
        spark))
  }

  test("opqrotate runs from argv: rotated vectors preserve pairwise L2") {
    val dir = Files.createTempDirectory("graft-analyze-opq").toString
    val pts = (0L until 24L).map(i => (i,
      Seq.tabulate(8)(d => ((i * 31 + d * 7) % 11 - 5).toFloat)))
    pts.toDF("vec_id", "embedding").write.parquet(s"$dir/vecs")
    val rot = Analyze.run(parse(List("opqrotate",
      "--vectors", s"$dir/vecs", "--id-col", "vec_id",
      "-o", s"$dir/out")), spark)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def l2(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (p, q) => (p - q).toDouble * (p - q) }.sum
    val arr = pts.toMap
    for (a <- 0L until 5L; b2 <- (a + 1) to 5L) {
      val raw = l2(arr(a), arr(b2)); val rr = l2(rot(a), rot(b2))
      assert(math.abs(raw - rr) <= 1e-3 * (raw + 1.0))
    }
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("opqrotate")), spark))
  }

  test("wordmaint runs from argv: merges off the maintained store " +
      "equal fresh training on the post-change corpus") {
    val dir = Files.createTempDirectory("graft-analyze-wm").toString
    Seq((1L, "ab ab cd"), (2L, "ab ef"), (3L, "cd cd gh"))
      .toDF("doc_id", "text").write.parquet(s"$dir/docs")
    Seq((4L, "ij ab")).toDF("doc_id", "text")
      .write.parquet(s"$dir/adds")
    Seq((3L, "cd cd gh")).toDF("doc_id", "text")
      .write.parquet(s"$dir/rems")
    val served = Analyze.run(parse(List("wordmaint",
      "--docs", s"$dir/docs", "--delta", s"$dir/adds",
      "--target", s"$dir/rems", "--merges", "3",
      "-o", s"$dir/out")), spark)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2), r.getLong(3))).toSeq.sortBy(_._1)
    val (fresh, _) = graft.operators.Tokenizer.bpeMerges(
      Seq((1L, "ab ab cd"), (2L, "ab ef"), (4L, "ij ab"))
        .toDF("doc_id", "text"), "text", 3)
    val exp = fresh.orderBy("merge_rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(served == exp)
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("wordmaint")), spark))
  }

  test("pca runs from argv: moments mode emits the exact model, " +
      "project mode the top-k projections") {
    val dir = Files.createTempDirectory("graft-analyze-pca").toString
    (0 until 20).map(t => (t.toLong,
      Seq((0.6 * t / 10.0).toFloat, (0.8 * t / 10.0).toFloat)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/vecs")
    val mom = Analyze.run(parse(List("pca",
      "--vectors", s"$dir/vecs", "--mode", "moments")), spark)
    assert(mom.count() == 3L) // (0,0), (0,1), (1,1)
    val proj = Analyze.run(parse(List("pca",
      "--vectors", s"$dir/vecs", "--id-col", "vec_id",
      "--merges", "1", "-o", s"$dir/out")), spark)
    assert(proj.count() == 20L &&
      proj.columns.toSet == Set("vec_id", "component", "y"))
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("pca")), spark))
  }

  test("scrub runs from argv: PII redacted, audit counts attached") {
    val dir = Files.createTempDirectory("graft-analyze-pii").toString
    Seq((1L, "reach me at jo@corp.example.com or (555) 123-4567"),
        (2L, "nothing sensitive here"))
      .toDF("doc_id", "text").write.parquet(s"$dir/docs")
    val out = Analyze.run(parse(List("scrub", "--docs", s"$dir/docs",
      "-o", s"$dir/out")), spark)
      .select("doc_id", "text_scrubbed", "n_emails", "n_phones")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(1L) == (("reach me at <EMAIL> or <PHONE>", 1, 1)))
    assert(out(2L) == (("nothing sensitive here", 0, 0)))
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("scrub")), spark))
  }

  test("score runs from argv against a weights parquet") {
    val dir = Files.createTempDirectory("graft-analyze-sc").toString
    Seq((1L, "alpha beta gamma"), (2L, "delta epsilon"))
      .toDF("doc_id", "text").write.parquet(s"$dir/docs")
    graft.operators.QualityModel.seededWeights(spark, 64)
      .write.parquet(s"$dir/weights")
    val out = Analyze.run(parse(List("score", "--docs", s"$dir/docs",
      "--weights", s"$dir/weights", "--dim", "64",
      "-o", s"$dir/out")), spark)
    assert(out.columns.toSeq ==
      Seq("doc_id", "score", "n_tokens", "p_keep"))
    val rows = spark.read.parquet(s"$dir/out/score")
    assert(rows.count() == 2)
    assert(rows.filter(col("p_keep") <= 0 || col("p_keep") >= 1).count() == 0)
  }

  test("walks runs from argv: trajectories start at seeds and follow edges") {
    val dir = writeEdges()
    Analyze.run(parse(List("walks", "--edges", s"$dir/edges",
      "--seeds", "0,4", "--walk-length", "3", "-o", s"$dir/ow")), spark)
    val rows = spark.read.parquet(s"$dir/ow/walks").collect()
      .map(r => (r.getAs[Long]("walk_id"), r.getAs[Long]("step"),
        r.getAs[Long]("node")))
    val byWalk = rows.groupBy(_._1)
    assert(byWalk.keySet == Set(0L, 4L))
    // step 0 is the seed; the 4↔5 cycle walk never dies (full length)
    assert(rows.contains((0L, 0L, 0L)) && rows.contains((4L, 0L, 4L)))
    assert(byWalk(4L).length == 4) // steps 0..3
    val adj = Map(0L -> Set(1L, 2L), 1L -> Set(2L), 2L -> Set(3L),
      4L -> Set(5L), 5L -> Set(4L))
    byWalk.values.foreach { w =>
      w.sortBy(_._2).sliding(2).foreach {
        case Array((_, _, u), (_, _, v)) => assert(adj(u).contains(v))
        case _ => ()
      }
    }
  }

  test("semdedup runs from argv over a vectors parquet") {
    val dir = Files.createTempDirectory("graft-analyze-sem").toString
    Seq((1L, Array(1f, 0f)), (2L, Array(1f, 0.001f)), (3L, Array(0f, 1f)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/vecs")
    Analyze.run(parse(List("semdedup", "--vectors", s"$dir/vecs",
      "--threshold", "0.99", "--cells", "1", "-o", s"$dir/os")), spark)
    val out = spark.read.parquet(s"$dir/os/semdedup").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out == Map(1L -> ((1L, "kept")), 2L -> ((1L, "semantic")),
      3L -> ((3L, "kept"))))
  }

  test("hits, mis, and node2vec run from argv over the edges parquet") {
    val dir = writeEdges()
    val h = Analyze.run(parse(List("hits", "--edges", s"$dir/edges",
      "--iterations", "3")), spark)
    assert(math.abs(h.agg(sum("hub")).head().getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(h.agg(sum("auth")).head().getDouble(0) - 1.0) < 1e-12)
    val m = Analyze.run(parse(List("mis", "--edges", s"$dir/edges")), spark)
      .collect().map(_.getLong(0)).toSet
    // valid MIS over {0-1,1-2,2-3,4-5,0-2 undirected}: no adjacent pair
    val und = Set((0L, 1L), (1L, 2L), (2L, 3L), (4L, 5L), (0L, 2L))
    assert(und.forall { case (a, b) => !(m(a) && m(b)) })
    assert(m.nonEmpty)
    val w = Analyze.run(parse(List("node2vec", "--edges", s"$dir/edges",
      "--seeds", "4", "--walk-length", "3", "--return-weight", "9")), spark)
      .orderBy("step").collect().map(_.getAs[Long]("node")).toSeq
    assert(w == Seq(4L, 5L, 4L, 5L)) // 4↔5 cycle: only path regardless
  }

  test("resample and dsir run from argv over docs parquet") {
    val dir = Files.createTempDirectory("graft-analyze-rs").toString
    Seq(("a", 100L, 10.0), ("a", 7300L, 40.0))
      .toDF("m", "es", "v").write.parquet(s"$dir/ts")
    val li = Analyze.run(parse(List("resample", "--docs", s"$dir/ts",
      "--entity-col", "m", "--ts-col", "es", "--value-col", "v",
      "--mode", "interp")), spark)
      .orderBy("bucket_ts").collect().map(_.getDouble(4)).toSeq
    assert(li == Seq(10.0, 25.0, 40.0)) // lerp through the 3600 gap
    val docs = (Seq(1L -> ("alpha beta " * 30), 2L -> ("alpha beta " * 30))
      ++ (3L to 8L).map(d => d -> (s"noise${d}a noise${d}b " * 30)))
      .toDF("doc_id", "text")
    docs.write.parquet(s"$dir/docs")
    Seq(Tuple1(1L)).toDF("doc_id").write.parquet(s"$dir/tgt")
    val top = Analyze.run(parse(List("dsir", "--docs", s"$dir/docs",
      "--target", s"$dir/tgt", "--top-k", "2", "--dim", "32")), spark)
      .collect().map(_.getLong(0)).toSet
    assert(top == Set(1L, 2L)) // the two target-vocabulary docs win
  }

  test("bpe, cusum, seasonal, and topics run from argv") {
    val dir = Files.createTempDirectory("graft-analyze-nx").toString
    Seq((1L, "ab ab"), (2L, "ab abc")).toDF("doc_id", "text")
      .write.parquet(s"$dir/docs")
    val m = Analyze.run(parse(List("bpe", "--docs", s"$dir/docs",
      "--merges", "2")), spark)
      .orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2)))
    assert(m.toSeq == Seq(("a", "b"), ("ab", "</w>")))

    // unigram: EM-trained piece vocab from argv; reused pieces priced
    val uni = Analyze.run(parse(List("unigram", "--docs", s"$dir/docs",
      "--iterations", "2", "--top-k", "8")), spark)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(uni.contains("ab") && uni("ab") > uni("c"))
    // codeextract: the fence splits from argv
    Seq((1L, "p\n```py\nx=1\n```\nq")).toDF("doc_id", "text")
      .write.parquet(s"$dir/md")
    val ce = Analyze.run(parse(List("codeextract", "--docs",
      s"$dir/md")), spark)
      .select("n_fences", "code_text", "fence_langs").head()
    assert(ce.getLong(0) == 1L && ce.getString(1) == "x=1\n" &&
      ce.getString(2) == "py")
    // zipf: hand-counted alpha from argv (a:4, b:2 at f_min 2)
    Seq((1L, "a a b"), (2L, "a a b c")).toDF("doc_id", "text")
      .write.parquet(s"$dir/zipf")
    val z = Analyze.run(parse(List("zipf", "--docs", s"$dir/zipf",
      "--min-common", "2")), spark).head()
    assert(z.getLong(0) == 2L && z.getLong(1) == 2L &&
      !z.isNullAt(2))

    Seq(("a", 1L, 1L, 10L), ("a", 2L, 2L, 10L), ("a", 3L, 3L, 10L),
      ("a", 4L, 4L, 22L), ("a", 5L, 5L, 22L))
      .toDF("m", "es", "eid", "c").write.parquet(s"$dir/ts2")
    val flags = Analyze.run(parse(List("cusum", "--docs", s"$dir/ts2",
      "--entity-col", "m", "--ts-col", "es", "--id-col", "eid",
      "--value-col", "c", "--slack", "2", "--alarm", "10")), spark)
      .orderBy("es").collect().map(_.getBoolean(6)).toSeq
    assert(flags == Seq(false, false, false, false, true))

    val sd = Analyze.run(parse(List("seasonal", "--docs", s"$dir/ts2",
      "--entity-col", "m", "--ts-col", "es", "--id-col", "eid",
      "--value-col", "c", "--period", "2", "--half-window", "1")), spark)
      .orderBy("es").collect()
    assert(sd.length == 5 && sd(0).isNullAt(5) && !sd(1).isNullAt(5))

    // 2 well-separated embedding clusters with matching doc ids
    val vecs = Seq(1L -> Array(1f, 0f), 2L -> Array(0.9f, 0.1f),
      3L -> Array(0f, 1f), 4L -> Array(0.1f, 0.9f))
      .toDF("vec_id", "embedding")
    vecs.write.parquet(s"$dir/vecs")
    Seq((1L, "cat cat"), (2L, "cat"), (3L, "dog dog"), (4L, "dog"))
      .toDF("doc_id", "text").write.parquet(s"$dir/tdocs")
    val tp = Analyze.run(parse(List("topics", "--docs", s"$dir/tdocs",
      "--vectors", s"$dir/vecs", "--cells", "2", "--top-k", "1")), spark)
      .collect().map(r => r.getString(2)).toSet
    assert(tp == Set("cat", "dog"))
  }

  test("acf, funnel, holt, psi, keywords, and cooccur run from argv") {
    val dir = Files.createTempDirectory("graft-analyze-w4").toString
    (1L to 5L).map(i => ("a", i, i, i)).toDF("m", "es", "eid", "c")
      .write.parquet(s"$dir/ts")
    val acf = Analyze.run(parse(List("acf", "--docs", s"$dir/ts",
      "--entity-col", "m", "--ts-col", "es", "--id-col", "eid",
      "--value-col", "c", "--max-lag", "2")), spark)
      .orderBy("lag").collect().map(_.getDouble(3)).toSeq
    assert(acf == Seq(1.0, 1.0)) // linear ramp — exact

    Seq((1L, 10L, 1L, "a"), (1L, 20L, 2L, "b"), (2L, 5L, 3L, "b"))
      .toDF("user", "es", "eid", "etype").write.parquet(s"$dir/ev")
    val fu = Analyze.run(parse(List("funnel", "--docs", s"$dir/ev",
      "--entity-col", "user", "--ts-col", "es", "--id-col", "eid",
      "--type-col", "etype", "--stages", "a,b", "--window-sec", "100")),
      spark).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fu == Map(1L -> 2L)) // u2 never hit stage 'a'

    val ho = Analyze.run(parse(List("holt", "--docs", s"$dir/ts",
      "--entity-col", "m", "--ts-col", "es", "--id-col", "eid",
      "--value-col", "c", "--alpha", "1.0", "--beta", "0.0")), spark)
      .orderBy("es").collect()
    assert(ho.map(_.getDouble(4)).toSeq == (1 to 5).map(_.toDouble))

    Seq(1.0, 9.0).toDF("v").write.parquet(s"$dir/prev")
    Seq(1.0, 1.0).toDF("v").write.parquet(s"$dir/cur")
    val psi = Analyze.run(parse(List("psi", "--docs", s"$dir/prev",
      "--bench", s"$dir/cur", "--value-col", "v", "--bins", "2",
      "--lo", "0", "--hi", "10")), spark).orderBy("bin").collect()
    assert(psi.length == 2 && psi(0).getLong(1) == 1L &&
      psi(0).getLong(2) == 2L && psi(1).getDouble(5) > 0.0)

    Seq((1L, "cat cat mat"), (2L, "cat")).toDF("doc_id", "text")
      .write.parquet(s"$dir/kd")
    val kw = Analyze.run(parse(List("keywords", "--docs", s"$dir/kd",
      "--top-k", "1")), spark).orderBy("doc_id").collect()
      .map(_.getString(2)).toSeq
    assert(kw == Seq("cat", "cat"))

    Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L))
      .toDF("g", "i").write.parquet(s"$dir/facts")
    val co = Analyze.run(parse(List("cooccur", "--docs", s"$dir/facts",
      "--group-col", "g", "--item-col", "i", "--max-group-size", "5")),
      spark).collect()
    assert(co.length == 1 && co.head.getLong(2) == 2L)
  }

  test("period, zscore, hw, scd2, benford, and knppl run from argv") {
    val dir = Files.createTempDirectory("graft-analyze-w5").toString
    (1L to 6L).map(i => ("a", i, i, if (i % 2 == 1) 5L else -5L))
      .toDF("m", "es", "eid", "c").write.parquet(s"$dir/ts")
    val p = Analyze.run(parse(List("period", "--docs", s"$dir/ts",
      "--entity-col", "m", "--ts-col", "es", "--id-col", "eid",
      "--value-col", "c", "--max-lag", "3")), spark).collect()
    assert(p.length == 1 && p.head.getLong(1) == 2L)

    val z = Analyze.run(parse(List("zscore", "--docs", s"$dir/ts",
      "--entity-col", "m", "--ts-col", "es", "--id-col", "eid",
      "--value-col", "c", "--window-rows", "3")), spark)
      .orderBy("es").collect()
    assert(z(0).isNullAt(6) && !z(2).isNullAt(6))

    val hw = Analyze.run(parse(List("hw", "--docs", s"$dir/ts",
      "--entity-col", "m", "--ts-col", "es", "--id-col", "eid",
      "--value-col", "c", "--alpha", "0.5", "--beta", "0.3",
      "--gamma", "0.4", "--period", "2")), spark)
      .orderBy("es").collect()
    assert(hw.length == 6 && hw(0).getDouble(4) == 5.0) // l_1 = x_1

    Seq((1L, 1L, 1L, "A"), (1L, 2L, 2L, "B"), (1L, 3L, 3L, "B"))
      .toDF("k", "es", "eid", "st").write.parquet(s"$dir/log")
    val sc = Analyze.run(parse(List("scd2", "--docs", s"$dir/log",
      "--entity-col", "k", "--ts-col", "es", "--id-col", "eid",
      "--target", "st")), spark).orderBy("run_seq").collect()
    assert(sc.length == 2 && sc(0).getString(5) == "A" &&
      sc(1).getLong(4) == 2L)

    Seq(123L, 900L).toDF("v").write.parquet(s"$dir/amounts")
    val bf = Analyze.run(parse(List("benford", "--docs", s"$dir/amounts",
      "--value-col", "v")), spark).orderBy("digit").collect()
    assert(bf.length == 9 && bf(0).getLong(1) == 1L &&
      bf(8).getLong(1) == 1L)

    Seq((1L, "a b a b")).toDF("doc_id", "text")
      .write.parquet(s"$dir/docs")
    val kn = Analyze.run(parse(List("knppl", "--docs", s"$dir/docs")),
      spark).collect()
    assert(kn.length == 1 && kn.head.getLong(1) == 3L)
  }

  test("ks, chi2, winsorize, and ccf run from argv") {
    val dir = Files.createTempDirectory("graft-analyze-w6").toString
    Seq(1.0, 2.0, 3.0).toDF("v").write.parquet(s"$dir/p")
    Seq(3.0, 4.0, 5.0).toDF("v").write.parquet(s"$dir/c")
    val ks = Analyze.run(parse(List("ks", "--docs", s"$dir/p",
      "--bench", s"$dir/c", "--value-col", "v")), spark).head()
    assert(ks.getDouble(2) == 6.0 / 9.0)

    Seq(("A", "X"), ("A", "Y"), ("B", "X")).toDF("a", "b")
      .write.parquet(s"$dir/cat")
    val c2 = Analyze.run(parse(List("chi2", "--docs", s"$dir/cat",
      "--group-col", "a", "--item-col", "b")), spark).collect()
    assert(c2.length == 3)

    (1 to 10).map(_.toDouble).toDF("v").write.parquet(s"$dir/w")
    val wz = Analyze.run(parse(List("winsorize", "--docs", s"$dir/w",
      "--value-col", "v", "--lo", "0.1", "--hi", "0.9")), spark)
      .agg(max("v_w"), min("v_w")).head()
    assert(wz.getDouble(0) == 9.1 && wz.getDouble(1) == 1.9)

    ((0L to 5L).map(t => ("u", t, "A", (t + 1).toDouble)) ++
      (1L to 6L).map(t => ("u", t, "B", t.toDouble)))
      .toDF("m", "es", "etype", "v").write.parquet(s"$dir/ccf")
    val cc = Analyze.run(parse(List("ccf", "--docs", s"$dir/ccf",
      "--entity-col", "m", "--ts-col", "es", "--value-col", "v",
      "--type-col", "etype", "--stages", "A,B", "--interval", "1",
      "--max-lag", "1")), spark).collect()
      .map(r => r.getLong(1) -> r.getDouble(3)).toMap
    assert(cc(1L) == 1.0)
  }

  test("modularity, powerlaw, cohort, gini, and readability run from argv") {
    val dir = Files.createTempDirectory("graft-analyze-w7").toString
    // two disjoint triangles: LPA-in-line and stored-partition paths
    Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L), (4L, 5L), (5L, 3L))
      .toDF("start_id", "end_id").write.parquet(s"$dir/edges")
    Seq((0L, 9L), (1L, 9L), (2L, 9L), (3L, 8L), (4L, 8L), (5L, 8L))
      .toDF("id", "community").write.parquet(s"$dir/comm")
    val q = Analyze.run(parse(List("modularity", "--edges", s"$dir/edges",
      "--target", s"$dir/comm")), spark).collect()
    assert(q.map(_.getDouble(4)).toSeq == Seq(0.25, 0.25))
    val qInline = Analyze.run(parse(List("modularity", "--edges",
      s"$dir/edges", "--iterations", "2")), spark)
      .agg(sum("q_c")).head().getDouble(0)
    assert(qInline == 0.5) // LPA finds the triangles themselves

    val pl = Analyze.run(parse(List("powerlaw", "--edges", s"$dir/edges")),
      spark).head()
    assert(pl.getLong(0) == 6L && pl.getDouble(2) > 1.0)

    Seq((1L, 0L), (1L, 86400L), (2L, 10L)).toDF("u", "es")
      .write.parquet(s"$dir/ev")
    val coh = Analyze.run(parse(List("cohort", "--docs", s"$dir/ev",
      "--entity-col", "u", "--ts-col", "es", "--interval", "86400")), spark)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(coh == Map((0L, 0L) -> 2L, (0L, 1L) -> 1L))

    Seq(0L, 0L, 10L).toDF("v").write.parquet(s"$dir/g")
    val gi = Analyze.run(parse(List("gini", "--docs", s"$dir/g",
      "--value-col", "v")), spark).head()
    assert(gi.getDouble(2) == 2.0 / 3.0)

    Seq((1L, "The cat sat. It ran!")).toDF("doc_id", "text")
      .write.parquet(s"$dir/docs")
    val re = Analyze.run(parse(List("readability", "--docs", s"$dir/docs")),
      spark).head()
    assert(re.getLong(1) == 5L && re.getLong(2) == 2L)
  }

  test("louvain, split, and quantiles run from argv") {
    val dir = Files.createTempDirectory("graft-analyze-w12").toString
    // bridged K3s: louvain must recover the two cliques
    Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
      .toDF("start_id", "end_id").write.parquet(s"$dir/edges")
    val lv = Analyze.run(parse(List("louvain", "--edges", s"$dir/edges",
      "--iterations", "4", "--coarse-rounds", "2")), spark)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(1L, 2L, 3L).map(lv).size == 1 &&
      Set(10L, 11L, 12L).map(lv).size == 1 &&
      lv(1L) != lv(10L))

    // leiden: same recovery (already-connected communities pass the
    // refinement untouched, labels re-keyed to min member ids)
    val ld = Analyze.run(parse(List("leiden", "--edges", s"$dir/edges",
      "--iterations", "4", "--coarse-rounds", "2")), spark)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ld == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))

    // incremental: an in-community delta against the stored leiden
    // labels is a fixpoint — and the flag gate fails loudly
    Seq((1L, 2L)).toDF("start_id", "end_id")
      .write.parquet(s"$dir/delta")
    ld.toSeq.toDF("id", "community").write.parquet(s"$dir/labels")
    val inc = Analyze.run(parse(List("incremental",
      "--edges", s"$dir/edges", "--delta", s"$dir/delta",
      "--target", s"$dir/labels", "--iterations", "4")), spark)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == ld)
    intercept[IllegalArgumentException](Analyze.run(parse(List(
      "incremental", "--edges", s"$dir/edges")), spark))

    (0L until 40L).map(i => (i, s"L${i % 2}")).toDF("doc_id", "lang")
      .write.parquet(s"$dir/docs2")
    val sp = Analyze.run(parse(List("split", "--docs", s"$dir/docs2",
      "--strata-col", "lang", "--val-k", "2", "--test-k", "3")), spark)
      .groupBy("lang", "split").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(sp == Map(("L0", "test") -> 3L, ("L0", "val") -> 2L,
      ("L0", "train") -> 15L, ("L1", "test") -> 3L, ("L1", "val") -> 2L,
      ("L1", "train") -> 15L))
    intercept[IllegalArgumentException](Analyze.run(parse(List("split",
      "--docs", s"$dir/docs2")), spark))

    // quantiles: 1,2,3,4 at k=1 → p50 bucket e1, lower bound 2
    Seq(1L, 2L, 3L, 4L).toDF("v").write.parquet(s"$dir/vals")
    val qn = Analyze.run(parse(List("quantiles", "--docs", s"$dir/vals",
      "--value-col", "v", "--qs", "0.5", "--sub-buckets", "1")), spark)
      .head()
    assert(qn.getLong(0) == 500000L && qn.getLong(1) == 2L)
    intercept[IllegalArgumentException](Analyze.run(parse(List(
      "quantiles", "--docs", s"$dir/vals")), spark))

    // spearman: (1,2,3)→(30,10,20) permutation scores exactly −0.5
    Seq((1L, 30L), (2L, 10L), (3L, 20L)).toDF("a", "b")
      .write.parquet(s"$dir/xy")
    val sm = Analyze.run(parse(List("spearman", "--docs", s"$dir/xy",
      "--x-col", "a", "--y-col", "b")), spark).head()
    assert(sm.getLong(0) == 3L && sm.getDouble(1) == -0.5)
    // kendall on the same permutation: 1 concordant, 2 discordant
    val kd = Analyze.run(parse(List("kendall", "--docs", s"$dir/xy",
      "--x-col", "a", "--y-col", "b")), spark).head()
    assert(kd.getLong(0) == 3L && kd.getLong(1) == 1L &&
      kd.getLong(2) == 2L && kd.getDouble(3) == -1.0 / 3.0)
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("kendall", "--docs", s"$dir/xy")), spark))
  }

  test("trend, theilsen, rfm, sessions, attribution, assoc, skyline, " +
      "corr, welch, and mannwhitney run from argv") {
    val dir = Files.createTempDirectory("graft-analyze-w8").toString
    // exact line y = 7 + 3x on day offsets
    (0L to 4L).map(i => ("e", i * 86400L, 7L + 3L * i))
      .toDF("u", "es", "v").write.parquet(s"$dir/line")
    val tr = Analyze.run(parse(List("trend", "--docs", s"$dir/line",
      "--entity-col", "u", "--ts-col", "es", "--value-col", "v")),
      spark).head()
    assert(tr.getDouble(2) == 3.0 && tr.getDouble(3) == 7.0)
    val ts = Analyze.run(parse(List("theilsen", "--docs", s"$dir/line",
      "--entity-col", "u", "--ts-col", "es", "--value-col", "v")),
      spark).head()
    assert(ts.getDouble(3) == 3.0 && ts.getDouble(4) == 7.0)

    Seq(("c1", 100L, 10L), ("c2", 200L, 20L)).toDF("c", "es", "amt")
      .write.parquet(s"$dir/orders")
    val rf = Analyze.run(parse(List("rfm", "--docs", s"$dir/orders",
      "--entity-col", "c", "--ts-col", "es", "--value-col", "amt",
      "--tiles", "2")), spark)
      .collect().map(r => r.getString(0) -> r.getLong(7)).toMap
    // both customers order once — the frequency tie shares band 1
    assert(rf == Map("c1" -> 111L, "c2" -> 212L))

    Seq((1L, 1L, 0L), (1L, 2L, 10L), (1L, 3L, 5000L))
      .toDF("u", "eid", "es").write.parquet(s"$dir/sess")
    val se = Analyze.run(parse(List("sessions", "--docs", s"$dir/sess",
      "--entity-col", "u", "--ts-col", "es", "--id-col", "eid",
      "--interval", "3600")), spark).collect()
    assert(se.length == 2)

    Seq((1L, 1L, 100L, "view"), (1L, 2L, 150L, "purchase"))
      .toDF("u", "eid", "es", "tp").write.parquet(s"$dir/attr")
    val at = Analyze.run(parse(List("attribution", "--docs",
      s"$dir/attr", "--entity-col", "u", "--ts-col", "es", "--id-col",
      "eid", "--type-col", "tp", "--stages", "purchase,view,click",
      "--window-sec", "1000")), spark).head()
    assert(at.getLong(1) == 2L && at.getLong(4) == 1L)

    Seq((1L, "A"), (1L, "B"), (2L, "A"), (2L, "B")).toDF("g", "i")
      .write.parquet(s"$dir/facts")
    val ar = Analyze.run(parse(List("assoc", "--docs", s"$dir/facts",
      "--group-col", "g", "--item-col", "i", "--max-group-size", "5")),
      spark).collect()
    assert(ar.length == 2 && ar.forall(_.getDouble(7) == 1.0))

    Seq((1L, 5L, "a"), (2L, 3L, "b"), (3L, 4L, "c")).toDF("x", "y", "t")
      .write.parquet(s"$dir/sky")
    val sk = Analyze.run(parse(List("skyline", "--docs", s"$dir/sky",
      "--x-col", "x", "--y-col", "y")), spark)
      .collect().map(_.getString(2)).toSet
    assert(sk == Set("a", "b"))

    (1L to 5L).map(i => (i, 2 * i)).toDF("p", "q")
      .write.parquet(s"$dir/num")
    val co = Analyze.run(parse(List("corr", "--docs", s"$dir/num",
      "--target", "p,q")), spark).head()
    assert(co.getDouble(3) == 1.0)

    Seq(1L, 2L, 3L).toDF("v").write.parquet(s"$dir/prev")
    Seq(4L, 5L, 6L).toDF("v").write.parquet(s"$dir/cur")
    val we = Analyze.run(parse(List("welch", "--docs", s"$dir/prev",
      "--bench", s"$dir/cur", "--value-col", "v")), spark).head()
    assert(we.getLong(0) == 3L && we.getLong(1) == 3L)
    val mw = Analyze.run(parse(List("mannwhitney", "--docs",
      s"$dir/prev", "--bench", s"$dir/cur", "--value-col", "v")),
      spark).head()
    assert(mw.getLong(0) == 3L && mw.getLong(1) == 3L)
  }

  test("anomaly, interarrival, entropy, and negatives run from argv") {
    val dir = Files.createTempDirectory("graft-analyze-w9").toString
    (0L to 8L).map(i => ("e", i, i, if (i == 4L) 90L else 10L))
      .toDF("u", "es", "eid", "v").write.parquet(s"$dir/ts")
    val an = Analyze.run(parse(List("anomaly", "--docs", s"$dir/ts",
      "--entity-col", "u", "--ts-col", "es", "--id-col", "eid",
      "--value-col", "v", "--period", "2", "--half-window", "1",
      "--z-threshold", "1.5")), spark).collect()
    assert(an.length == 7 && an.exists(_.getBoolean(6)))
    val ia = Analyze.run(parse(List("interarrival", "--docs",
      s"$dir/ts", "--entity-col", "u", "--ts-col", "es", "--id-col",
      "eid")), spark).head()
    assert(ia.getLong(1) == 8L && ia.getDouble(2) == 1.0)
    Seq(("g", "x"), ("g", "x"), ("g", "y"), ("g", "y")).toDF("s", "l")
      .write.parquet(s"$dir/cat2")
    val en = Analyze.run(parse(List("entropy", "--docs", s"$dir/cat2",
      "--group-col", "s", "--value-col", "l")), spark).head()
    assert(en.getLong(1) == 4L && math.abs(en.getDouble(3) - 1.0) < 1e-8)
    (0L to 9L).map(i => (i, s"d$i")).toDF("doc_id", "text")
      .write.parquet(s"$dir/docs2")
    val ng = Analyze.run(parse(List("negatives", "--docs",
      s"$dir/docs2", "--top-k", "2")), spark).collect()
    assert(ng.nonEmpty && ng.forall(r => r.getLong(0) != r.getLong(2)))
  }

  test("sequences, transitions, outliers, and skew run from argv") {
    val dir = Files.createTempDirectory("graft-analyze-w10").toString
    Seq((1L, 1L, 10L, "a"), (1L, 2L, 20L, "b"), (1L, 3L, 30L, "a"))
      .toDF("u", "eid", "es", "tp").write.parquet(s"$dir/ev")
    val sq = Analyze.run(parse(List("sequences", "--docs", s"$dir/ev",
      "--entity-col", "u", "--ts-col", "es", "--id-col", "eid",
      "--type-col", "tp", "--n", "2")), spark).collect()
    assert(sq.map(_.getString(0)).toSet == Set("a>b", "b>a"))
    val tr = Analyze.run(parse(List("transitions", "--docs", s"$dir/ev",
      "--entity-col", "u", "--ts-col", "es", "--id-col", "eid",
      "--type-col", "tp")), spark).collect()
    assert(tr.length == 2 && tr.forall(_.getDouble(3) == 1.0))
    (Seq.fill(9)(10.0) ++ Seq(1000.0)).toDF("v")
      .write.parquet(s"$dir/vals")
    for (mode <- Seq("iqr", "z", "mad")) {
      val o = Analyze.run(parse(List("outliers", "--docs",
        s"$dir/vals", "--value-col", "v", "--mode", mode)), spark)
      assert(o.columns.contains("is_outlier"), mode)
    }
    // hbos: comma-list features, explicit threshold wins the flip
    Seq.fill(9)((10.0, 10.0)).padTo(10, (1000.0, 1000.0))
      .toDF("a", "b").write.parquet(s"$dir/vals2")
    val hb = Analyze.run(parse(List("outliers", "--docs", s"$dir/vals2",
      "--value-col", "a,b", "--mode", "hbos", "--threshold", "80")),
      spark)
    assert(hb.filter(col("is_outlier")).count() == 1)
    // an EXPLICIT --threshold 0.95 must be honored, not silently
    // remapped to the hbos default (every hbos score ≥ 1 → all flagged)
    val hb95 = Analyze.run(parse(List("outliers", "--docs", s"$dir/vals2",
      "--value-col", "a,b", "--mode", "hbos", "--threshold", "0.95")),
      spark)
    assert(hb95.filter(col("is_outlier")).count() == 10)
    // unset flag still takes the operator's 1e4 (only the rare row's
    // 81·81 score would need to beat it — nothing does here)
    val hbDef = Analyze.run(parse(List("outliers", "--docs",
      s"$dir/vals2", "--value-col", "a,b", "--mode", "hbos")), spark)
    assert(hbDef.filter(col("is_outlier")).count() == 0)
    Seq.fill(5)("hot").padTo(6, "cold").toDF("k")
      .write.parquet(s"$dir/keys")
    val sk = Analyze.run(parse(List("skew", "--docs", s"$dir/keys",
      "--group-col", "k")), spark).head()
    assert(sk.getLong(0) == 6L && sk.getLong(2) == 5L)
  }

  test("shuffle, pack, and the ann index lifecycle run from argv") {
    val dir = Files.createTempDirectory("graft-analyze-w13").toString
    (0L until 20L).map(i => (i, 100L + i)).toDF("doc_id", "n_tok")
      .write.parquet(s"$dir/docs")
    // shuffle: dense permutation; multi-epoch doubles the rows with a
    // dense permutation per epoch
    val sh = Analyze.run(parse(List("shuffle", "--docs", s"$dir/docs")),
      spark).collect()
    assert(sh.map(_.getAs[Long]("pos")).sorted.toSeq == (0L until 20L))
    val sh2 = Analyze.run(parse(List("shuffle", "--docs", s"$dir/docs",
      "--epochs", "2")), spark)
    assert(sh2.count() == 40)
    assert(sh2.groupBy("epoch").count().collect()
      .forall(_.getLong(1) == 20L))
    // pack: shuffle --epochs 2 | pack by epoch/pos — every row binned,
    // bins cut at the budget
    sh2.write.parquet(s"$dir/shuffled")
    val pk = Analyze.run(parse(List("pack", "--docs", s"$dir/shuffled",
      "--group-col", "epoch", "--id-col", "pos", "--value-col", "n_tok",
      "--budget", "500")), spark)
    assert(pk.count() == 40)
    assert(pk.agg(org.apache.spark.sql.functions.max("bin")).head()
      .getLong(0) >= 3) // 20 docs × ~110 tok / 500 ≈ 4+ bins per epoch
    intercept[IllegalArgumentException](Analyze.run(parse(List("pack",
      "--docs", s"$dir/shuffled")), spark))
    // ann lifecycle: build on half the vectors, update with the rest,
    // query the stored index — same frozen quantizers, so the result
    // equals the one-pass encode (the q_x3k claim, via argv)
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
    e.filter(col("vec_id") < 300).write.parquet(s"$dir/vec_base")
    e.filter(col("vec_id") >= 300).write.parquet(s"$dir/vec_delta")
    e.filter(col("vec_id") < 4).write.parquet(s"$dir/vec_q")
    val built = Analyze.run(parse(List("annbuild",
      "--vectors", s"$dir/vec_base", "--target", s"$dir/ix",
      "--cells", "8", "--pq-m", "8", "--pq-k", "8")), spark).head()
    assert(built.getLong(0) == 300L && built.getDouble(4) > 0)
    val upd = Analyze.run(parse(List("annupdate",
      "--vectors", s"$dir/vec_delta", "--target", s"$dir/ix")), spark)
      .head()
    assert(upd.getLong(0) == e.filter(col("vec_id") >= 300).count())
    assert(math.abs(upd.getDouble(3)) < 0.5) // in-distribution delta
    val hits = Analyze.run(parse(List("annquery",
      "--vectors", s"$dir/vec_q", "--target", s"$dir/ix",
      "--top-k", "5", "--probes", "3")), spark)
    val perQuery = hits.groupBy("query_id").count().collect()
    assert(perQuery.length == 4 && perQuery.forall(_.getLong(1) == 5L))
    // two-stage: --rerank widens the ADC stage to a C-deep shortlist
    // and re-scores exactly against the full-precision corpus
    val rr = Analyze.run(parse(List("annquery",
      "--vectors", s"$dir/vec_q", "--target", s"$dir/ix",
      "--top-k", "5", "--probes", "3",
      "--rerank", "25", "--corpus", sf() + "/embeddings.parquet")),
      spark)
    val rrPer = rr.groupBy("query_id").count().collect()
    assert(rrPer.length == 4 && rrPer.forall(_.getLong(1) == 5L))
    // exact cosines, descending per query (the ADC stage only prunes)
    val byQ = rr.select(col("query_id"), col("rank"), col("cosine"))
      .collect().groupBy(_.getLong(0))
    byQ.values.foreach { rows =>
      val cs = rows.sortBy(_.getInt(1)).map(_.getDouble(2))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
    intercept[IllegalArgumentException](Analyze.run(parse(List(
      "annquery", "--vectors", s"$dir/vec_q", "--target", s"$dir/ix",
      "--rerank", "25")), spark)) // --rerank without --corpus
    intercept[IllegalArgumentException](Analyze.run(parse(List(
      "annbuild", "--vectors", s"$dir/vec_base")), spark))
    // anncompact: fragmented update layout collapses, query-identical,
    // ledger-driven retrain verdict present
    val sorted = hits.select("query_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val rep = Analyze.run(parse(List("anncompact",
      "--target", s"$dir/ix")), spark).head()
    assert(rep.getLong(0) == e.count())
    assert(rep.getLong(2) < rep.getLong(1)) // files shrank
    assert(rep.getLong(4) == 1L) // one annupdate in the ledger
    assert(!rep.isNullAt(9)) // verdict is decidable (mean recorded)
    val hits2 = Analyze.run(parse(List("annquery",
      "--vectors", s"$dir/vec_q", "--target", s"$dir/ix",
      "--top-k", "5", "--probes", "3", "-o", s"$dir/h2")), spark)
      .select("query_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(hits2 == sorted)
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("anncompact")), spark))
    // anndelete: tombstoned ids leave the serving surface from argv
    val victim = sorted.head._2
    Seq(victim).toDF("vec_id").write.parquet(s"$dir/vec_dead")
    val drep = Analyze.run(parse(List("anndelete",
      "--vectors", s"$dir/vec_dead", "--target", s"$dir/ix",
      "--id-col", "vec_id")), spark).head()
    assert(drep.getLong(0) == 1L && drep.getLong(1) == 1L)
    val hits3 = Analyze.run(parse(List("annquery",
      "--vectors", s"$dir/vec_q", "--target", s"$dir/ix",
      "--top-k", "5", "--probes", "3")), spark)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!hits3.contains(victim))
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("anndelete", "--target", s"$dir/ix")),
        spark))
    // annretrain: quantizers rebuilt from the corpus, tombstone purged
    // physically, recall audit present in the report
    e.write.mode("overwrite").parquet(s"$dir/vec_all")
    val rrep = Analyze.run(parse(List("annretrain",
      "--target", s"$dir/ix", "--vectors", s"$dir/vec_all",
      "--vec-col", "embedding", "--id-col", "vec_id")), spark).head()
    assert(rrep.getLong(0) == e.count() - 1L) // the anndelete victim
    assert(rrep.getLong(1) == 1L)
    assert(rrep.getLong(5) > 0L) // exact baseline non-empty
    val hits4 = Analyze.run(parse(List("annquery",
      "--vectors", s"$dir/vec_q", "--target", s"$dir/ix",
      "--top-k", "5", "--probes", "3")), spark)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!hits4.contains(victim), "purged row must stay unservable")
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("annretrain", "--target", s"$dir/ix")),
        spark))
    // annmaint: the one-call policy. Fresh post-retrain ledger → null
    // verdict → the conservative branch compacts only
    val mrep = Analyze.run(parse(List("annmaint",
      "--target", s"$dir/ix", "--vectors", s"$dir/vec_all",
      "--vec-col", "embedding", "--id-col", "vec_id")), spark).head()
    assert(mrep.getString(0) == "compacted",
      "a ledgerless index must not retrain")
    assert(mrep.isNullAt(mrep.fieldIndex("cosine_drift")))
    // absorb a delta so the ledger has evidence, then force the
    // retrain branch from argv with a negative tolerance override
    val shifted = e.filter(col("vec_id") < 20)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    shifted.write.parquet(s"$dir/vec_shift")
    Analyze.run(parse(List("annupdate",
      "--vectors", s"$dir/vec_shift", "--target", s"$dir/ix")), spark)
      .write.format("noop").mode("overwrite").save()
    e.select("vec_id", "embedding").unionByName(shifted)
      .write.parquet(s"$dir/vec_all2")
    val mrep2 = Analyze.run(parse(List("annmaint",
      "--target", s"$dir/ix", "--vectors", s"$dir/vec_all2",
      "--vec-col", "embedding", "--id-col", "vec_id",
      "--threshold", "-1000000")), spark).head()
    assert(mrep2.getString(0) == "retrained",
      "the forced-negative tolerance must dispatch the retrain")
    assert(!mrep2.isNullAt(mrep2.fieldIndex("n_hits_after")))
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("annmaint", "--target", s"$dir/ix")),
        spark))
  }

  test("annbuild builds the way retrainIndex does: a retrain on the " +
      "same corpus commits v1 frames equal to v0's, meta included") {
    import graft.operators.{FrameVersions, Similarity}
    val dir = Files.createTempDirectory("graft-analyze-annbuild").toString
    spark.read.parquet(sf() + "/embeddings.parquet")
      .filter(col("vec_id") < 300).select("vec_id", "embedding")
      .write.parquet(s"$dir/vecs")
    Analyze.run(parse(List("annbuild", "--vectors", s"$dir/vecs",
      "--target", s"$dir/ix", "--cells", "8", "--pq-m", "8",
      "--pq-k", "8")), spark).write.format("noop").mode("overwrite").save()
    Similarity.retrainIndex(spark, s"$dir/ix",
      spark.read.parquet(s"$dir/vecs"), "embedding", "vec_id").collect()
    val v1 = FrameVersions.latest(spark, s"$dir/ix")
    val v0 = v1.copy(n = 0L)
    assert(v1.n == 1L)
    def rows(v: FrameVersions.Version, frame: String): Set[String] =
      v.read(frame).collect().map(_.toString).toSet
    Seq("centroids", "codebooks", "vectors", "meta").foreach { f =>
      assert(rows(v1, f) == rows(v0, f), s"frame $f")
    }
    assert(!v0.read("meta").head().isNullAt(3),
      "annbuild records the assignment-cosine σ")
  }

  test("anneras runs the version lifecycle from argv: annretrain " +
      "commits versions, report, vacuum purges old versions and the " +
      "root, recover") {
    val dir = Files.createTempDirectory("graft-analyze-era").toString
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
    e.filter(col("vec_id") < 300).write.parquet(s"$dir/vec_base")
    e.select("vec_id", "embedding").write.parquet(s"$dir/vec_all")
    e.filter(col("vec_id") < 4).write.parquet(s"$dir/vec_q")
    Analyze.run(parse(List("annbuild",
      "--vectors", s"$dir/vec_base", "--target", s"$dir/ix",
      "--cells", "8", "--pq-m", "8", "--pq-k", "8")), spark)
      .write.format("noop").mode("overwrite").save()
    def hits(): Set[(Long, Long, Int)] =
      Analyze.run(parse(List("annquery",
        "--vectors", s"$dir/vec_q", "--target", s"$dir/ix",
        "--top-k", "5", "--probes", "8")), spark)
        .select("query_id", "vec_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def report() = Analyze.run(parse(List("anneras",
      "--docs", s"$dir/ix")), spark).head()
        .getAs[Long]("current_version")
    assert(hits().nonEmpty && report() == 0L,
      "a saved index is version 0")
    def retrain() = Analyze.run(parse(List("annretrain",
      "--target", s"$dir/ix", "--vectors", s"$dir/vec_all",
      "--vec-col", "embedding", "--id-col", "vec_id")), spark).head()
    assert(retrain().getAs[Long]("n_corpus") == e.count())
    val served = hits()
    assert(served.nonEmpty)
    retrain(): Unit
    assert(report() == 2L)
    assert(hits() == served, "retrain ≡ a fresh build, every version")
    val vac = Analyze.run(parse(List("anneras",
      "--docs", s"$dir/ix", "--mode", "vacuum")), spark).head()
    assert(vac.getAs[Long]("versions_dropped") == 1L &&
      vac.getAs[Long]("current_version") == 2L)
    assert(!new java.io.File(s"$dir/ix/meta").exists,
      "the saveIndex root frames went with v1")
    assert(hits() == served)
    val rec = Analyze.run(parse(List("anneras",
      "--docs", s"$dir/ix", "--mode", "recover")), spark).head()
    assert(rec.getString(0) == "recovered" && rec.getLong(1) == 2L)
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("anneras")), spark))
  }

  test("annquery honors the basis and codec identities: a rotated " +
      "index and a residual index serve via the CLI exactly like " +
      "serveTopK — never the raw backdoor") {
    import graft.operators.Similarity
    val dir = Files.createTempDirectory("graft-analyze-annid").toString
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
      .filter(col("vec_id") < 200)
    e.filter(col("vec_id") < 4).write.parquet(s"$dir/q")
    def served(ix: String): Set[(Long, Long, Int)] =
      Analyze.run(parse(List("annquery",
        "--vectors", s"$dir/q", "--target", ix,
        "--top-k", "5", "--probes", "3")), spark)
        .select("query_id", "vec_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def lib(ix: String): Set[(Long, Long, Int)] =
      Similarity.serveTopK(spark, ix, e.filter(col("vec_id") < 4),
          "embedding", "vec_id", topK = 5, nProbe = 3)
        .select("query_id", "vec_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // rotated store
    val stages = Similarity.givensCascadeFit(e, "embedding",
      Seq(32, 16, 8, 4, 2, 1))
    val rot = Similarity.givensCascadeRotate(e, "vec_id", "embedding",
      stages).localCheckpoint()
    val (cR, aR) = Similarity.ivfIndex(rot, "embedding", "vec_id", 8)
    val cbR = Similarity.pqCodebooks(rot, "embedding", "vec_id",
      m = 8, k = 8)
    val eR = Similarity.pqEncode(rot, "embedding", "vec_id", cbR, m = 8)
    Similarity.saveIndex(s"$dir/ixrot", cR, cbR,
      aR.select(col("centroid_id"), col("vec_id"))
        .join(eR, Seq("vec_id")), m = 8, k = 8, rotation = stages)
    assert(served(s"$dir/ixrot") == lib(s"$dir/ixrot"))
    // residual store
    val (cS, aS) = Similarity.ivfIndex(e, "embedding", "vec_id", 8)
    val cbS = Similarity.pqCodebooksResidual(e, "embedding", "vec_id",
      aS, cS, m = 8, k = 8)
    val eS = Similarity.pqEncodeResidual(e, "embedding", "vec_id",
      aS, cS, cbS, m = 8)
    Similarity.saveIndex(s"$dir/ixres", cS, cbS,
      aS.select(col("centroid_id"), col("vec_id"))
        .join(eS, Seq("vec_id")), m = 8, k = 8, residual = true)
    assert(served(s"$dir/ixres") == lib(s"$dir/ixres"))
  }

  test("incrdedup runs from argv: first call builds the identity-" +
      "carrying index, later calls increment off the stored identity") {
    val dir = Files.createTempDirectory("graft-analyze-id").toString
    Seq((10L, "the quick brown fox jumps over the lazy dog near the bank"),
      (11L, "completely different words about spark query engines here"))
      .toDF("doc_id", "text").write.parquet(s"$dir/corpus")
    Seq((20L, "the quick brown fox jumps over the lazy cat near the bank"),
      (24L, "unrelated text mentioning distributed storage and logs"))
      .toDF("doc_id", "text").write.parquet(s"$dir/batch")
    // build-only call (non-default seed — the identity that must ride)
    val built = Analyze.run(parse(List("incrdedup",
      "--docs", s"$dir/corpus", "--target", s"$dir/ix",
      "--hash-seed", "7")), spark).head()
    assert(built.getLong(0) == 2L && built.getLong(3) == 7L)
    // increment: NO seed passed — the store's identity governs
    val rep = Analyze.run(parse(List("incrdedup",
      "--docs", s"$dir/corpus", "--target", s"$dir/ix",
      "--delta", s"$dir/batch", "--threshold", "0.5")), spark)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(rep(20L) == "corpus" && rep(24L) == "kept")
    // the increment found the stored index: it kept seed 7 and
    // committed nothing (a missed probe would rebuild under seed 42)
    def stored() = (graft.operators.Dedup.loadSigIndex(spark,
      s"$dir/ix").seed, graft.operators.FrameVersions.current(spark,
      s"$dir/ix"))
    assert(stored() == ((7L, 1L)))
    // refresh: re-signs under the stored seed as the next version
    val refreshed = Analyze.run(parse(List("incrdedup",
      "--docs", s"$dir/corpus", "--target", s"$dir/ix")), spark).head()
    assert(refreshed.getLong(0) == 2L && refreshed.getLong(3) == 7L)
    assert(stored() == ((7L, 2L)))
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("incrdedup", "--docs", s"$dir/corpus")),
        spark))
  }

  test("topolevels and imagededup run from argv") {
    val dir = Files.createTempDirectory("graft-analyze-tl").toString
    // chain with a cycle head: {0,1} collapse, then 2 -> 3
    Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 3L))
      .toDF("start_id", "end_id").write.parquet(s"$dir/edges")
    val tl = Analyze.run(parse(List("topolevels", "--edges",
      s"$dir/edges")), spark)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tl == Map(0L -> 0L, 2L -> 1L, 3L -> 2L))
    // imagededup over synthesized pattern PNGs: 1~2 (Hamming 1), 3 far
    val base = 0x00FF00FF00FF00FFL
    import graft.operators.Multimodal
    Multimodal.synthesizeDhashPatternPngs(
      Seq((1L, base), (2L, base ^ 4L), (3L, ~base))
        .toDF("doc_id", "code"), "code", "payload")
      .select("doc_id", "payload").write.parquet(s"$dir/imgs")
    val pairs = Analyze.run(parse(List("imagededup", "--docs",
      s"$dir/imgs", "--max-hamming", "2")), spark)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 1)))
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("imagededup")), spark))
    // audiodedup over synthesized pattern WAVs: same shape as images
    Multimodal.synthesizeAudioPatternWavs(
      Seq((1L, base), (2L, base ^ 4L), (3L, ~base))
        .toDF("doc_id", "code"), "code", "payload")
      .select("doc_id", "payload").write.parquet(s"$dir/wavs")
    val apairs = Analyze.run(parse(List("audiodedup", "--docs",
      s"$dir/wavs", "--max-hamming", "2")), spark)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(apairs.toSeq == Seq((1L, 2L, 1)))
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("audiodedup")), spark))
    // videodedup: two videos sharing all coded frames pair at 0
    import graft.operators.Multimodal.encodeMp4WithSamples
    val fs = (0 until 64).map(i => s"f:$i".getBytes("UTF-8")).toArray
    Seq((1L, encodeMp4WithSamples(4, 4, 1000L, fs)),
      (2L, encodeMp4WithSamples(8, 8, 2000L, fs)),
      (3L, encodeMp4WithSamples(4, 4, 1000L,
        (0 until 64).map(i => s"z:$i".getBytes("UTF-8")).toArray)))
      .toDF("doc_id", "payload").write.parquet(s"$dir/vids")
    val vpairs = Analyze.run(parse(List("videodedup", "--docs",
      s"$dir/vids", "--max-hamming", "8")), spark)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(vpairs.toSeq == Seq((1L, 2L, 0)))
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("videodedup")), spark))
    // audiostats: quality struct over the same WAV fixtures
    val stats = Analyze.run(parse(List("audiostats", "--docs",
      s"$dir/wavs")), spark)
      .select(col("doc_id"), col("audio_q.n_samples"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stats == Map(1L -> 576L, 2L -> 576L, 3L -> 576L))
    // imagestats: the image-quality twin from argv — a solid and a
    // wrapping strip, verdicts pinned by hand
    Seq((1L, graft.operators.Multimodal.encodeGradientPng(3, 2, 200, 0, 0)),
      (2L, graft.operators.Multimodal.encodeGradientPng(4, 1, 250, 2, 0)))
      .toDF("doc_id", "payload").write.parquet(s"$dir/pngs")
    val iq = Analyze.run(parse(List("imagestats", "--docs",
      s"$dir/pngs")), spark)
      .select(col("doc_id"), col("image_q.n_modal"),
        col("image_q.n_over"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(iq == Map(1L -> ((6L, 0L)), 2L -> ((1L, 3L))))
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("imagestats")), spark))
    // videostats: sample-table quality verdicts from argv
    Seq((1L, graft.operators.Multimodal.encodeMp4WithSamples(320, 240,
        2000L, Array(Array.fill(5)(1.toByte), Array.fill(7)(2.toByte)))))
      .toDF("doc_id", "payload").write.parquet(s"$dir/mp4s")
    val vq = Analyze.run(parse(List("videostats", "--docs",
      s"$dir/mp4s")), spark)
      .select(col("doc_id"), col("video_q.media_bytes"),
        col("video_q.bitrate_bps"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(vq.toSeq == Seq((1L, 12L, 48L)))
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("videostats")), spark))
    // exifstats: header triage verdicts from argv
    Seq((1L, graft.operators.Multimodal.encodeJpegExifStub(20, 10, 6,
        hasGps = true, iccBytes = 64, dateTime = null,
        littleEndian = false)))
      .toDF("doc_id", "payload").write.parquet(s"$dir/jpegs")
    val xq = Analyze.run(parse(List("exifstats", "--docs",
      s"$dir/jpegs")), spark)
      .select(col("doc_id"), col("exif_q.orientation"),
        col("exif_q.has_gps"), col("exif_q.icc_bytes"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        r.getLong(3)))
    assert(xq.toSeq == Seq((1L, 6L, true, 64L)))
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("exifstats")), spark))
    // schemadrift: metadata-only contract check from argv
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/sd_prev")
    Seq((1L, 2.0)).toDF("id", "v").write.parquet(s"$dir/sd_cur")
    val sd = Analyze.run(parse(List("schemadrift", "--docs",
      s"$dir/sd_prev", "--bench", s"$dir/sd_cur")), spark)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(sd.toSeq == Seq(("v", "type_changed")))
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("schemadrift", "--docs",
        s"$dir/sd_prev")), spark))
    // intervals: containment chain coalesces from argv
    Seq(("a", 1L, 10L), ("a", 2L, 3L), ("a", 4L, 12L), ("a", 20L, 21L))
      .toDF("k", "s", "e").write.parquet(s"$dir/ivl")
    val isl = Analyze.run(parse(List("intervals", "--docs", s"$dir/ivl",
      "--group-col", "k", "--x-col", "s", "--y-col", "e")), spark)
      .collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(isl == Map(1L -> ((1L, 12L)), 2L -> ((20L, 21L))))
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("intervals", "--docs", s"$dir/ivl")),
        spark))
    // intervaldel: deleting the containing interval splits a's island
    Analyze.run(parse(List("intervals", "--docs", s"$dir/ivl",
      "--group-col", "k", "--x-col", "s", "--y-col", "e",
      "-o", s"$dir/ivl_islands")), spark)
    Seq(("a", 1L, 10L)).toDF("k", "s", "e")
      .write.parquet(s"$dir/ivl_del")
    Seq(("a", 2L, 3L), ("a", 4L, 12L), ("a", 20L, 21L))
      .toDF("k", "s", "e").write.parquet(s"$dir/ivl_rem")
    val dIsl = Analyze.run(parse(List("intervaldel",
      "--docs", s"$dir/ivl_islands/intervals", "--bench", s"$dir/ivl_rem",
      "--delta", s"$dir/ivl_del", "--group-col", "k",
      "--x-col", "s", "--y-col", "e")), spark)
      .collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(dIsl == Map(1L -> ((2L, 3L)), 2L -> ((4L, 12L)),
      3L -> ((20L, 21L))))
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("intervaldel", "--docs",
        s"$dir/ivl_islands/intervals")), spark))
    // sccinc: stored labels + condensation, delta closes the cycle —
    // refreshed labels equal the full recompute
    import graft.operators.GraphOps
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L))
      .toDF("start_id", "end_id")
    val bl = GraphOps.stronglyConnectedComponents(chain)
    bl.write.parquet(s"$dir/scc_labels")
    GraphOps.condensation(chain, bl).write.parquet(s"$dir/scc_quot")
    Seq((4L, 1L)).toDF("start_id", "end_id")
      .write.parquet(s"$dir/scc_delta")
    val inc = Analyze.run(parse(List("sccinc",
      "--delta", s"$dir/scc_delta", "--target", s"$dir/scc_labels",
      "--quotient", s"$dir/scc_quot")), spark)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("sccinc", "--delta", s"$dir/scc_delta")),
        spark))
    // sccdec: the takedown twin — deleting the closing edge splits the
    // cycle back to singletons; refreshed labels = full recompute
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .toDF("start_id", "end_id")
    val cl = GraphOps.stronglyConnectedComponents(cyc)
    cl.write.parquet(s"$dir/sccd_labels")
    GraphOps.condensation(cyc, cl).write.parquet(s"$dir/sccd_quot")
    Seq((4L, 1L)).toDF("start_id", "end_id")
      .write.parquet(s"$dir/sccd_del")
    Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("start_id", "end_id")
      .write.parquet(s"$dir/sccd_rem")
    val dec = Analyze.run(parse(List("sccdec",
      "--edges", s"$dir/sccd_rem", "--delta", s"$dir/sccd_del",
      "--target", s"$dir/sccd_labels",
      "--quotient", s"$dir/sccd_quot")), spark)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dec == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("sccdec", "--edges", s"$dir/sccd_rem")),
        spark))
    // clusterdel: dup-cluster takedown from argv — removing the bridge
    // splits the chain, removing a keeper relabels the survivor
    Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
      .write.parquet(s"$dir/cl_pairs")
    Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L)
      .toDF("id", "comp").write.parquet(s"$dir/cl_prev")
    Seq(2L, 5L).toDF("id").write.parquet(s"$dir/cl_del")
    val cdel = Analyze.run(parse(List("clusterdel",
      "--edges", s"$dir/cl_pairs", "--delta", s"$dir/cl_del",
      "--target", s"$dir/cl_prev")), spark)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cdel == Map(1L -> 1L, 3L -> 3L, 6L -> 6L))
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("clusterdel", "--edges", s"$dir/cl_pairs")),
        spark))
    // commdec: decremental community maintenance from argv — severing
    // the barbell bridge splits the stored community in two; the
    // untouched community survives verbatim
    Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L).toDF("id", "community")
      .write.parquet(s"$dir/cd_labels")
    Seq((3L, 4L)).toDF("start_id", "end_id")
      .write.parquet(s"$dir/cd_del")
    Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L),
      (10L, 11L), (10L, 12L), (11L, 12L)).toDF("start_id", "end_id")
      .write.parquet(s"$dir/cd_rem")
    val cdec = Analyze.run(parse(List("commdec",
      "--edges", s"$dir/cd_rem", "--delta", s"$dir/cd_del",
      "--target", s"$dir/cd_labels", "--iterations", "4")), spark)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cdec(1L) == cdec(2L) && cdec(2L) == cdec(3L))
    assert(cdec(4L) == cdec(5L) && cdec(5L) == cdec(6L))
    assert(cdec(1L) != cdec(4L))
    assert(Set(10L, 11L, 12L).forall(id => cdec(id) == 10L))
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("commdec", "--edges", s"$dir/cd_rem")),
        spark))
    // bridges + articulation from argv: two triangles joined by one
    // edge — the joiner cuts, its endpoints cut
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 4L)).toDF("start_id", "end_id")
      .write.parquet(s"$dir/cut_edges")
    val brg = Analyze.run(parse(List("bridges", "--edges",
      s"$dir/cut_edges")), spark)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brg == Set((3L, 4L)))
    val art = Analyze.run(parse(List("articulation", "--edges",
      s"$dir/cut_edges")), spark)
      .collect().map(_.getLong(0)).toSet
    assert(art == Set(3L, 4L))
    // neighagg: 1-round sum over in-neighbors from argv
    Seq((1L, 10L), (2L, 20L), (3L, 5L)).toDF("id", "f")
      .write.parquet(s"$dir/na_feat")
    Seq((1L, 3L), (2L, 3L)).toDF("start_id", "end_id")
      .write.parquet(s"$dir/na_edges")
    val na = Analyze.run(parse(List("neighagg",
      "--edges", s"$dir/na_edges", "--docs", s"$dir/na_feat",
      "--value-col", "f", "--id-col", "id", "--hops", "1",
      "--direction", "in")), spark)
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(na == Map(1L -> None, 2L -> None, 3L -> Some(30L)))
    // neighmaint: exact maintenance from argv — add edge (1,3) to the
    // stored 1-round sum store; only node 3's row refreshes
    Seq((2L, 3L)).toDF("start_id", "end_id")
      .write.parquet(s"$dir/nm_base")
    Seq((1L, 3L), (2L, 3L)).toDF("start_id", "end_id")
      .write.parquet(s"$dir/nm_all")
    Seq((1L, 3L)).toDF("start_id", "end_id")
      .write.parquet(s"$dir/nm_delta")
    Analyze.run(parse(List("neighagg",
      "--edges", s"$dir/nm_base", "--docs", s"$dir/na_feat",
      "--value-col", "f", "--id-col", "id", "--hops", "1",
      "--direction", "in")), spark)
      .write.parquet(s"$dir/nm_prev")
    val nm = Analyze.run(parse(List("neighmaint",
      "--edges", s"$dir/nm_all", "--delta", s"$dir/nm_delta",
      "--docs", s"$dir/na_feat", "--target", s"$dir/nm_prev",
      "--value-col", "f", "--id-col", "id", "--hops", "1",
      "--direction", "in")), spark)
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(nm == Map(1L -> None, 2L -> None, 3L -> Some(30L)))
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("neighmaint", "--edges", s"$dir/nm_all")),
        spark))
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("neighagg", "--edges", s"$dir/na_edges")),
        spark))
    // dagreach over the same cycle-headed chain: {0,1} collapse, so
    // the quotient is 0 -> 2 -> 3
    val dr = Analyze.run(parse(List("dagreach", "--edges",
      s"$dir/edges")), spark)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dr == Map(0L -> 2L, 2L -> 1L, 3L -> 0L))
    val da = Analyze.run(parse(List("dagreach", "--edges",
      s"$dir/edges", "--direction", "in")), spark)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(da == Map(0L -> 0L, 2L -> 1L, 3L -> 2L))
    // reach from argv: landmarks 0 (bit 0) and 2 (bit 1)
    val rm = Analyze.run(parse(List("reach", "--edges", s"$dir/edges",
      "--seeds", "0,2")), spark)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(rm == Map(0L -> (1L, 1L), 1L -> (1L, 1L), 2L -> (3L, 2L),
      3L -> (3L, 2L)))
    intercept[IllegalArgumentException](
      Analyze.run(parse(List("reach", "--edges", s"$dir/edges")), spark))
  }
}
