package graft

import java.io.File
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

import graft.operators.{Decontaminate, Dedup, FrameVersions, Funnel,
  GraphOps, Layout, Relevance, Similarity, Tokenizer}
import graft.streaming.StreamingIngest

/** Crash injection for every store that commits through
  * [[graft.operators.FrameVersions]], each driven through its
  * streaming twin (the ANN retrain and compaction, batch operations,
  * are killed and re-run directly). Batch 0 applies cleanly; batch k
  * (k = 1, 2, 3) is killed at kill point k, then redelivered under the
  * same checkpoint:
  *
  *  1. after the first frame of the new version is written (the
  *     one-frame layout manifest: as its write starts, after the data
  *     files landed);
  *  2. after every frame is written, before the commit marker;
  *  3. after the commit marker, before the trigger completes (for the
  *     marker-guarded twins, before the final `_batches/<id>` marker).
  *
  * After kills 1 and 2 a load serves the previous version exactly.
  * After every redelivery the store equals the full rebuild (PageRank:
  * the batch warm-start fold; communities: the incremental-then-
  * decremental fold), the batch committed exactly once, and a twin
  * that vacuums keeps one committed version. Stores live on the
  * `inject:` file system ([[InjectingFs]]), which throws at the kill
  * point. The layout twin's cold start, whose first trigger builds
  * the store, is killed at each point as well. Two publishers racing
  * from one base close the spec: the second is refused. */
class CommitCrashSpec extends SparkSpec {
  import spark.implicits._

  /** The fault of kill point `k` for a store whose second frame is
    * `second`; it fires once. */
  private def kill(k: Int, second: String)
      : (InjectingFs.Op, Path) => Unit = {
    val fired = new AtomicBoolean(false)
    (op, p) => {
      val hit =
        if (k == 1) op != InjectingFs.Listing &&
          p.toString.matches(s".*/_v[0-9]+/$second(/.*)?")
        else op == InjectingFs.Create && p.getParent.getName == "_commits"
      if (hit && fired.compareAndSet(false, true)) {
        if (k == 3) new File(p.toUri.getPath).createNewFile(): Unit
        throw new java.io.IOException(s"injected crash at kill point $k")
      }
    }
  }

  /** Runs `batches` through the twin `start`ed on a memory stream and a
    * local checkpoint: batch 0 cleanly, batch k killed at kill point k
    * and redelivered. `frames` loads the store's frames; `converged(k)`
    * asserts the store after batch k. */
  private def crashEachPoint[A: Encoder](store: String, second: String,
      batches: Seq[Seq[A]], vacuums: Boolean = true,
      commitsPerBatch: Int = 1)(
      start: (DataFrame, String) => StreamingQuery)(
      frames: () => Seq[DataFrame], converged: Int => Unit): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[A]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_crash_ckpt")
      .toString
    def run(): Unit = {
      val q = start(mem.toDF(), ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    def snapshot() = frames().map(_.collect().map(_.toString).toSet)
    def entries(dir: String): Seq[String] =
      Option(new File(InjectingFs.local(dir)).list()).toSeq.flatten
        .filterNot(_.startsWith("."))
    mem.addData(batches.head: _*)
    run()
    converged(0)
    batches.indices.tail.foreach { k =>
      val before = snapshot()
      val version = FrameVersions.current(spark, store)
      mem.addData(batches(k): _*)
      InjectingFs.withHook(kill(k, second)) {
        intercept[StreamingQueryException](run())
      }
      if (k < 3) {
        assert(FrameVersions.current(spark, store) == version &&
          snapshot() == before,
          s"kill point $k: a load serves the previous version exactly")
      }
      run()
      converged(k)
      val latest = FrameVersions.latest(spark, store)
      assert(latest.n == version + commitsPerBatch &&
        latest.tag == k.toString,
        s"kill point $k: batch $k committed exactly once")
      if (vacuums)
        assert(entries(s"$store/_commits").size == 1 &&
          entries(store).count(_.matches("_v[0-9]+")) == 1,
          s"kill point $k: one committed version left")
    }
  }

  /** The live (id → payload) set after batches 0..k of a CDC stream:
    * a later batch replaces, a same-batch takedown beats the add. */
  private def liveAfter[V](batches: Seq[Seq[(String, Long, V)]],
      k: Int): Seq[(Long, V)] =
    batches.take(k + 1).foldLeft(Map.empty[Long, V]) { (m, b) =>
      val dels = b.collect { case ("del", id, _) => id }.toSet
      (m -- dels) ++
        b.collect { case ("add", id, v) if !dels(id) => id -> v }
    }.toSeq.sortBy(_._1)

  private val textBatches = Seq(
    Seq(("add", 1L, "a b c d"), ("add", 2L, "b c d"),
      ("add", 3L, "x y z x y")),
    Seq(("del", 2L, null: String), ("add", 4L, "d b c a")),
    Seq(("add", 2L, "c d e f"), ("add", 1L, "a b c")),
    Seq(("del", 3L, null: String), ("add", 5L, "e a b c d")))

  private def cdc(df: DataFrame, payload: String) =
    df.toDF("op", "doc_id", payload)

  test("streamingLexIndex: a crash at any commit point heals to the " +
      "full rebuild on redelivery") {
    val tmp = InjectingFs.tempDir(spark, "graft_crash_lex")
    def bm25(ix: Relevance.LexIndex) = Relevance.bm25FromIndex(ix)
      .collect().map(_.toString).toSet
    crashEachPoint(s"$tmp/ix", "postings", textBatches)((s, c) =>
      StreamingIngest.streamingLexIndex(cdc(s, "text"), s"$tmp/docs",
        s"$tmp/dels", s"$tmp/ix", c))(
      () => {
        val ix = Relevance.loadLexIndex(spark, s"$tmp/ix")
        Seq(ix.docs, ix.postings, ix.lens, ix.dfreq)
      },
      k => assert(bm25(Relevance.loadLexIndex(spark, s"$tmp/ix")) ==
        bm25(Relevance.buildLexIndex(liveAfter(textBatches, k)
          .toDF("doc_id", "text"), "doc_id", "text"))))
  }

  test("streamingTrigramLm: a crash at any commit point heals to the " +
      "full rebuild on redelivery") {
    val tmp = InjectingFs.tempDir(spark, "graft_crash_lm")
    def rows(lm: Relevance.TrigramLm) =
      (lm.docs.collect().map(_.toString).toSet,
        lm.model.collect().map(_.toString).toSet)
    crashEachPoint(s"$tmp/lm", "model", textBatches)((s, c) =>
      StreamingIngest.streamingTrigramLm(cdc(s, "text"), s"$tmp/docs",
        s"$tmp/dels", s"$tmp/lm", c))(
      () => {
        val lm = Relevance.loadTrigramLm(spark, s"$tmp/lm")
        Seq(lm.docs, lm.model)
      },
      k => assert(rows(Relevance.loadTrigramLm(spark, s"$tmp/lm")) ==
        rows(Relevance.buildTrigramLm(liveAfter(textBatches, k)
          .toDF("doc_id", "text"), "doc_id", "text"))))
  }

  test("streamingWordStore: a crash at any commit point heals to the " +
      "full rebuild on redelivery") {
    val tmp = InjectingFs.tempDir(spark, "graft_crash_words")
    def rows(ws: Tokenizer.WordStore) =
      (ws.docs.collect().map(_.toString).toSet,
        ws.words.collect().map(_.toString).toSet)
    crashEachPoint(s"$tmp/store", "words", textBatches)((s, c) =>
      StreamingIngest.streamingWordStore(cdc(s, "text"), s"$tmp/docs",
        s"$tmp/dels", s"$tmp/store", c))(
      () => {
        val ws = Tokenizer.loadWordStore(spark, s"$tmp/store")
        Seq(ws.docs, ws.words)
      },
      k => assert(rows(Tokenizer.loadWordStore(spark, s"$tmp/store")) ==
        rows(Tokenizer.buildWordStore(liveAfter(textBatches, k)
          .toDF("doc_id", "text"), "doc_id", "text"))))
  }

  test("streamingPcaMoments: a crash at any commit point heals to the " +
      "one-shot moments on redelivery") {
    val tmp = InjectingFs.tempDir(spark, "graft_crash_moments")
    def vec(i: Long): Seq[Float] =
      (0 until 4).map(d => ((i * 7 + d * 3) % 11).toFloat / 11f - 0.5f)
    val batches = Seq(
      Seq(("add", 1L, vec(1L)), ("add", 2L, vec(2L)),
        ("add", 3L, vec(3L))),
      Seq(("del", 3L, null: Seq[Float]), ("add", 4L, vec(4L))),
      Seq(("add", 2L, vec(20L)), ("add", 5L, vec(5L))),
      Seq(("del", 1L, null: Seq[Float]), ("add", 6L, vec(6L))))
    def moments(df: DataFrame) = df
      .select("i", "j", "n", "s_i", "s_j", "sp").collect()
      .map(_.toString).toSet
    crashEachPoint(s"$tmp/store", "moments", batches)((s, c) =>
      StreamingIngest.streamingPcaMoments(s.toDF("op", "vec_id",
        "embedding"), s"$tmp/docs", s"$tmp/dels", s"$tmp/store", c))(
      () => {
        val ms = Similarity.loadMomentsStore(spark, s"$tmp/store")
        Seq(ms.docs, ms.moments)
      },
      k => assert(moments(Similarity.loadMomentsStore(spark,
          s"$tmp/store").moments) ==
        moments(Similarity.pcaMoments(liveAfter(batches, k)
          .toDF("vec_id", "embedding"), "embedding"))))
  }

  test("streamingSigIndexDedup: a crash at any commit point heals to " +
      "the batch-mode increment fold on redelivery") {
    val tmp = InjectingFs.tempDir(spark, "graft_crash_sigix")
    val base = Seq((0L, "aa bb cc dd"), (1L, "ee ff gg hh"))
    base.toDF("doc_id", "text").write.parquet(s"$tmp/docs/batch=-1")
    def sigsOf(rows: Seq[(Long, String)]) =
      Dedup.minhashSignaturesPortable(rows.toDF("doc_id", "text"),
        "text", "doc_id", 16, 1)
    Dedup.saveSigIndex(Dedup.SigIndex(sigsOf(base), 16, 1, 42L,
      portable = true), s"$tmp/store"): Unit
    // each batch: a copy of the doc the previous batch kept, and a
    // novel doc that rolls the index forward
    val texts = Seq("mm nn oo pp", "qq rr ss tt", "uu vv ww xx",
      "yy zz ab cd")
    val batches = texts.indices.map(k => Seq(
      (10L * k + 10L, if (k == 0) "aa bb cc dd" else texts(k - 1)),
      (10L * k + 11L, texts(k))))
    def corpusAfter(k: Int) = base ++ batches.take(k + 1).map(_(1))
    def sigs(df: DataFrame) = df.collect().map(_.toString).toSet
    crashEachPoint(s"$tmp/store", "meta", batches)((s, c) =>
      StreamingIngest.streamingSigIndexDedup(s.toDF("doc_id", "text"),
        s"$tmp/docs", s"$tmp/store", s"$tmp/rep", c, threshold = 0.5,
        bands = 8))(
      () => {
        val ix = Dedup.loadSigIndex(spark, s"$tmp/store")
        Seq(ix.sigs, Seq((ix.numHashes, ix.shingleSize, ix.seed,
          ix.portable)).toDF())
      },
      k => {
        val before = if (k == 0) base else corpusAfter(k - 1)
        val expected = Dedup.incrementalDedupFromIndex(
            Dedup.SigIndex(sigsOf(before), 16, 1, 42L, portable = true),
            before.toDF("doc_id", "text"),
            batches(k).toDF("doc_id", "text"), "text", "doc_id",
            threshold = 0.5, bands = 8)
          .collect().map(_.toString).toSet
        assert(spark.read.parquet(s"$tmp/rep/batch=$k").collect()
          .map(_.toString).toSet == expected)
        assert(sigs(Dedup.loadSigIndex(spark, s"$tmp/store").sigs) ==
          sigs(sigsOf(corpusAfter(k))))
      })
  }

  test("streamingPageRank: a crash at any commit point heals to the " +
      "batch warm-start fold on redelivery") {
    val tmp = InjectingFs.tempDir(spark, "graft_crash_pr")
    val baseEdges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 0L))
    baseEdges.toDF("start_id", "end_id")
      .write.parquet(s"$tmp/edges/batch=-1")
    val seed = GraphOps.pageRank(baseEdges.toDF("start_id", "end_id"),
      damping = 0.5, iterations = 20).localCheckpoint()
    GraphOps.saveRankStore(spark, s"$tmp/scores", seed, 0.5): Unit
    val batches = Seq(Seq((3L, 1L), (4L, 0L)), Seq((5L, 4L)),
      Seq((6L, 5L)), Seq((7L, 6L), (2L, 7L)))
    def m(df: DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // PageRank sums doubles: per-node agreement to 1e-12 (the q_g3
    // ROUND caveat)
    val folds = batches.indices.scanLeft(m(seed)) { (prev, k) =>
      m(GraphOps.incrementalPageRank(
        (baseEdges ++ batches.take(k + 1).flatten).toDF("start_id",
          "end_id"), prev.toSeq.toDF("id", "rank"), damping = 0.5,
        iterations = 2))
    }.tail
    crashEachPoint(s"$tmp/scores", "meta", batches, vacuums = false)(
      (s, c) => StreamingIngest.streamingPageRank(
        s.toDF("start_id", "end_id"), s"$tmp/edges", s"$tmp/scores", c))(
      () => {
        val st = GraphOps.loadRankStore(spark, s"$tmp/scores")
        Seq(st.scores, Seq(st.damping).toDF())
      },
      k => {
        val served = m(GraphOps.loadRankStore(spark, s"$tmp/scores")
          .scores)
        assert(served.keySet == folds(k).keySet && served.forall {
          case (id, r) => math.abs(r - folds(k)(id)) < 1e-12 })
      })
  }

  test("streamingLayout: a crash at any commit point heals to the fold " +
      "on redelivery") {
    val tmp = InjectingFs.tempDir(spark, "graft_crash_layout")
    val store = s"$tmp/store"
    val base = for { x <- 0L until 4L; y <- 0L until 4L }
      yield (y * 16L + x, x, y)
    Layout.writeLayout(Layout.zOrderLayout(base.toDF("id", "x", "y"),
      Seq("x", "y"), 4, 16), store, Seq("x", "y"), "z", 4, 16)
    // batch k erases stored row k and adds row 100 + k: an erasure
    // commit, then the append committed under the batch's tag
    val batches = (0 until 4).map(k => Seq(("del", k.toLong, 0L, 0L),
      ("add", 100L + k, k + 1L, k + 2L)))
    def rows(): Seq[String] = Layout.readLayoutVersion(spark, store)
      .select("id", "x", "y").collect().map(_.toString).sorted.toSeq
    crashEachPoint(s"$store/_versions", "manifest", batches,
        vacuums = false, commitsPerBatch = 2)((s, c) =>
      StreamingIngest.streamingLayout(s.toDF("op", "id", "x", "y"),
        s"$tmp/adds", s"$tmp/dels", store, c, Seq("x", "y"), bits = 4,
        nBuckets = 16))(
      () => Seq(Layout.readLayoutVersion(spark, store)),
      k => assert(rows() == (base.filter(_._1 > k) ++
        (0 to k).map(i => (100L + i, i + 1L, i + 2L))).toDF("id", "x",
        "y").collect().map(_.toString).sorted.toSeq))
  }

  test("streamingLayout cold start: a crash at any commit point of the " +
      "first trigger's build heals to the fold on redelivery, and point " +
      "lookups serve") {
    implicit val sqlCtx = spark.sqlContext
    // one batch, built from the fold: a born-dead id, a same-batch
    // takedown of nothing stored yet, a bloom-sketched id column
    val batch = Seq(("add", 1L, 0L, 0L), ("add", 2L, 3L, 1L),
      ("add", 3L, 7L, 7L), ("del", 3L, 0L, 0L), ("add", 4L, 15L, 2L),
      ("del", 9L, 0L, 0L))
    val fold = Set((1L, 0L, 0L), (2L, 3L, 1L), (4L, 15L, 2L))
    (1 to 3).foreach { k =>
      val tmp = InjectingFs.tempDir(spark, s"graft_crash_layout_cold$k")
      val store = s"$tmp/store"
      val ckpt = java.nio.file.Files.createTempDirectory("graft_crash_ckpt")
        .toString
      val mem = MemoryStream[(String, Long, Long, Long)]
      def run(): Unit = {
        val q = StreamingIngest.streamingLayout(
          mem.toDF().toDF("op", "id", "x", "y"), s"$tmp/adds",
          s"$tmp/dels", store, ckpt, Seq("x", "y"), bits = 4,
          nBuckets = 16, bloomCols = Seq("id"))
        try q.processAllAvailable() finally q.stop()
      }
      def rows(df: DataFrame): Set[(Long, Long, Long)] =
        df.select("id", "x", "y").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      mem.addData(batch: _*)
      InjectingFs.withHook(kill(k, "manifest")) {
        intercept[StreamingQueryException](run())
      }
      if (k < 3)
        assert(FrameVersions.current(spark, s"$store/_versions") == 0L,
          s"kill point $k: the build never committed")
      run()
      assert(rows(Layout.readLayoutVersion(spark, store)) == fold,
        s"kill point $k: the redelivery heals to the fold")
      assert(rows(Layout.prunedScan(spark, store, Nil,
        points = Seq(("id", 2L)))) == Set((2L, 3L, 1L)),
        s"kill point $k: point lookups serve off the sketch")
      assert(Layout.prunedScan(spark, store, Nil,
        points = Seq(("id", 3L))).isEmpty)
    }
  }

  /** The live identity set after batches 0..k of a set-semantics CDC
    * stream: a later batch's operation wins, a same-batch delete beats
    * the add. */
  private def setAfter[T](batches: Seq[Seq[(String, T)]], k: Int): Set[T] =
    batches.take(k + 1).foldLeft(Set.empty[T]) { (live, b) =>
      (live ++ b.collect { case ("add", x) => x }) --
        b.collect { case ("del", x) => x }
    }

  private def rowSet(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  /** Frame `name` of the latest committed version of the store at `dir`. */
  private def latestFrame(dir: String, name: String): DataFrame =
    FrameVersions.latest(spark, dir).read(name)

  /** An edge CDC stream over two SCCs {1,2,3} and {7,8}: batch 1
    * closes 5→1, folding 4 and 5 into the first, and splits {7,8};
    * batch 2 deletes 3→1 (the cycle through 4 and 5 keeps the SCC) and
    * adds the 2-cycle {9,10}; batch 3 re-adds 3→1, splits {9,10} and
    * hangs 7 off 6. */
  private val edgeBatches = Seq(
    Seq(("add", 1L, 2L), ("add", 2L, 3L), ("add", 3L, 1L),
      ("add", 3L, 4L), ("add", 4L, 5L), ("add", 7L, 8L), ("add", 8L, 7L)),
    Seq(("add", 5L, 1L), ("del", 8L, 7L)),
    Seq(("del", 3L, 1L), ("add", 9L, 10L), ("add", 10L, 9L)),
    Seq(("add", 3L, 1L), ("del", 9L, 10L), ("add", 6L, 7L)))

  private def edgeOps(k: Int): Seq[(String, (Long, Long))] =
    edgeBatches(k).map { case (op, a, b) => (op, (a, b)) }

  /** The effective edge set after batches 0..k. */
  private def edgesAfter(k: Int): DataFrame =
    setAfter(edgeBatches.indices.map(edgeOps), k).toSeq
      .toDF("start_id", "end_id")

  private def edgeCdc(df: DataFrame) = df.toDF("op", "start_id", "end_id")

  test("streamingIntervals: a crash at any commit point heals to the " +
      "full merge on redelivery") {
    val tmp = InjectingFs.tempDir(spark, "graft_crash_ivl")
    val batches = Seq(
      Seq(("a", 1L, 3L), ("a", 10L, 12L), ("b", 0L, 1L)),
      Seq(("a", 5L, 9L), ("c", 7L, 8L)),
      Seq(("b", 2L, 4L), ("a", 20L, 21L)),
      Seq(("c", 9L, 9L), ("a", 15L, 18L)))
    crashEachPoint(s"$tmp/islands", "islands", batches)((s, c) =>
      StreamingIngest.streamingIntervals(s.toDF("k", "s", "e"),
        s"$tmp/raw", s"$tmp/islands", c, "k", "s", "e", minGap = 2L))(
      () => Seq(latestFrame(s"$tmp/islands", "islands")),
      k => assert(rowSet(latestFrame(s"$tmp/islands", "islands")) ==
        rowSet(Funnel.mergeIntervals(batches.take(k + 1).flatten
          .toDF("k", "s", "e"), "k", "s", "e", minGap = 2L))))
  }

  test("streamingIntervalsCdc: a crash at any commit point heals to the " +
      "full merge over the live set on redelivery") {
    val tmp = InjectingFs.tempDir(spark, "graft_crash_ivlcdc")
    val batches = Seq(
      Seq(("add", "a", 1L, 3L), ("add", "a", 10L, 12L),
        ("add", "b", 0L, 1L), ("add", "c", 7L, 8L), ("del", "c", 7L, 8L)),
      Seq(("add", "a", 5L, 9L), ("del", "a", 10L, 12L),
        ("add", "b", 0L, 1L)),
      Seq(("add", "a", 10L, 12L), ("add", "c", 2L, 3L)),
      Seq(("del", "a", 5L, 9L), ("del", "b", 0L, 1L)))
    val ops = batches.map(_.map { case (op, k, st, e) => (op, (k, st, e)) })
    crashEachPoint(s"$tmp/islands", "islands", batches)((s, c) =>
      StreamingIngest.streamingIntervalsCdc(s.toDF("op", "k", "s", "e"),
        s"$tmp/raw", s"$tmp/dels", s"$tmp/islands", c, "k", "s", "e",
        minGap = 2L))(
      () => Seq(latestFrame(s"$tmp/islands", "islands")),
      k => assert(rowSet(latestFrame(s"$tmp/islands", "islands")) ==
        rowSet(Funnel.mergeIntervals(setAfter(ops, k).toSeq
          .toDF("k", "s", "e"), "k", "s", "e", minGap = 2L))))
  }

  test("streamingDupClustersCdc: a crash at any commit point heals to " +
      "the clusters of the live pairs on redelivery") {
    val tmp = InjectingFs.tempDir(spark, "graft_crash_dup")
    // adds carry (id_a, id_b); a takedown carries its doc in id_a
    val batches = Seq(
      Seq(("add", 1L, 2L), ("add", 2L, 3L), ("add", 10L, 11L)),
      Seq(("add", 3L, 4L), ("del", 11L, 0L)),
      Seq(("del", 2L, 0L), ("add", 20L, 21L)),
      Seq(("add", 2L, 5L), ("del", 20L, 0L)))
    // the takedown splits a cluster exactly, its partner stays as a
    // singleton, and a later pair resurrects the doc
    val expected = Seq(
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L),
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L),
      Map(1L -> 1L, 3L -> 3L, 4L -> 3L, 10L -> 10L, 20L -> 20L,
        21L -> 20L),
      Map(1L -> 1L, 2L -> 2L, 5L -> 2L, 3L -> 3L, 4L -> 3L, 10L -> 10L,
        21L -> 21L))
    def clusters() = latestFrame(s"$tmp/clusters", "clusters")
    crashEachPoint(s"$tmp/clusters", "clusters", batches)((s, c) =>
      StreamingIngest.streamingDupClustersCdc(s.toDF("op", "id_a", "id_b"),
        s"$tmp/pairs", s"$tmp/dels", s"$tmp/clusters", c))(
      () => Seq(clusters()),
      k => assert(clusters().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap == expected(k)))
  }

  test("streamingSccCdc: a crash at any commit point heals to the full " +
      "SCC and condensation on redelivery") {
    val tmp = InjectingFs.tempDir(spark, "graft_crash_scc")
    val state = s"$tmp/state"
    crashEachPoint(state, "quotient", edgeBatches)((s, c) =>
      StreamingIngest.streamingSccCdc(edgeCdc(s), s"$tmp/edges",
        s"$tmp/dels", state, c))(
      () => Seq(latestFrame(state, "labels"), latestFrame(state, "quotient")),
      k => {
        val eff = edgesAfter(k)
        val labels = GraphOps.stronglyConnectedComponents(eff)
        assert(rowSet(latestFrame(state, "labels")) == rowSet(labels))
        assert(rowSet(latestFrame(state, "quotient")) ==
          rowSet(GraphOps.condensation(eff, labels)))
      })
  }

  test("streamingCommunitiesCdc: a crash at any commit point heals to " +
      "the incremental-decremental fold on redelivery") {
    val tmp = InjectingFs.tempDir(spark, "graft_crash_comm")
    // batch 0 = gated Louvain; then per batch its adds land in the
    // pre-delete world and its deletes rebuild from final ground truth
    val folds = edgeBatches.indices.tail.scanLeft(
      GraphOps.louvain(edgesAfter(0), rounds = 4, schedule = "gggg")
        .localCheckpoint()) { (prev, k) =>
      val ops = edgeOps(k)
      def edges(op: String) = ops.collect { case (`op`, e) => e }
        .toDF("start_id", "end_id")
      val asOfAdds = (setAfter(edgeBatches.indices.map(edgeOps), k - 1) ++
        ops.collect { case ("add", e) => e }).toSeq.toDF("start_id",
        "end_id")
      GraphOps.decrementalCommunities(edgesAfter(k), edges("del"),
        GraphOps.incrementalCommunities(asOfAdds, edges("add"), prev))
        .localCheckpoint()
    }
    crashEachPoint(s"$tmp/labels", "labels", edgeBatches)((s, c) =>
      StreamingIngest.streamingCommunitiesCdc(edgeCdc(s), s"$tmp/edges",
        s"$tmp/dels", s"$tmp/labels", c))(
      () => Seq(latestFrame(s"$tmp/labels", "labels")),
      k => assert(rowSet(latestFrame(s"$tmp/labels", "labels")) ==
        rowSet(folds(k))))
  }

  test("streamingNeighborAgg: a crash at any commit point heals to the " +
      "full aggregate over the effective edges on redelivery") {
    import org.apache.spark.sql.functions.col
    val tmp = InjectingFs.tempDir(spark, "graft_crash_nagg")
    val f = (1L to 10L).toDF("id").select(col("id"), col("id").as("fv"))
    crashEachPoint(s"$tmp/agg", "agg", edgeBatches)((s, c) =>
      StreamingIngest.streamingNeighborAgg(edgeCdc(s), f, s"$tmp/edges",
        s"$tmp/dels", s"$tmp/agg", c, "id", Seq("fv"), rounds = 2))(
      () => Seq(latestFrame(s"$tmp/agg", "agg")),
      k => assert(rowSet(latestFrame(s"$tmp/agg", "agg")) ==
        rowSet(GraphOps.neighborAgg(edgesAfter(k), f, "id", Seq("fv"),
          rounds = 2))))
  }

  test("streamingDecontaminate: a crash at any commit point heals to " +
      "the batch scrub on redelivery") {
    val tmp = InjectingFs.tempDir(spark, "graft_crash_decon")
    val bx = "alpha beta gamma"
    val by = "delta epsilon zeta"
    // docs fold latest-wins per id; the bench rows only accumulate
    val batches = Seq(
      Seq(("doc", 1L, "intro alpha beta gamma outro end"),
        ("doc", 2L, "totally clean text here now"), ("bench", 100L, bx)),
      Seq(("doc", 3L, "delta epsilon zeta plus filler words")),
      Seq(("bench", 101L, by)),
      Seq(("doc", 1L, "delta epsilon zeta fresh tail words")))
    def after(op: String, k: Int) = batches.take(k + 1).flatten
      .collect { case (`op`, id, text) => id -> text }
    crashEachPoint(s"$tmp/clean", "clean", batches)((s, c) =>
      StreamingIngest.streamingDecontaminate(s.toDF("op", "doc_id", "text"),
        s"$tmp/docs", s"$tmp/bench", s"$tmp/clean", c))(
      () => Seq(latestFrame(s"$tmp/clean", "clean")),
      k => assert(rowSet(latestFrame(s"$tmp/clean", "clean")) ==
        rowSet(Decontaminate.scrubContaminatedSpans(
          after("doc", k).toMap.toSeq.toDF("doc_id", "text"), "text",
          "doc_id", after("bench", k).toDF("doc_id", "text"), "text"))))
  }

  /** An 8-dim vector the ANN cases embed for id `i`. */
  private def annVec(i: Long): Seq[Float] =
    Seq.tabulate(8)(j => ((i * 8 + j) % 13).toFloat)

  /** Saves a 2-cell IVF-PQ index over ids 0..15 at `ix` and returns
    * (centroids, codebooks) for the expected-state encodes. */
  private def annBase(ix: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    val base = (0L until 16L).map(i => (i, annVec(i)))
      .toDF("vec_id", "embedding")
    val (c, a) = Similarity.ivfIndex(base, "embedding", "vec_id", 2)
    val cb = Similarity.pqCodebooks(base, "embedding", "vec_id", m = 4,
      k = 2)
    Similarity.saveIndex(ix, c, cb, a.select(col("centroid_id"),
      col("vec_id")).join(Similarity.pqEncode(base, "embedding", "vec_id",
        cb, m = 4), Seq("vec_id")), m = 4, k = 2, 0.9)
    (c.localCheckpoint(), cb.localCheckpoint())
  }

  /** The (vec_id, codes, centroid_id) rows of `vecs` encoded against the
    * frozen quantizers — the rows the batch primitives store for them. */
  private def encoded(vecs: Seq[(Long, Seq[Float])], c: DataFrame,
      cb: DataFrame): Set[String] = {
    import org.apache.spark.sql.functions.col
    val df = vecs.toDF("vec_id", "embedding")
    rowSet(Similarity.assignToCentroids(df, "embedding", "vec_id", c)
      .select(col("vec_id"), col("centroid_id").cast("long"))
      .join(Similarity.pqEncode(df, "embedding", "vec_id", cb, m = 4),
        Seq("vec_id"))
      .select(col("vec_id"), col("codes").cast("string"),
        col("centroid_id")))
  }

  /** The served (vec_id, codes, centroid_id) rows of the index at `ix`. */
  private def served(ix: String): Set[String] = {
    import org.apache.spark.sql.functions.col
    rowSet(Similarity.loadIndex(spark, ix).assignedEncoded
      .select(col("vec_id"), col("codes").cast("string"),
        col("centroid_id")))
  }

  /** (Σ n_batches, Σ n_added) of the latest version's drift ledger. */
  private def ledger(ix: String): (Long, Long) = {
    val r = latestFrame(ix, "drift_log")
      .selectExpr("sum(n_batches)", "sum(n_added)").head()
    (r.getLong(0), r.getLong(1))
  }

  /** The index at `ix` holds exactly the directories its latest
    * version reads: every non-`_` root entry and every `_v<k>/<frame>`
    * directory is one of its segments. */
  private def onlyLatestSegments(ix: String): Unit = {
    val v = FrameVersions.latest(spark, ix)
    val refs = v.frames.flatMap(f => v.segments(f)
      .map(k => if (k == 0L) f else s"_v$k/$f")).toSet
    def plain(dir: String): Seq[String] =
      Option(new File(InjectingFs.local(dir)).list()).toSeq.flatten
        .filterNot(n => n.startsWith("_") || n.startsWith("."))
    val versionDirs = Option(new File(InjectingFs.local(ix)).list()).toSeq
      .flatten.filter(_.matches("_v[0-9]+"))
    val onDisk = plain(ix) ++ versionDirs.filter(_ != s"_v${v.n}")
      .flatMap(d => Option(new File(InjectingFs.local(s"$ix/$d")).list())
        .toSeq.flatten.filterNot(_.startsWith(".")).map(n => s"$d/$n"))
    assert(onDisk.toSet == refs.filterNot(_.startsWith(s"_v${v.n}/")),
      s"vacuum keeps exactly the latest version's segments: $onDisk")
  }

  test("streamingAnnIngest: a crash at any commit point, the inline " +
      "compaction's included, heals to the batch primitives applied " +
      "once") {
    val tmp = InjectingFs.tempDir(spark, "graft_crash_anningest")
    val (ix, ref) = (s"$tmp/ix", s"$tmp/ref")
    val (c, cb) = annBase(ix)
    annBase(ref): Unit
    val batches = (1 to 4).map(b =>
      (100L * b until 100L * b + 4).map(i => (i, annVec(i))))
    crashEachPoint(ix, "drift_log", batches, vacuums = false)((s, ckpt) =>
      // the fragment threshold fires on batch 2 (the base of v3) only
      StreamingIngest.streamingAnnIngest(s.toDF("vec_id", "embedding"),
        ix, ckpt, "embedding", "vec_id",
        maxFragments = if (FrameVersions.current(spark, ix) == 2L) 1 else 0))(
      () => Seq(Similarity.loadIndex(spark, ix).assignedEncoded,
        latestFrame(ix, "drift_log")),
      k => {
        // the batch primitives on a twin index, each batch once
        Similarity.updateIndex(spark, ref, batches(k).toDF("vec_id",
          "embedding"), "embedding", "vec_id").collect()
        if (k == 2) Similarity.compactIndex(spark, ref).collect()
        assert(served(ix) == served(ref) && served(ix) == encoded(
          (0L until 16L).map(i => (i, annVec(i))) ++
            batches.take(k + 1).flatten, c, cb))
        assert(ledger(ix) == ((k + 1L, 4L * (k + 1))) &&
          ledger(ix) == ledger(ref), "every batch ledgered once")
        val v = FrameVersions.latest(spark, ix)
        if (k == 2)
          assert(v.segments("vectors") == Seq(v.n) &&
            latestFrame(ix, "drift_log").count() == 1L,
            "the compacting commit rewrote vectors and rolled the ledger")
        onlyLatestSegments(ix)
      })
  }

  test("streamingAnnCdc: a crash at any commit point, a resurrection " +
      "and a live-id update included, heals to the batch primitives " +
      "applied once") {
    val tmp = InjectingFs.tempDir(spark, "graft_crash_anncdc")
    val ix = s"$tmp/ix"
    val (c, cb) = annBase(ix)
    val none: Seq[Float] = null
    val batches = Seq(
      Seq(("add", 100L, annVec(100L)), ("add", 101L, annVec(101L)),
        ("add", 102L, annVec(102L)), ("add", 200L, annVec(200L)),
        ("del", 200L, none)),
      Seq(("del", 101L, none), ("add", 103L, annVec(103L))),
      // 101 resurrects, 102 updates in place, 3 is taken down
      Seq(("add", 101L, annVec(101L)), ("add", 102L, annVec(777L)),
        ("del", 3L, none)),
      Seq(("add", 104L, annVec(104L)), ("del", 100L, none)))
    val base = (0L until 16L).map(i => ("add", i, annVec(i)))
    crashEachPoint(ix, "drift_log", batches, vacuums = false)((s, ckpt) =>
      StreamingIngest.streamingAnnCdc(s.toDF("op", "vec_id", "embedding"),
        ix, ckpt, "embedding", "vec_id"))(
      () => Seq(Similarity.loadIndex(spark, ix).assignedEncoded,
        latestFrame(ix, "drift_log")),
      k => {
        assert(served(ix) ==
          encoded(liveAfter(base +: batches, k + 1), c, cb))
        val adds = batches.take(k + 1).map(_.collect {
          case ("add", id, _) => id }.distinct.size.toLong)
        assert(ledger(ix) == ((k + 1L, adds.sum)),
          "every batch ledgered once")
        val v = FrameVersions.latest(spark, ix)
        if (k == 2)
          assert(v.segments("vectors") == Seq(v.n) &&
            latestFrame(ix, "vectors").groupBy("vec_id").count()
              .filter("count > 1").isEmpty,
            "one stored row per id after the compacting commit")
        onlyLatestSegments(ix)
      })
  }

  test("compactIndex: a crash at any commit point leaves the previous " +
      "version serving; recovery and a re-run commit the compaction " +
      "once") {
    val ix = InjectingFs.tempDir(spark, "graft_crash_compact") + "/ix"
    annBase(ix): Unit
    (1 to 3).foreach { k =>
      Similarity.updateIndex(spark, ix, (100L * k until 100L * k + 4)
        .map(i => (i, annVec(i))).toDF("vec_id", "embedding"),
        "embedding", "vec_id").collect()
      Similarity.deleteFromIndex(spark, ix, Seq(k.toLong).toDF("vec_id"),
        "vec_id").collect()
      val before = served(ix)
      val ledgered = ledger(ix)
      val version = FrameVersions.current(spark, ix)
      InjectingFs.withHook(kill(k, "drift_log")) {
        intercept[Exception](Similarity.compactIndex(spark, ix).collect())
      }
      if (k < 3) {
        assert(FrameVersions.current(spark, ix) == version &&
          served(ix) == before,
          s"kill point $k: a load serves the previous version exactly")
        intercept[IllegalArgumentException](
          Similarity.compactIndex(spark, ix))
        FrameVersions.recover(spark, ix)
        Similarity.compactIndex(spark, ix).collect()
      } else FrameVersions.vacuum(spark, ix): Unit
      assert(FrameVersions.current(spark, ix) == version + 1,
        s"kill point $k: the compaction committed exactly once")
      assert(served(ix) == before && ledger(ix) == ledgered &&
        !FrameVersions.latest(spark, ix).has("tombstones"),
        s"kill point $k: compaction is serving-invariant")
      onlyLatestSegments(ix)
    }
  }

  test("retrainIndex: a crash at any commit point leaves the previous " +
      "version serving; recovery and a re-run commit the fresh build " +
      "once") {
    import org.apache.spark.sql.functions.col
    val ix = InjectingFs.tempDir(spark, "graft_crash_ann") + "/ix"
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
      .filter(col("vec_id") < 200).select("vec_id", "embedding")
      .localCheckpoint()
    def build(c: DataFrame) = {
      val (cents, assigned) = Similarity.ivfIndex(c, "embedding",
        "vec_id", 4)
      val cb = Similarity.pqCodebooks(c, "embedding", "vec_id", m = 4,
        k = 4)
      (cents, cb, assigned.select(col("centroid_id"), col("vec_id"))
        .join(Similarity.pqEncode(c, "embedding", "vec_id", cb, m = 4),
          Seq("vec_id")))
    }
    val (c0, cb0, ae0) = build(e.filter(col("vec_id") < 100))
    Similarity.saveIndex(ix, c0, cb0, ae0, m = 4, k = 4)
    val q = e.filter(col("vec_id") < 4)
    def served() = Similarity.serveTopK(spark, ix, q, "embedding",
      "vec_id", topK = 5, nProbe = 2).collect().map(_.toString).toSet
    val (c1, cb1, ae1) = build(e)
    val fresh = Similarity.ivfPqTopK(q, c1, cb1, ae1, "embedding",
      "vec_id", m = 4, k = 4, topK = 5, nProbe = 2)
      .collect().map(_.toString).toSet
    def retrain() = Similarity.retrainIndex(spark, ix, e, "embedding",
      "vec_id", sampleQueries = 2, recallK = 3, nProbe = 2).collect()
    (1 to 3).foreach { k =>
      val before = served()
      val version = FrameVersions.current(spark, ix)
      InjectingFs.withHook(kill(k, "codebooks")) {
        intercept[Exception](retrain())
      }
      if (k < 3) {
        assert(FrameVersions.current(spark, ix) == version &&
          served() == before,
          s"kill point $k: a load serves the previous version exactly")
        intercept[IllegalArgumentException](retrain())
        FrameVersions.recover(spark, ix)
        retrain(): Unit
      }
      assert(FrameVersions.current(spark, ix) == version + 1,
        s"kill point $k: the rebuild committed exactly once")
      assert(served() == fresh, s"kill point $k: retrain ≡ fresh build")
    }
  }

  test("two publishers from one base: the second is refused while the " +
      "first writes and after it commits, and a publisher whose base " +
      "was vacuumed away is refused too") {
    val dir = InjectingFs.tempDir(spark, "graft_crash_race") + "/s"
    def docs(ids: Long*) = Seq("docs" -> ids.toDF("id"))
    def served() = FrameVersions.latest(spark, dir).read("docs")
      .collect().map(_.getLong(0)).toSeq
    assert(FrameVersions.commit(spark, dir, docs(1L)) == 1L)
    val (a, b) = (FrameVersions.latest(spark, dir),
      FrameVersions.latest(spark, dir))
    // b publishes from the same base while a writes its frame
    val midWrite =
      new java.util.concurrent.atomic.AtomicReference[Option[Throwable]](None)
    InjectingFs.withHook { (op, p) =>
      if (op != InjectingFs.Listing && p.toString.contains("/_v2/docs") &&
          midWrite.get.isEmpty)
        midWrite.set(Some(scala.util.Try(b.commit(docs(9L))).failed
          .getOrElse(new AssertionError("b committed"))))
    } {
      assert(a.commit(docs(2L)) == 2L)
    }
    assert(midWrite.get.exists(_.isInstanceOf[IllegalArgumentException]),
      s"b refused while a writes: ${midWrite.get}")
    val after = intercept[IllegalArgumentException](b.commit(docs(9L)))
    assert(after.getMessage.contains("another writer is publishing"))
    assert(served() == Seq(2L), "the refusals wrote nothing")
    // a stale base whose next slot was vacuumed away: the claim lands,
    // the latest-version check refuses, recover drops the claim
    assert(FrameVersions.commit(spark, dir, docs(3L)) == 3L)
    assert(FrameVersions.vacuum(spark, dir) == 2L)
    intercept[IllegalArgumentException](b.commit(docs(9L)))
    FrameVersions.recover(spark, dir)
    assert(FrameVersions.current(spark, dir) == 3L && served() == Seq(3L))
    assert(!new File(InjectingFs.local(s"$dir/_v2")).exists)
  }
}
