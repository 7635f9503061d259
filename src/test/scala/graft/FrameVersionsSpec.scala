package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, FrameVersions, Relevance, Similarity,
  Tokenizer}

/** The atomic multi-frame commit ([[graft.operators.FrameVersions]])
  * and its adoption by the five small serving stores. */
class FrameVersionsSpec extends SparkSpec {
  import spark.implicits._

  test("FrameVersions: the marker create is the commit — unmarked " +
      "residue is invisible and recovers; loads resolve the latest " +
      "committed version with legacy fallback; a pinned version's " +
      "frames survive later commits; vacuum keeps the horizon; " +
      "guards refuse bad frame sets") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_fv").toString + "/s"
    // legacy layout: version 0 reads the root
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/docs")
    assert(FrameVersions.current(spark, dir) == 0L)
    assert(FrameVersions.latest(spark, dir).read("docs").count() == 1L)
    // the first versioned commit supersedes the legacy frames
    assert(FrameVersions.commit(spark, dir, Seq(
      "docs" -> Seq((1L, "a"), (2L, "b")).toDF("id", "v"))) == 1L)
    assert(FrameVersions.latest(spark, dir).read("docs").count() == 2L)
    // pin v1 LAZILY (no checkpoint — the discipline being retired),
    // publish v2, the pin still reads v1's content
    val pinned = FrameVersions.latest(spark, dir).read("docs")
    assert(FrameVersions.commit(spark, dir, Seq(
      "docs" -> Seq((9L, "z")).toDF("id", "v"))) == 2L)
    assert(FrameVersions.latest(spark, dir).read("docs")
      .collect().map(_.getLong(0)).toSeq == Seq(9L))
    assert(pinned.count() == 2L,
      "a pinned version's frames survive later commits")
    // crash residue: an unmarked _v3 is invisible, recover drops it,
    // and the next commit rewrites the slot idempotently
    Seq((0L, "junk")).toDF("id", "v").write.parquet(s"$dir/_v3/docs")
    assert(FrameVersions.current(spark, dir) == 2L)
    assert(FrameVersions.latest(spark, dir).read("docs")
      .collect().head.getLong(0) == 9L)
    FrameVersions.recover(spark, dir)
    assert(!new java.io.File(s"$dir/_v3").exists)
    Seq((0L, "junk2")).toDF("id", "v").write.parquet(s"$dir/_v3/docs")
    assert(FrameVersions.commit(spark, dir, Seq(
      "docs" -> Seq((7L, "w")).toDF("id", "v"))) == 3L)
    assert(FrameVersions.latest(spark, dir).read("docs")
      .collect().head.getLong(0) == 7L)
    // vacuum: v1, v2 drop; current serves; floor guard
    assert(FrameVersions.vacuum(spark, dir, keepLast = 1) == 2L)
    assert(!new java.io.File(s"$dir/_v1").exists &&
      !new java.io.File(s"$dir/_v2").exists)
    assert(FrameVersions.latest(spark, dir).read("docs")
      .collect().head.getLong(0) == 7L)
    intercept[IllegalArgumentException](
      FrameVersions.vacuum(spark, dir, 0))
    intercept[IllegalArgumentException](
      FrameVersions.commit(spark, dir, Nil))
    intercept[IllegalArgumentException](
      FrameVersions.commit(spark, dir, Seq(
        "a" -> Seq(1L).toDF("x"), "a" -> Seq(2L).toDF("x"))))
    intercept[IllegalArgumentException](
      FrameVersions.commit(spark, dir, Seq(
        "_bad" -> Seq(1L).toDF("x"))))
    // every name and the tag are checked before the first write: a
    // bad SECOND name or a bad tag leaves no _v4 residue behind
    intercept[IllegalArgumentException](
      FrameVersions.commit(spark, dir, Seq(
        "ok" -> Seq(1L).toDF("x"), "a/b" -> Seq(2L).toDF("x"))))
    intercept[IllegalArgumentException](
      FrameVersions.commit(spark, dir, Seq(
        "ok" -> Seq(1L).toDF("x")), tag = "a_b"))
    assert(!new java.io.File(s"$dir/_v4").exists,
      "a refused commit writes no frame")
    assert(FrameVersions.current(spark, dir) == 3L)
  }

  test("the five stores round-trip through the atomic commit, and " +
      "loads resolve either layout (a versioned save on a legacy " +
      "store supersedes it)") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_fv_stores").toString
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    // lex index — a legacy in-place layout (frames at the root, as
    // the former in-place save wrote them) first, then the commit
    // supersedes on the SAME dir
    val lex = Relevance.LexIndex(
      docs = Seq(1L, 2L).toDF("doc_id"),
      postings = Seq((1L, "a", 2L), (2L, "b", 1L))
        .toDF("doc_id", "token", "tf"),
      lens = Seq((1L, 2L), (2L, 1L)).toDF("doc_id", "doc_len"),
      dfreq = Seq(("a", 1L), ("b", 1L)).toDF("token", "df"))
    Seq("docs" -> lex.docs, "postings" -> lex.postings,
        "lens" -> lex.lens, "dfreq" -> lex.dfreq)
      .foreach { case (f, df) => df.write.parquet(s"$root/lex/$f") }
    assert(rows(Relevance.loadLexIndex(spark, s"$root/lex").docs) ==
      rows(lex.docs), "an uncommitted legacy layout loads from the root")
    val lex2 = lex.copy(docs = Seq(1L, 2L, 3L).toDF("doc_id"))
    assert(Relevance.saveLexIndex(lex2, s"$root/lex") == 1L)
    val lexBack = Relevance.loadLexIndex(spark, s"$root/lex")
    assert(rows(lexBack.docs) == rows(lex2.docs) &&
      rows(lexBack.postings) == rows(lex.postings) &&
      rows(lexBack.lens) == rows(lex.lens) &&
      rows(lexBack.dfreq) == rows(lex.dfreq))
    // trigram LM
    val lm = Relevance.TrigramLm(
      docs = Seq(1L).toDF("doc_id"),
      model = Seq(("a", "b", "c", 3L)).toDF("w1", "w2", "w3", "c123"))
    assert(Relevance.saveTrigramLm(lm, s"$root/lm") == 1L)
    val lmBack = Relevance.loadTrigramLm(spark, s"$root/lm")
    assert(rows(lmBack.docs) == rows(lm.docs) &&
      rows(lmBack.model) == rows(lm.model))
    // word store
    val ws = Tokenizer.WordStore(
      docs = Seq(1L).toDF("doc_id"),
      words = Seq(("hi", 4L)).toDF("word", "wc"))
    assert(Tokenizer.saveWordStore(ws, s"$root/ws") == 1L)
    val wsBack = Tokenizer.loadWordStore(spark, s"$root/ws")
    assert(rows(wsBack.docs) == rows(ws.docs) &&
      rows(wsBack.words) == rows(ws.words))
    // moments store
    val ms = Similarity.MomentsStore(
      docs = Seq(1L).toDF("doc_id"),
      moments = Seq((0, 0, 1L, 2L, 2L, 4L))
        .toDF("i", "j", "n", "s_i", "s_j", "sp"))
    assert(Similarity.saveMomentsStore(ms, s"$root/ms") == 1L)
    val msBack = Similarity.loadMomentsStore(spark, s"$root/ms")
    assert(rows(msBack.docs) == rows(ms.docs) &&
      rows(msBack.moments) == rows(ms.moments))
    // sig index — identity and signatures commit together; the
    // loaded identity still gates (mh count check intact)
    val six = Dedup.SigIndex(
      sigs = Seq((1L, 11L, 12L)).toDF("doc_id", "mh_0", "mh_1"),
      numHashes = 2, shingleSize = 3, seed = 42L, portable = true)
    assert(Dedup.saveSigIndex(six, s"$root/six") == 1L)
    val sixBack = Dedup.loadSigIndex(spark, s"$root/six")
    assert(sixBack.numHashes == 2 && sixBack.shingleSize == 3 &&
      sixBack.seed == 42L && sixBack.portable &&
      rows(sixBack.sigs) == rows(six.sigs))
    // a second commit on the sig store supersedes without touching v1
    val six2 = six.copy(sigs = Seq((1L, 11L, 12L), (2L, 21L, 22L))
      .toDF("doc_id", "mh_0", "mh_1"))
    assert(Dedup.saveSigIndex(six2, s"$root/six") == 2L)
    assert(Dedup.loadSigIndex(spark, s"$root/six").sigs.count() == 2L)
    assert(spark.read.parquet(s"$root/six/_v1/sigs").count() == 1L,
      "v1 is immutable under later commits")
  }

  test("a multi-frame load resolves its version once: a commit that " +
      "lands between two frame reads never tears the load") {
    val dir = InjectingFs.tempDir(spark, "graft_fv_torn") + "/lex"
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    def ix(k: Long) = Relevance.LexIndex(
      docs = Seq(k).toDF("doc_id"),
      postings = Seq((k, "t", k)).toDF("doc_id", "token", "tf"),
      lens = Seq((k, k)).toDF("doc_id", "doc_len"),
      dfreq = Seq(("t", k)).toDF("token", "df"))
    def frames(i: Relevance.LexIndex) = Seq("docs" -> i.docs,
      "postings" -> i.postings, "lens" -> i.lens, "dfreq" -> i.dfreq)
    def same(a: Relevance.LexIndex, b: Relevance.LexIndex): Boolean =
      frames(a).zip(frames(b)).forall { case ((_, x), (_, y)) =>
        rows(x) == rows(y) }
    assert(FrameVersions.commit(spark, dir, frames(ix(1L))) == 1L)
    // a concurrent writer has v2's frames on disk and commits them
    // (a plain <n> marker) just as the load lists _commits a second
    // time
    frames(ix(2L)).foreach { case (f, df) =>
      df.write.parquet(s"$dir/_v2/$f") }
    val marker2 =
      new java.io.File(InjectingFs.local(s"$dir/_commits"), "2")
    var listings = 0
    val loaded = InjectingFs.withHook { (op, p) =>
      if (op == InjectingFs.Listing && p.getName == "_commits") {
        listings += 1
        if (listings == 2) marker2.createNewFile(): Unit
      }
    }(Relevance.loadLexIndex(spark, dir))
    assert(same(loaded, ix(1L)), "every frame comes from v1")
    marker2.createNewFile(): Unit
    assert(same(Relevance.loadLexIndex(spark, dir), ix(2L)),
      "the next load serves every frame of v2")
    assert(FrameVersions.latest(spark, dir).tag == "-",
      "a plain <n> marker reads as tag -")
  }

  test("vacuum drops the version-0 root frames once a committed " +
      "version replaces them below the kept horizon") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_fv_root").toString + "/s"
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/docs")
    Seq(1L).toDF("x").write.parquet(s"$dir/extra")
    assert(FrameVersions.commit(spark, dir, Seq(
      "docs" -> Seq((1L, "a"), (2L, "b")).toDF("id", "v"))) == 1L)
    // keepLast = 2 keeps v1 and the root it replaced
    assert(FrameVersions.vacuum(spark, dir, keepLast = 2) == 0L)
    assert(new java.io.File(s"$dir/docs").exists)
    // keepLast = 1: the root falls below the horizon and drops
    assert(FrameVersions.vacuum(spark, dir) == 0L)
    assert(!new java.io.File(s"$dir/docs").exists &&
      !new java.io.File(s"$dir/extra").exists)
    assert(FrameVersions.latest(spark, dir).read("docs").count() == 2L)
    assert(new java.io.File(s"$dir/_v1/docs").exists &&
      new java.io.File(s"$dir/_commits").exists)
  }
}
