package graft

import java.io.File

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.operators.FrameVersions
import graft.streaming.StreamingIngest

/** Crash injection and layout guards for the marker-guarded streaming
  * twins. A crash is modelled on disk: the final `_batches/<id>` marker
  * of a completed batch is dropped and its started marker planted, then
  * the batches are redelivered under a fresh checkpoint — what a
  * restart sees after an attempt died between its store writes and its
  * final marker. */
class StreamingRecoverySpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Turns batch `id`'s completed markers under `root` into a crashed
    * attempt's: final marker gone, started marker present. */
  private def crash(root: String, id: Long): Unit = {
    assert(new File(s"$root/_batches/$id").delete(),
      s"fixture: drop batch $id's final marker")
    assert(new File(s"$root/_batches/$id.started").mkdirs())
  }

  /** Frame `name` of the latest committed version of the store at `dir`. */
  private def latest(dir: String, name: String) =
    FrameVersions.latest(spark, dir).read(name)

  private def recovered(root: String, id: Long): Boolean =
    new File(s"$root/_batches/$id").exists &&
      !new File(s"$root/_batches/$id.started").exists

  test("streamingIntervals: a mid-crash redelivery whose commit landed " +
      "skips it instead of absorbing the delta twice") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = tmpDir("graft_stream_ivl_crash")
    def run(ckpt: String, batches: Seq[Seq[(String, Long, Long)]]): Unit = {
      val mem = MemoryStream[(String, Long, Long)]
      val q = StreamingIngest.streamingIntervals(
        mem.toDF().toDF("k", "s", "e"), s"$tmp/raw", s"$tmp/islands",
        s"$tmp/$ckpt", "k", "s", "e", minGap = 2L)
      try batches.foreach { b =>
        mem.addData(b: _*)
        q.processAllAvailable()
      } finally q.stop()
    }
    def islands(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val b1 = Seq(("a", 1L, 3L), ("a", 10L, 12L), ("b", 0L, 1L))
    val b2 = Seq(("a", 5L, 9L), ("c", 7L, 8L))
    run("ckpt", Seq(b1, b2))
    val full = islands(graft.operators.Funnel.mergeIntervals(
      (b1 ++ b2).toDF("k", "s", "e"), "k", "s", "e", minGap = 2L))
    assert(islands(latest(s"$tmp/islands", "islands")) == full)
    // batch 1 already committed to the islands store, then "died"
    val committed = FrameVersions.latest(spark, s"$tmp/islands")
    assert(committed.tag == "1")
    crash(s"$tmp/raw", 1L)
    run("ckpt2", Seq(b1, b2))
    val after = islands(latest(s"$tmp/islands", "islands"))
    assert(after == full, s"islands after the redelivery: $after")
    assert(FrameVersions.current(spark, s"$tmp/islands") == committed.n,
      "the redelivery committed nothing")
    assert(after(("a", 1L)) == ((1L, 12L, 3L)), "n_merged not inflated")
    assert(recovered(s"$tmp/raw", 1L), "final marker restored")
  }

  test("streamingSccCdc: a crash between the labels and quotient " +
      "overwrites heals on redelivery — labels and quotient equal the " +
      "full recompute") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = tmpDir("graft_stream_scccdc_crash")
    val state = s"$tmp/state"
    def run(ckpt: String, batches: Seq[Seq[(String, Long, Long)]]): Unit = {
      val mem = MemoryStream[(String, Long, Long)]
      val q = StreamingIngest.streamingSccCdc(
        mem.toDF().toDF("op", "start_id", "end_id"), s"$tmp/edges",
        s"$tmp/dels", state, s"$tmp/$ckpt")
      try batches.foreach { b =>
        mem.addData(b: _*)
        q.processAllAvailable()
      } finally q.stop()
    }
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch 0: a 3-cycle {1,2,3} feeding the chain 3→4→5, and a
    // 2-cycle {7,8}; batch 1 closes 5→1, which folds 4 and 5 into the
    // cycle's SCC, and splits {7,8} by deleting 8→7
    val b1 = Seq(("add", 1L, 2L), ("add", 2L, 3L), ("add", 3L, 1L),
      ("add", 3L, 4L), ("add", 4L, 5L), ("add", 7L, 8L), ("add", 8L, 7L))
    val b2 = Seq(("add", 5L, 1L), ("del", 8L, 7L))
    run("ckpt", Seq(b1))
    val (preLabels, preQuotient) =
      (pairs(latest(state, "labels")), pairs(latest(state, "quotient")))
    val eff = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 1L), (7L, 8L)).toDF("start_id", "end_id")
    val fullLabels =
      graft.operators.GraphOps.stronglyConnectedComponents(eff)
    // the crash: batch 1's attempt claimed v2 and wrote its labels
    // frame, then died before the quotient frame and the commit
    assert(new File(s"$tmp/edges/_batches/1.started").mkdirs())
    assert(new File(s"$state/_v2").mkdir() &&
      new File(s"$state/_v2/_claim").createNewFile())
    fullLabels.write.parquet(s"$state/_v2/labels")
    assert(pairs(latest(state, "labels")) == preLabels &&
      pairs(latest(state, "quotient")) == preQuotient,
      "a load serves the previous version")
    run("ckpt2", Seq(b1, b2))
    assert(preQuotient.nonEmpty &&
      preQuotient != pairs(latest(state, "quotient")))
    assert(pairs(latest(state, "labels")) == pairs(fullLabels))
    assert(pairs(latest(state, "quotient")) == pairs(graft.operators
      .GraphOps.condensation(eff, fullLabels)))
    val v = FrameVersions.latest(spark, state)
    assert(v.n == 2L && v.tag == "1", s"batch 1 committed once: $v")
    assert(recovered(s"$tmp/edges", 1L), "final marker restored")
  }

  test("streamingDupClustersCdc and streamingCommunitiesCdc: a store " +
      "left in place is rebuilt from the op-store fold, and a mid-crash " +
      "redelivery keeps the batch's one commit") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = tmpDir("graft_stream_cdc_crash")
    type Start = (MemoryStream[(String, Long, Long)], String) =>
      org.apache.spark.sql.streaming.StreamingQuery
    def run(start: Start, ckpt: String,
        batches: Seq[Seq[(String, Long, Long)]]): Unit = {
      val mem = MemoryStream[(String, Long, Long)]
      val q = start(mem, s"$tmp/$ckpt")
      try batches.foreach { b =>
        mem.addData(b: _*)
        q.processAllAvailable()
      } finally q.stop()
    }
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // dup clusters: batch 1 extends the chain and takes down doc 11,
    // whose partner 10 stays as a singleton
    val dup: Start = (mem, ckpt) =>
      StreamingIngest.streamingDupClustersCdc(
        mem.toDF().toDF("op", "id_a", "id_b"), s"$tmp/pairs",
        s"$tmp/pdels", s"$tmp/clusters", ckpt)
    val d0 = Seq(("add", 1L, 2L), ("add", 2L, 3L), ("add", 10L, 11L))
    val d1 = Seq(("add", 3L, 4L), ("del", 11L, 0L))
    run(dup, "dck", Seq(d0, d1))
    val dupVersion = FrameVersions.current(spark, s"$tmp/clusters")
    crash(s"$tmp/pairs", 1L)
    run(dup, "dck2", Seq(d0, d1))
    assert(labels(latest(s"$tmp/clusters", "clusters")) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L))
    assert(FrameVersions.current(spark, s"$tmp/clusters") == dupVersion,
      "the redelivery committed nothing")
    assert(recovered(s"$tmp/pairs", 1L))
    // communities: the labels store starts as a stale in-place write
    // with no commit; batch 0 builds from the op stores instead, and
    // batch 1 cuts the bridge between two triangles and hangs 7 off
    // the second
    Seq((1L, 99L)).toDF("id", "community").write.parquet(s"$tmp/labels")
    val comm: Start = (mem, ckpt) =>
      StreamingIngest.streamingCommunitiesCdc(
        mem.toDF().toDF("op", "start_id", "end_id"), s"$tmp/edges",
        s"$tmp/edels", s"$tmp/labels", ckpt)
    val e0 = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L),
      (6L, 4L), (3L, 4L))
    val c0 = e0.map { case (a, b) => ("add", a, b) }
    val c1 = Seq(("del", 3L, 4L), ("add", 6L, 7L))
    run(comm, "cck0", Seq(c0))
    val l0 = graft.operators.GraphOps.louvain(e0.toDF("start_id", "end_id"),
      rounds = 4, schedule = "gggg")
    assert(labels(latest(s"$tmp/labels", "labels")) == labels(l0),
      "the first trigger builds from the op stores")
    assert(new File(s"$tmp/labels").list().forall(n =>
      n.startsWith("_") || n.startsWith(".")),
      "the vacuum dropped the in-place root files")
    // a fresh checkpoint redelivers batch 0, which its marker skips
    run(comm, "cck", Seq(c0, c1))
    val commVersion = FrameVersions.current(spark, s"$tmp/labels")
    crash(s"$tmp/edges", 1L)
    run(comm, "cck2", Seq(c0, c1))
    // the trigger's fold: adds land in the pre-delete world, the delete
    // rebuilds from final ground truth
    val afterAdd = graft.operators.GraphOps.incrementalCommunities(
      (e0 :+ ((6L, 7L))).toDF("start_id", "end_id"),
      Seq((6L, 7L)).toDF("start_id", "end_id"), l0)
    val eff = e0.filterNot(_ == ((3L, 4L))) :+ ((6L, 7L))
    assert(labels(latest(s"$tmp/labels", "labels")) ==
      labels(graft.operators.GraphOps.decrementalCommunities(
        eff.toDF("start_id", "end_id"),
        Seq((3L, 4L)).toDF("start_id", "end_id"), afterAdd)))
    assert(FrameVersions.current(spark, s"$tmp/labels") == commVersion,
      "the redelivery committed nothing")
    assert(recovered(s"$tmp/edges", 1L))
  }

  test("streamingSccCdc refuses an edgesDir that streamingScc appended " +
      "loose files into") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = tmpDir("graft_stream_scc_mixed")
    // the flat append the former add-only twin made: loose parquet
    // files at the edge store's root
    Seq((1L, 2L), (2L, 1L)).toDF("start_id", "end_id")
      .write.mode("append").parquet(s"$tmp/edges")
    val mem2 = MemoryStream[(String, Long, Long)]
    val q2 = StreamingIngest.streamingSccCdc(
      mem2.toDF().toDF("op", "start_id", "end_id"), s"$tmp/edges",
      s"$tmp/dels", s"$tmp/state", s"$tmp/ckpt2")
    try {
      mem2.addData(("add", 3L, 4L))
      val e = intercept[StreamingQueryException](q2.processAllAvailable())
      assert(e.getMessage.contains("Migrate once") &&
        e.getMessage.contains("batch=-1"), e.getMessage)
    } finally q2.stop()
    assert(!new File(s"$tmp/edges/_batches").exists &&
      !new File(s"$tmp/state").exists, "refused before any write")
  }
}
