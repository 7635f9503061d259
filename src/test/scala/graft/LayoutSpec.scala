package graft

import org.apache.spark.sql.functions._

import graft.operators.Layout

/** Z-order layout + file-skipping math vs hand-computed Morton codes
  * and brute-force pruning. */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("zValue: hand-computed Morton interleave, bounds, degenerate k=1") {
    // x=0b101, y=0b011 → bit i of x at 2i, of y at 2i+1:
    // z = x0 + 2·y0 + 4·x1 + 8·y1 + 16·x2 + 32·y2
    //   = 1  + 2    + 0    + 8    + 16    + 0 = 27
    val df = Seq((5L, 3L)).toDF("x", "y")
    val z = df.select(Layout.zValue(Seq(col("x"), col("y")), 3))
      .head().getLong(0)
    assert(z == 27L, s"got $z")
    // max corner interleaves to all-ones
    val zMax = Seq((7L, 7L)).toDF("x", "y")
      .select(Layout.zValue(Seq(col("x"), col("y")), 3))
      .head().getLong(0)
    assert(zMax == 63L)
    // k=1 is the identity on the low bits
    val z1 = Seq(Tuple1(5L)).toDF("x")
      .select(Layout.zValue(Seq(col("x")), 3)).head().getLong(0)
    assert(z1 == 5L)
    intercept[IllegalArgumentException](Layout.zValue(Nil, 3))
    intercept[IllegalArgumentException](
      Layout.zValue(Seq(col("x")), 63))
  }

  test("zOrderLayout: exact integer normalization (div, not rounded " +
      "double), z and bucket in range, single-point domain maps to 0") {
    val pts = for { x <- 0L to 16L; y <- 100L to 116L }
      yield (x, y, 1L)
    val df = pts.toDF("x", "y", "c")
    val laid = Layout.zOrderLayout(df, Seq("x", "y"), bits = 4,
      nBuckets = 16)
    val rows = laid.select("x", "y", "_z", "_bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    rows.foreach { case (x, y, z, b) =>
      // replay: norm = (v - min) * 15 div span (span 16 both dims)
      val nx = (x - 0L) * 15L / 16L
      val ny = (y - 100L) * 15L / 16L
      val expect = (0 until 4).map(i =>
        (((nx >> i) & 1L) << (2 * i)) | (((ny >> i) & 1L) << (2 * i + 1)))
        .reduce(_ | _)
      assert(z == expect, s"($x,$y): z=$z expect=$expect")
      assert(b == z * 16L / 256L)
      assert(z >= 0L && z < 256L && b >= 0L && b < 16L)
    }
    // single-point domain: span 0 → coordinate 0, never a div by zero
    val flat = Seq((7L, 1L), (7L, 2L)).toDF("x", "y")
    val fz = Layout.zOrderLayout(flat, Seq("x", "y"), 4, 4)
      .select("_z").collect().map(_.getLong(0)).toSet
    // x collapses to 0; y spans {1,2} → norms {0,15} → z ∈ {0, 170}
    assert(fz == Set(0L, 170L), s"got $fz")
  }

  // canonical xy2d (the published bit-level state machine) — the
  // reference the unrolled column implementation must reproduce
  private def xy2d(nBits: Int, x0: Long, y0: Long): Long = {
    var x = x0; var y = y0; var d = 0L
    val n = 1L << nBits
    var s = n >> 1
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  test("withHilbert: equals the canonical xy2d on the full grid, is a " +
      "bijection, and consecutive curve positions are grid neighbors " +
      "(the locality property Z-order lacks)") {
    val pts = for { x <- 0L until 16L; y <- 0L until 16L } yield (x, y)
    val got = Layout.withHilbert(pts.toDF("x", "y"), "x", "y", 4)
      .select("x", "y", "_h").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pts.foreach { case (x, y) =>
      assert(got((x, y)) == xy2d(4, x, y), s"($x,$y)")
    }
    assert(got.values.toSet == (0L until 256L).toSet, "bijection")
    // every unit step along the curve is a unit step on the grid
    val byH = got.toSeq.map { case ((x, y), h) => (h, x, y) }.sortBy(_._1)
    byH.sliding(2).foreach { case Seq((_, x1, y1), (_, x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1L,
        s"jump between h-consecutive cells ($x1,$y1)→($x2,$y2)")
    }
    // Z-order does NOT have this property on the same grid (quadrant
    // seams jump) — the reason Hilbert envelopes are tighter
    val zByH = pts.map { case (x, y) =>
      val z = (0 until 4).map(i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1)))
        .reduce(_ | _)
      (z, x, y)
    }.sortBy(_._1)
    val zJumps = zByH.sliding(2).count {
      case Seq((_, x1, y1), (_, x2, y2)) =>
        math.abs(x1 - x2) + math.abs(y1 - y2) > 1L
    }
    assert(zJumps > 0, "sanity: the z traversal has seam jumps")
  }

  test("hilbertLayout: normalization + curve + bucket replay, and the " +
      "2-D box prunes as well as z-order on the aligned grid") {
    val pts = for { x <- 10L until 26L; y <- 100L until 116L }
      yield (x, y)
    val df = pts.toDF("x", "y")
    val laid = Layout.hilbertLayout(df, "x", "y", bits = 4,
      nBuckets = 16)
    laid.select("x", "y", "_h", "_bucket").collect().foreach { r =>
      val (x, y, h, b) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val nx = (x - 10L) * 15L / 15L // span 15: identity on the offset
      val ny = (y - 100L) * 15L / 15L
      assert(h == xy2d(4, nx, ny), s"($x,$y)")
      assert(b == h * 16L / 256L)
    }
    // the [10..13]×[100..103] box is the curve's first 4×4 sub-square
    // (h < 16 ⇒ bucket 0): 15 of 16 buckets skip, rows included
    val verdicts = Layout.skippingVerdicts(
      Layout.fileSkippingStats(laid, "_bucket", Seq("x", "y")),
      Seq(("x", 10L, 13L), ("y", 100L, 103L)))
    val skipped = verdicts
      .agg(sum(col("skipped") * col("n_rows"))).head().getLong(0)
    assert(skipped == 240L, s"hilbert skipped $skipped of 256")
  }

  // The current snapshot's manifest rolled up per bucket, and a fresh
  // fileSkippingStats pass over the snapshot's rows: equal iff the
  // manifest describes its files exactly.
  private def manifestByBucket(path: String, cols: Seq[String])
      : Map[Long, Seq[Any]] =
    Layout.layoutVersionManifest(spark, path,
        Layout.currentLayoutVersion(spark, path))
      .groupBy("bucket").agg(sum("n_rows").as("n_rows"),
        cols.flatMap(c => Seq(min(s"min_$c"), max(s"max_$c"))): _*)
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap

  private def freshByBucket(path: String, cols: Seq[String])
      : Map[Long, Seq[Any]] =
    Layout.fileSkippingStats(Layout.readLayoutVersion(spark, path),
        "_bucket", cols)
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap

  test("writeLayout + prunedScan: the pruned read equals the full " +
      "filter, opens only surviving buckets, an out-of-domain box " +
      "reads nothing, and stats agree with the written files") {
    val pts = (for { x <- 0L until 16L; y <- 0L until 16L }
      yield (x, y)).toDF("x", "y")
    val laid = Layout.zOrderLayout(pts, Seq("x", "y"), 4, 16)
    val path = java.nio.file.Files
      .createTempDirectory("graft_layout").toString + "/store"
    Layout.writeLayout(laid, path, Seq("x", "y"), "z", 4, 16)
    val ranges = Seq(("x", 0L, 3L), ("y", 0L, 3L))
    val pruned = Layout.prunedScan(spark, path, ranges)
    val got = pruned.select("x", "y").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = (for { x <- 0L to 3L; y <- 0L to 3L }
      yield (x, y)).toSet
    assert(got == expect, "pruned scan ≡ full filter")
    // the origin box lives entirely in bucket 0 — the scan must have
    // opened exactly that partition directory
    val opened = pruned.select(col("_bucket").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(opened == Set(0L), s"opened $opened")
    // the manifest was derived from the written store: snapshot v1
    // lists exactly the data files on disk, with their exact stats
    assert(Layout.currentLayoutVersion(spark, path) == 1L)
    val listed = Layout.layoutVersionManifest(spark, path, 1L)
      .select("file").collect().map(_.getString(0)).toSet
    val onDisk = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("_bucket="))
      .flatMap(d => d.listFiles().map(_.getName)
        .filter(_.endsWith(".parquet")).map(f => s"${d.getName}/$f"))
      .toSet
    assert(listed == onDisk)
    assert(manifestByBucket(path, Seq("x", "y")) ==
      freshByBucket(path, Seq("x", "y")))
    // out-of-domain box: every bucket skips, zero rows, schema intact
    val none = Layout.prunedScan(spark, path, Seq(("x", 100L, 200L)))
    assert(none.count() == 0L && none.columns.contains("y"))
    intercept[IllegalArgumentException](
      Layout.prunedScan(spark, path, Nil))
    // fail fast, with a clear message, on a plain parquet dir (no
    // manifest) and on a range over a column the manifest never saw
    val bare = path + "_bare"
    pts.write.parquet(bare)
    val noManifest = intercept[IllegalArgumentException](
      Layout.prunedScan(spark, bare, ranges))
    assert(noManifest.getMessage.contains("no skipping manifest"))
    val noCol = intercept[IllegalArgumentException](
      Layout.prunedScan(spark, path, Seq(("zzz", 0L, 1L))))
    assert(noCol.getMessage.contains("no envelope for column 'zzz'"))
    intercept[IllegalArgumentException](
      Layout.appendToLayout(spark, path, pts, Seq("zzz"), 4, 16))
  }

  test("appendToLayout: delta assigned with the ORIGINAL anchors, " +
      "manifest refreshed by exact stats algebra (no store rescan), " +
      "out-of-domain values clamp for assignment but widen the " +
      "envelope truthfully, pruned scan stays lossless") {
    val base = (for { x <- 0L until 16L; y <- 0L until 16L }
      yield (x, y)).toDF("x", "y")
    val path = java.nio.file.Files
      .createTempDirectory("graft_layout_app").toString + "/store"
    Layout.writeLayout(
      Layout.zOrderLayout(base, Seq("x", "y"), 4, 16), path,
      Seq("x", "y"), "z", 4, 16)
    // delta: an in-domain point, a duplicate of an existing cell, and
    // an OUT-OF-DOMAIN point (x=100 clamps to cell 15 for assignment)
    val delta = Seq((2L, 2L), (15L, 15L), (100L, 3L)).toDF("x", "y")
    Layout.appendToLayout(spark, path, delta, Seq("x", "y"), 4, 16)
    val store = Layout.readLayoutVersion(spark, path)
    assert(store.count() == 259L)
    // the manifest must equal a from-scratch stats pass over the
    // appended store — certifying the new files' stats are exact
    assert(manifestByBucket(path, Seq("x", "y")) ==
      freshByBucket(path, Seq("x", "y")),
      "manifest ≡ fresh stats over the store")
    // x=100 clamped into the max-x boundary cell's bucket, but the
    // envelope records the TRUE value — the box (90..200, 0..15)
    // must therefore still find it
    val far = Layout.prunedScan(spark, path,
      Seq(("x", 90L, 200L), ("y", 0L, 15L)))
      .select("x", "y").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(far == Set((100L, 3L)), s"got $far")
    // lossless over the appended store: origin box picks up the new
    // in-domain point as a duplicate of cell (2,2)
    val box = Layout.prunedScan(spark, path,
      Seq(("x", 0L, 3L), ("y", 0L, 3L)))
      .groupBy("x", "y").count().collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(box.size == 16 && box((2L, 2L)) == 2L &&
      box((0L, 0L)) == 1L)
  }

  test("deleteFromLayout: only touched buckets rewrite, a fully " +
      "erased bucket's directory leaves, the manifest recounts " +
      "exactly, and the pruned scan stays lossless after erasure") {
    val base = (for { x <- 0L until 16L; y <- 0L until 16L }
      yield (y * 16L + x, x, y)).toDF("id", "x", "y")
    val path = java.nio.file.Files
      .createTempDirectory("graft_layout_del").toString + "/store"
    Layout.writeLayout(
      Layout.zOrderLayout(base, Seq("x", "y"), 4, 16), path,
      Seq("x", "y"), "z", 4, 16)
    def bucketFiles(b: Long): Set[String] = {
      val d = new java.io.File(s"$path/_bucket=$b")
      if (!d.exists) Set.empty
      else d.listFiles().map(_.getName).filter(_.endsWith(".parquet"))
        .toSet
    }
    val untouchedBefore = bucketFiles(15L)
    // erase the whole origin 4×4 (bucket 0 dies entirely), one row of
    // bucket 1 (cell (5,1) → x2=1 ⇒ bucket 1), and an unknown id
    val doomed = ((for { x <- 0L until 4L; y <- 0L until 4L }
      yield y * 16L + x) :+ (1L * 16L + 5L) :+ 9999L).toDF("id")
    Layout.deleteFromLayout(spark, path, doomed, "id")
    val store = Layout.readLayoutVersion(spark, path)
    assert(store.count() == 256L - 17L)
    assert(bucketFiles(15L) == untouchedBefore,
      "untouched buckets' files must not rewrite")
    // manifest ≡ a fresh stats pass over the post-erasure snapshot
    val manifest = manifestByBucket(path, Seq("x", "y"))
    assert(manifest == freshByBucket(path, Seq("x", "y")))
    assert(!manifest.contains(0L) && manifest(1L).head == 15L)
    // erased rows are gone from the pruned scan; survivors remain
    val box = Layout.prunedScan(spark, path,
      Seq(("x", 0L, 5L), ("y", 0L, 5L)))
      .select("x", "y").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = (for { x <- 0L to 5L; y <- 0L to 5L
      if !(x < 4 && y < 4) && !(x == 5 && y == 1) } yield (x, y)).toSet
    assert(box == expect)
    // the erased rows stay on disk for pinned readers until vacuum,
    // which purges them: the fully erased bucket's directory leaves
    assert(bucketFiles(0L).nonEmpty)
    Layout.vacuumLayout(spark, path): Unit
    assert(bucketFiles(0L).isEmpty &&
      !new java.io.File(s"$path/_bucket=0").exists,
      "fully erased bucket's directory must leave")
    assert(bucketFiles(15L) == untouchedBefore)
    // erase EVERYTHING: the empty snapshot serves zero rows with the
    // row schema (a file of the ancestor snapshot lends it)...
    Layout.deleteFromLayout(spark, path,
      base.select("id"), "id")
    val empty = Layout.prunedScan(spark, path, Seq(("x", 0L, 5L)))
    assert(empty.count() == 0L && empty.columns.contains("y"))
    // ...until vacuum drops that ancestor: the row schema is gone with
    // the files, and prunedScan refuses with the recovery path instead
    // of dying on schema inference
    Layout.vacuumLayout(spark, path): Unit
    val gone = intercept[IllegalArgumentException](
      Layout.prunedScan(spark, path, Seq(("x", 0L, 5L))))
    assert(gone.getMessage.contains("row schema is gone"))
  }

  test("appendToLayout with curve=hilbert matches the store's curve " +
      "and prunedScan serves the appended hilbert store") {
    val base = (for { x <- 0L until 16L; y <- 0L until 16L
      if x + y > 0 } yield (x, y)).toDF("x", "y")
    val path = java.nio.file.Files
      .createTempDirectory("graft_layout_h").toString + "/store"
    Layout.writeLayout(
      Layout.hilbertLayout(base, "x", "y", 4, 16), path,
      Seq("x", "y"), "hilbert", 4, 16)
    Layout.appendToLayout(spark, path, Seq((0L, 0L)).toDF("x", "y"),
      Seq("x", "y"), 4, 16, curve = "hilbert")
    val got = Layout.prunedScan(spark, path,
      Seq(("x", 0L, 3L), ("y", 0L, 3L)))
      .select("x", "y", "_h").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.keySet ==
      (for { x <- 0L to 3L; y <- 0L to 3L } yield (x, y)).toSet)
    // the appended point carries the curve's own index column and the
    // canonical value for its cell
    assert(got((0L, 0L)) == xy2d(4, 0L, 0L))
    intercept[IllegalArgumentException](
      Layout.appendToLayout(spark, path, base, Seq("x", "y"), 4, 16,
        curve = "loop"))
  }

  // reference Skilling AxesToTranspose + interleave — the published
  // C algorithm transcribed; the column implementation must match it
  private def skilling(bits: Int, coords: Array[Long]): Long = {
    val n = coords.length
    val x = coords.clone()
    var q = 1L << (bits - 1)
    while (q > 1) {
      val p = q - 1
      for (i <- 0 until n) {
        if ((x(i) & q) != 0) x(0) ^= p
        else { val t = (x(0) ^ x(i)) & p; x(0) ^= t; x(i) ^= t }
      }
      q >>= 1
    }
    for (i <- 1 until n) x(i) ^= x(i - 1)
    var t = 0L
    var q2 = 1L << (bits - 1)
    while (q2 > 1) { if ((x(n - 1) & q2) != 0) t ^= q2 - 1; q2 >>= 1 }
    for (i <- 0 until n) x(i) ^= t
    var h = 0L
    for (i <- 0 until n; b <- 0 until bits)
      h |= ((x(i) >> b) & 1L) << (b * n + (n - 1 - i))
    h
  }

  test("withHilbertK: equals the reference Skilling transform on the " +
      "full 3-D grid, is a bijection, and consecutive curve positions " +
      "are grid neighbors in 3-D and 2-D") {
    val pts3 = for { x <- 0L until 8L; y <- 0L until 8L;
      z <- 0L until 8L } yield (x, y, z)
    val got3 = Layout.withHilbertK(pts3.toDF("x", "y", "z"),
        Seq("x", "y", "z"), 3)
      .select("x", "y", "z", "_h").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        r.getLong(3)).toMap
    pts3.foreach { case (x, y, z) =>
      assert(got3((x, y, z)) == skilling(3, Array(x, y, z)),
        s"($x,$y,$z)")
    }
    assert(got3.values.toSet == (0L until 512L).toSet, "3-D bijection")
    val byH3 = got3.toSeq.map { case ((x, y, z), h) => (h, x, y, z) }
      .sortBy(_._1)
    byH3.sliding(2).foreach { case Seq((_, a, b, c), (_, d, e, f)) =>
      assert(math.abs(a - d) + math.abs(b - e) + math.abs(c - f) == 1L,
        s"3-D jump ($a,$b,$c)→($d,$e,$f)")
    }
    // 2-D: a valid Hilbert traversal (orientation may differ from
    // the xy2d convention — the defining property is what matters)
    val pts2 = for { x <- 0L until 16L; y <- 0L until 16L }
      yield (x, y)
    val got2 = Layout.withHilbertK(pts2.toDF("x", "y"),
        Seq("x", "y"), 4)
      .select("x", "y", "_h").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got2.values.toSet == (0L until 256L).toSet, "2-D bijection")
    got2.toSeq.map { case ((x, y), h) => (h, x, y) }.sortBy(_._1)
      .sliding(2).foreach { case Seq((_, x1, y1), (_, x2, y2)) =>
        assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1L)
      }
    intercept[IllegalArgumentException](
      Layout.withHilbertK(pts2.toDF("x", "y"), Seq("x"), 4))
  }

  test("hilbertLayoutK: 3-column normalization + curve + bucket " +
      "replay, box pruning works in 3-D") {
    val pts = for { x <- 5L until 13L; y <- 100L until 108L;
      z <- 0L until 8L } yield (x, y, z)
    val laid = Layout.hilbertLayoutK(pts.toDF("x", "y", "z"),
      Seq("x", "y", "z"), bits = 3, nBuckets = 8)
    laid.select("x", "y", "z", "_h", "_bucket").collect().foreach { r =>
      val (x, y, z, h, b) = (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))
      // spans are 7 ⇒ (v−min)·7 div 7 is the identity on the offset
      val expect = skilling(3, Array(x - 5L, y - 100L, z))
      assert(h == expect && b == h * 8L / 512L, s"($x,$y,$z)")
    }
    // the first 64 curve steps fill one 4×4×4 octant — the box query
    // over that octant prunes 7 of 8 buckets
    val skipped = Layout.skippingVerdicts(
      Layout.fileSkippingStats(laid, "_bucket", Seq("x", "y", "z")),
      Seq(("x", 5L, 8L), ("y", 100L, 103L), ("z", 0L, 3L)))
      .agg(sum(col("skipped") * col("n_rows"))).head().getLong(0)
    assert(skipped == 448L, s"3-D box skipped $skipped of 512")
  }

  private def copyDir(src: String, dst: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    val d = new org.apache.hadoop.fs.Path(dst)
    if (fs.exists(d)) fs.delete(d, true): Unit
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(src), fs, d, false, conf): Unit
  }

  test("appendToLayout: anchors come from the persisted _meta, not " +
      "the drifted manifest — an out-of-domain append must not move " +
      "later appends' bucket assignment") {
    val base = (for { x <- 0L until 16L; y <- 0L until 16L }
      yield (x, y)).toDF("x", "y")
    val path = java.nio.file.Files
      .createTempDirectory("graft_layout_anchor").toString + "/store"
    Layout.writeLayout(
      Layout.zOrderLayout(base, Seq("x", "y"), 4, 16), path,
      Seq("x", "y"), "z", 4, 16)
    val buildZ = Layout.zOrderLayout(base, Seq("x", "y"), 4, 16)
      .filter(col("x") === 2L && col("y") === 2L)
      .select("_z").head().getLong(0)
    // append 1: out-of-domain x=100 — the manifest envelope for x
    // widens to 100, which envelope-derived anchors would absorb
    Layout.appendToLayout(spark, path,
      Seq((100L, 3L)).toDF("x", "y"), Seq("x", "y"), 4, 16)
    // append 2: the in-domain cell (2,2) must land EXACTLY where the
    // build-time layout put it — anchor stability survives drift
    Layout.appendToLayout(spark, path,
      Seq((2L, 2L)).toDF("x", "y"), Seq("x", "y"), 4, 16)
    val zs = Layout.readLayoutVersion(spark, path)
      .filter(col("x") === 2L && col("y") === 2L)
      .select("_z").collect().map(_.getLong(0)).toSet
    assert(zs == Set(buildZ),
      s"appended (2,2) drifted: got $zs, build-time z was $buildZ")
  }

  test("appendToLayout: the store's _meta identity is validated — " +
      "wrong curve, wrong bits, and a Skilling store fed the xy2d " +
      "curve all fail fast with the stored identity in the message") {
    val base = (for { x <- 0L until 16L; y <- 0L until 16L }
      yield (x, y)).toDF("x", "y")
    val path = java.nio.file.Files
      .createTempDirectory("graft_layout_id").toString + "/store"
    Layout.writeLayout(
      Layout.zOrderLayout(base, Seq("x", "y"), 4, 16), path,
      Seq("x", "y"), "z", 4, 16)
    val delta = Seq((1L, 1L)).toDF("x", "y")
    val wrongCurve = intercept[IllegalArgumentException](
      Layout.appendToLayout(spark, path, delta, Seq("x", "y"), 4, 16,
        curve = "hilbert"))
    assert(wrongCurve.getMessage.contains("built with curve=z"))
    intercept[IllegalArgumentException](
      Layout.appendToLayout(spark, path, delta, Seq("x", "y"), 5, 16))
    intercept[IllegalArgumentException](
      Layout.appendToLayout(spark, path, delta, Seq("y", "x"), 4, 16))
    // a k=2 store built with the SKILLING curve must refuse xy2d
    val kPath = path + "_k2"
    Layout.writeLayout(
      Layout.hilbertLayoutK(base, Seq("x", "y"), 4, 16), kPath,
      Seq("x", "y"), "hilbertk", 4, 16)
    val mixed = intercept[IllegalArgumentException](
      Layout.appendToLayout(spark, kPath, delta, Seq("x", "y"), 4, 16,
        curve = "hilbert"))
    assert(mixed.getMessage.contains("built with curve=hilbertk"))
    // and a bare store with no _meta refuses appends outright
    val bare = path + "_bare"
    base.write.parquet(bare)
    val noMeta = intercept[IllegalArgumentException](
      Layout.appendToLayout(spark, bare, delta, Seq("x", "y"), 4, 16))
    assert(noMeta.getMessage.contains("no layout identity"))
    // a caller-declared identity that disagrees with how the frame
    // was ACTUALLY laid out (the builders tag _bucket) fails at
    // writeLayout — a mis-declared _meta would scatter later appends
    val misPath = path + "_mis"
    val laid = Layout.zOrderLayout(base, Seq("x", "y"), 8, 16)
    val mis = intercept[IllegalArgumentException](
      Layout.writeLayout(laid, misPath, Seq("x", "y"), "z", 4, 16))
    assert(mis.getMessage.contains("laid out with curve=z, bits=8"))
    intercept[IllegalArgumentException](
      Layout.writeLayout(laid, misPath, Seq("x", "y"), "hilbert", 8,
        16))
    intercept[IllegalArgumentException](
      Layout.writeLayout(laid, misPath, Seq("y", "x"), "z", 8, 16))
  }

  test("appendToLayout + deleteFromLayout on a k-D Skilling store: " +
      "maintenance parity for curve=hilbertk (k=3)") {
    val all = for { x <- 0L until 8L; y <- 0L until 8L;
      z <- 0L until 8L } yield (x, y, z)
    val (held, base) = all.partition { case (x, y, z) =>
      (x + y + z) % 3L == 0L }
    val path = java.nio.file.Files
      .createTempDirectory("graft_layout_hk").toString + "/store"
    Layout.writeLayout(
      Layout.hilbertLayoutK(base.toDF("x", "y", "z"),
        Seq("x", "y", "z"), 3, 8), path,
      Seq("x", "y", "z"), "hilbertk", 3, 8)
    Layout.appendToLayout(spark, path, held.toDF("x", "y", "z"),
      Seq("x", "y", "z"), 3, 8, curve = "hilbertk")
    val store = Layout.readLayoutVersion(spark, path)
    assert(store.count() == 512L)
    // manifest ≡ fresh stats over the appended store
    assert(manifestByBucket(path, Seq("x", "y", "z")) ==
      freshByBucket(path, Seq("x", "y", "z")))
    // every appended row carries the store's own curve value — the
    // Skilling index, not xy2d, not Morton
    store.filter(col("x") === 3L && col("y") === 4L && col("z") === 5L)
      .select("_h").collect().foreach { r =>
        assert(r.getLong(0) == skilling(3, Array(3L, 4L, 5L)))
      }
    // pruned scan is lossless over the maintained store
    val box = Layout.prunedScan(spark, path,
      Seq(("x", 1L, 3L), ("y", 2L, 5L), ("z", 0L, 2L)))
      .select("x", "y", "z").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expect = all.filter { case (x, y, z) =>
      x >= 1 && x <= 3 && y >= 2 && y <= 5 && z <= 2 }.toSet
    assert(box == expect)
    // erasure is curve-agnostic: takedown works on the k-D store too
    // (a sibling store carrying an id column, then two rows erased)
    val idPath = path + "_ids"
    Layout.writeLayout(
      Layout.hilbertLayoutK(
        all.map { case (x, y, z) => (x * 64L + y * 8L + z, x, y, z) }
          .toDF("id", "x", "y", "z"),
        Seq("x", "y", "z"), 3, 8), idPath,
      Seq("x", "y", "z"), "hilbertk", 3, 8)
    Layout.deleteFromLayout(spark, idPath,
      Seq(0L * 64L + 0L * 8L + 0L, 3L * 64L + 4L * 8L + 5L).toDF("id"),
      "id")
    val after = Layout.prunedScan(spark, idPath,
      Seq(("x", 0L, 7L), ("y", 0L, 7L), ("z", 0L, 7L)))
    assert(after.count() == 510L)
  }

  test("bloom point-lookup pruning: lossless, actually collapses the " +
      "open set, survives append (OR-merge) and erasure (recount); " +
      "guards refuse un-sketched columns and empty predicates") {
    val base = (0L until 256L).map(i => (i, i % 16L, i / 16L))
      .toDF("id", "x", "y")
    val root = java.nio.file.Files
      .createTempDirectory("graft_layout_bloom").toString
    val path = root + "/store"
    Layout.writeLayout(
      Layout.zOrderLayout(base, Seq("x", "y"), 4, 16), path,
      Seq("x", "y"), "z", 4, 16, bloomCols = Seq("id"))
    def lookup(v: Long): Set[(Long, Long, Long)] =
      Layout.prunedScan(spark, path, Nil, points = Seq(("id", v)))
        .select("id", "x", "y").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(lookup(37L) == Set((37L, 5L, 2L)))
    assert(lookup(9999L).isEmpty, "absent key returns no rows")
    // the sketch actually prunes: probe the manifest exactly the way
    // prunedScan does — the id is non-clustered, min/max would keep
    // every bucket's file, the bloom keeps almost none
    val stats = Layout.layoutVersionManifest(spark, path, 1L)
      .select("bucket", "bloom_id").collect()
    val maybe = stats.count(r => graft.functions.BloomKernel
      .mightContainLong(r.getAs[Array[Byte]](1), 37L, 5))
    assert(maybe >= 1 && maybe <= 2,
      s"16-key buckets at 8192 bits must probe ~1 bucket, got $maybe " +
        s"of ${stats.length}")
    // and the SCAN itself opens only those buckets' files — the
    // pruning is in the plan, not just the verdict math
    val opened = Layout.prunedScan(spark, path, Nil,
        points = Seq(("id", 37L)))
      .inputFiles.map(_.split("/_bucket=")(1).split("/")(0)).distinct
    assert(opened.length == maybe,
      s"the point scan must open exactly the maybe-present bucket " +
        s"dirs, opened ${opened.mkString(",")}")
    // append: the delta's new file carries its own sketch (no
    // rescan) — new id findable, old ids unaffected
    Layout.appendToLayout(spark, path,
      Seq((1000L, 3L, 4L)).toDF("id", "x", "y"), Seq("x", "y"), 4, 16)
    assert(lookup(1000L) == Set((1000L, 3L, 4L)))
    assert(lookup(37L) == Set((37L, 5L, 2L)))
    // erasure: touched buckets RECOUNT their sketches from survivors
    Layout.deleteFromLayout(spark, path, Seq(37L).toDF("id"), "id")
    assert(lookup(37L).isEmpty)
    assert(lookup(38L) == Set((38L, 6L, 2L)))
    // the recount is real: 37's probe goes negative again (a sketch
    // can never un-set bits; only the recount can)
    val statsAfter = Layout.layoutVersionManifest(spark, path,
        Layout.currentLayoutVersion(spark, path))
      .select("bucket", "bloom_id").collect()
    val maybeAfter = statsAfter.count(r => graft.functions.BloomKernel
      .mightContainLong(r.getAs[Array[Byte]](1), 37L, 5))
    assert(maybeAfter == 0,
      s"erased key must probe negative after the recount, got " +
        s"$maybeAfter maybe-buckets")
    // a point probe on a CLUSTERED stat column needs no sketch: its
    // min/max envelope serves the equality losslessly (the r15-advice
    // fallback) — rows equal the full filter, and the envelope still
    // prunes the open set
    val envPoint = Layout.prunedScan(spark, path, Nil,
        points = Seq(("x", 3L)))
    val envIds = envPoint.select("id").collect().map(_.getLong(0)).toSet
    assert(envIds ==
      ((0L until 256L).filter(_ % 16L == 3L).toSet + 1000L),
      "envelope-only point probe must equal the full filter")
    val envOpened = envPoint.inputFiles
      .map(_.split("/_bucket=")(1).split("/")(0)).distinct
    assert(envOpened.length < 16,
      s"the x envelope must prune some of the 16 buckets, opened " +
        s"${envOpened.length}")
    // guards: at least one predicate is required; a column with
    // NEITHER a sketch nor an envelope refuses
    intercept[IllegalArgumentException](
      Layout.prunedScan(spark, path, Nil))
    val plain = root + "/plain"
    Layout.writeLayout(
      Layout.zOrderLayout(base, Seq("x", "y"), 4, 16), plain,
      Seq("x", "y"), "z", 4, 16)
    intercept[IllegalArgumentException](
      Layout.prunedScan(spark, plain, Nil, points = Seq(("id", 37L))))
    // ranges and points COMPOSE: the box gates the envelope, the
    // sketch gates membership, rows equal the full filter
    val boxed = Layout.prunedScan(spark, path,
        Seq(("x", 0L, 7L)), points = Seq(("id", 38L)))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(boxed == Set(38L))
  }

  test("normalizeToBits: a domain too wide for the bit budget raises " +
      "a clear error instead of wrapping negative") {
    val wide = Seq((0L, 0L), (3_000_000_000_000_000L, 1L))
      .toDF("ts", "y")
    val err = intercept[RuntimeException](
      Layout.zOrderLayout(wide, Seq("ts", "y"), bits = 16,
        nBuckets = 16).select("_z").collect())
    assert(err.getMessage.contains("overflows long at bits=16"),
      s"got: ${err.getMessage}")
    // a signed domain wider than Long.MaxValue: under ANSI (the
    // Spark 4 default) the max - min subtraction itself throws
    // ARITHMETIC_OVERFLOW; under non-ANSI it would wrap negative and
    // the guard's span < 0 arm catches it — either way the failure is
    // LOUD, never negative buckets
    val wrapped = Seq((-5_000_000_000_000_000_000L, 0L),
      (5_000_000_000_000_000_000L, 1L)).toDF("h", "y")
    val err2 = intercept[RuntimeException](
      Layout.zOrderLayout(wrapped, Seq("h", "y"), bits = 8,
        nBuckets = 16).select("_z").collect())
    assert(err2.getMessage.contains("overflows long") ||
      err2.getMessage.contains("ARITHMETIC_OVERFLOW"),
      s"got: ${err2.getMessage}")
  }

  test("fileSkippingStats + skippingVerdicts: verdicts equal brute " +
      "force, and the z-order layout skips strictly more rows than a " +
      "single-column sort for a 2-D box") {
    val pts = for { x <- 0L until 16L; y <- 0L until 16L }
      yield (x, y)
    val df = pts.toDF("x", "y")
    val ranges = Seq(("x", 0L, 3L), ("y", 0L, 3L))
    def skippedRows(laid: org.apache.spark.sql.DataFrame): Long =
      Layout.skippingVerdicts(
          Layout.fileSkippingStats(laid, "_bucket", Seq("x", "y")),
          ranges)
        .agg(sum(col("skipped") * col("n_rows"))).head().getLong(0)
    val zLaid = Layout.zOrderLayout(df, Seq("x", "y"), 4, 16)
    // brute force: a bucket is skippable iff it has no row in the box
    val verdicts = Layout.skippingVerdicts(
      Layout.fileSkippingStats(zLaid, "_bucket", Seq("x", "y")), ranges)
      .collect().map(r => r.getAs[Long]("bucket") ->
        r.getAs[Long]("skipped")).toMap
    val brute = zLaid.groupBy("_bucket")
      .agg(max(when(col("x").between(0, 3) && col("y").between(0, 3),
        1L).otherwise(0L)).as("hit"))
      .collect().map(r => r.getLong(0) -> (1L - r.getLong(1))).toMap
    // stats-based pruning is CONSERVATIVE: it may keep a bucket whose
    // envelope intersects the box without containing a row, but must
    // never skip a bucket that has one
    verdicts.foreach { case (b, s) =>
      if (s == 1L) assert(brute(b) == 1L, s"bucket $b wrongly skipped")
    }
    // the 4×4 box lands entirely in z-bucket 0 (z < 16) → 15/16 skipped
    val zSkipped = skippedRows(zLaid)
    assert(zSkipped == 240L, s"z-order skipped $zSkipped of 256")
    // single-column layout: bucket by x alone — y is shredded, the box
    // touches 4 of 16 buckets → only 12/16 of the rows skip
    val linear = df.withColumn("_bucket", col("x"))
    val linSkipped = skippedRows(linear)
    assert(linSkipped == 192L, s"linear skipped $linSkipped of 256")
    assert(zSkipped > linSkipped,
      "z-order must prune strictly more rows than the 1-D sort")
  }

  // ───────────────── versioned manifests (snapshots) ─────────────────

  private def vRows(df: org.apache.spark.sql.DataFrame)
      : Set[(Long, Long, Long)] =
    df.select("id", "x", "y").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def vFixture(): (String, Set[(Long, Long, Long)]) = {
    val base = (for { x <- 0L until 16L; y <- 0L until 16L }
      yield (x * 16 + y, x, y)).toDF("id", "x", "y")
    val laid = Layout.zOrderLayout(base, Seq("x", "y"), 4, 16)
    val path = java.nio.file.Files
      .createTempDirectory("graft_vlayout").toString + "/store"
    Layout.writeLayout(laid, path, Seq("x", "y"), "z", 4, 16,
      bloomCols = Seq("id"))
    (path, (for { x <- 0L until 16L; y <- 0L until 16L }
      yield (x * 16 + y, x, y)).toSet)
  }

  test("versioned layout: snapshots PIN — a v1 reader survives append " +
      "and erasure untouched, with no localCheckpoint discipline; " +
      "per-file pruned scans (ranges and bloom points) are lossless " +
      "per version") {
    val (path, baseSet) = vFixture()
    assert(Layout.currentLayoutVersion(spark, path) == 1L,
      "writeLayout commits snapshot v1")
    assert(vRows(Layout.readLayoutVersion(spark, path)) == baseSet)
    val deltaSet = (for { x <- 0L until 4L; y <- 0L until 4L }
      yield (1000 + x * 4 + y, x, y)).toSet
    val delta = deltaSet.toSeq.toDF("id", "x", "y")
    assert(Layout.appendToLayout(spark, path, delta,
      Seq("x", "y"), 4, 16) == 2L)
    val removed = (0L until 1100L).filter(_ % 5 == 0).toDF("id")
    assert(Layout.deleteFromLayout(spark, path, removed,
      "id") == 3L)
    // the pinned v1 view is byte-identical AFTER both maintenance ops
    // — the claim that removes the reader discipline
    assert(vRows(Layout.readLayoutVersion(spark, path, 1L)) == baseSet)
    val v2Set = baseSet ++ deltaSet
    val v3Set = v2Set.filterNot(_._1 % 5 == 0)
    assert(vRows(Layout.readLayoutVersion(spark, path, 2L)) == v2Set)
    assert(vRows(Layout.readLayoutVersion(spark, path)) == v3Set)
    // pruned range scans ≡ that snapshot's full filter
    val box = Seq(("x", 0L, 3L), ("y", 0L, 3L))
    def inBox(t: (Long, Long, Long)) =
      t._2 <= 3L && t._3 <= 3L
    assert(vRows(Layout.prunedScan(spark, path, box,
      version = 1L)) == baseSet.filter(inBox))
    assert(vRows(Layout.prunedScan(spark, path, box)) ==
      v3Set.filter(inBox))
    // bloom point probes on the non-clustered id: present, erased
    // (gone at v3, still served at v1), absent
    assert(vRows(Layout.prunedScan(spark, path, Nil,
      Seq(("id", 7L)))) == Set((7L, 0L, 7L)))
    assert(Layout.prunedScan(spark, path, Nil,
      Seq(("id", 5L))).count() == 0L)
    assert(vRows(Layout.prunedScan(spark, path, Nil,
      Seq(("id", 5L)), version = 1L)) == Set((5L, 0L, 5L)))
    assert(Layout.prunedScan(spark, path, Nil,
      Seq(("id", 999999L))).count() == 0L)
  }

  test("versioned layout crash injection, both sides of the pointer " +
      "swap: residue without _COMMITTED never moves the pointer and " +
      "rolls back via recoverLayoutVersions; landed-but-unreferenced " +
      "files are invisible to every versioned read; the marker create " +
      "IS the commit") {
    val (path, baseSet) = vFixture()
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // side 1 — crash BEFORE the marker: a publisher died holding v2's
    // claim. The pointer must not move and v2 must refuse.
    fs.create(new org.apache.hadoop.fs.Path(
      s"$path/_versions/_v2/_claim"), true).close()
    assert(Layout.currentLayoutVersion(spark, path) == 1L)
    val refuse = intercept[IllegalArgumentException](
      Layout.layoutVersionManifest(spark, path, 2L))
    assert(refuse.getMessage.contains("no committed snapshot v2"))
    assert(vRows(Layout.readLayoutVersion(spark, path)) == baseSet)
    // a live append is refused at the claim, before it stages a
    // file: the pointer still must not move
    val deltaSet = (for { x <- 0L until 4L; y <- 0L until 4L }
      yield (1000 + x * 4 + y, x, y)).toSet
    val delta = deltaSet.toSeq.toDF("id", "x", "y")
    val blocked = intercept[IllegalArgumentException](
      Layout.appendToLayout(spark, path, delta,
        Seq("x", "y"), 4, 16))
    assert(blocked.getMessage.contains("another writer is publishing"))
    assert(Layout.currentLayoutVersion(spark, path) == 1L)
    assert(vRows(Layout.readLayoutVersion(spark, path)) == baseSet)
    // roll back the residue; the retried append commits v2 with no
    // duplicates (COUNT catches any adoption, a set compare would not)
    Layout.recoverLayoutVersions(spark, path)
    assert(Layout.appendToLayout(spark, path, delta,
      Seq("x", "y"), 4, 16) == 2L)
    val v2 = Layout.readLayoutVersion(spark, path)
    assert(vRows(v2) == baseSet ++ deltaSet)
    assert(v2.count() == (baseSet.size + deltaSet.size).toLong,
      "no orphan adopted, no duplicate row")
    // side 2 — a publisher crashed mid-landing: its claimed v3 still
    // stages one file and has landed another into a bucket directory.
    // Landed-but-unreferenced files are invisible, and the next op is
    // refused until recovery drops the claimed version with its stage
    val b0 = fs.listStatus(new org.apache.hadoop.fs.Path(
      s"$path/_bucket=0")).filter(_.isFile)
      .map(_.getPath).filterNot(_.getName.startsWith("_")).head
    val staged = new org.apache.hadoop.fs.Path(
      s"$path/_versions/_v3/data/_bucket=0/${b0.getName}")
    val orphan = new org.apache.hadoop.fs.Path(
      s"$path/_bucket=0/orphan-${b0.getName}")
    fs.create(new org.apache.hadoop.fs.Path(
      s"$path/_versions/_v3/_claim"), true).close()
    Seq(staged, orphan).foreach(f => org.apache.hadoop.fs.FileUtil.copy(
      fs, b0, fs, f, false, spark.sparkContext.hadoopConfiguration): Unit)
    assert(Layout.readLayoutVersion(spark, path).count() ==
      (baseSet.size + deltaSet.size).toLong)
    val claimed = intercept[IllegalArgumentException](
      Layout.deleteFromLayout(spark, path, Seq(5L).toDF("id"), "id"))
    assert(claimed.getMessage.contains("another writer is publishing"))
    Layout.recoverLayoutVersions(spark, path)
    assert(!fs.exists(staged.getParent.getParent.getParent),
      "recovery dropped the crashed version with its stage")
    assert(Layout.deleteFromLayout(spark, path,
      Seq(5L).toDF("id"), "id") == 3L)
    assert(vRows(Layout.readLayoutVersion(spark, path)) ==
      (baseSet ++ deltaSet).filterNot(_._1 == 5L))
    // the landed orphan stays invisible until vacuum sweeps it
    Layout.vacuumLayout(spark, path, keepLast = 1)
      .write.format("noop").mode("overwrite").save()
    assert(!fs.exists(orphan), "vacuum swept the orphan")
  }

  test("vacuumLayout: keeps the pinned horizon, drops older " +
      "manifests (vacuumed snapshots refuse loudly), and physically " +
      "purges erased rows — after vacuum(1) the directory equals the " +
      "current snapshot exactly") {
    val (path, baseSet) = vFixture()
    val deltaSet = (for { x <- 0L until 4L; y <- 0L until 4L }
      yield (1000 + x * 4 + y, x, y)).toSet
    Layout.appendToLayout(spark, path,
      deltaSet.toSeq.toDF("id", "x", "y"), Seq("x", "y"), 4, 16)
    Layout.deleteFromLayout(spark, path,
      (0L until 1100L).filter(_ % 5 == 0).toDF("id"), "id")
    val v3Set = (baseSet ++ deltaSet).filterNot(_._1 % 5 == 0)
    val rep = Layout.vacuumLayout(spark, path, keepLast = 1).head()
    assert(rep.getAs[Long]("versions_dropped") == 2L)
    assert(rep.getAs[Long]("current_version") == 3L)
    assert(rep.getAs[Long]("files_deleted") > 0L)
    val gone = intercept[IllegalArgumentException](
      Layout.readLayoutVersion(spark, path, 1L))
    assert(gone.getMessage.contains("vacuumLayout dropped it") ||
      gone.getMessage.contains("no committed snapshot"))
    assert(vRows(Layout.readLayoutVersion(spark, path)) == v3Set)
    // the physical purge claim: nothing but the current snapshot's
    // files remain, so even a PLAIN directory read agrees — the
    // erased rows are gone from disk, not just from the manifest
    assert(vRows(spark.read.parquet(path)) == v3Set)
    intercept[IllegalArgumentException](
      Layout.vacuumLayout(spark, path, keepLast = 0))
  }

  test("versioned layout: erasing EVERY row leaves an appendable " +
      "empty snapshot — reads serve zero rows with the schema " +
      "(donor file from an ancestor version), and a later append " +
      "re-grows under the ORIGINAL _meta anchors with unchanged " +
      "bucket assignment") {
    val (path, baseSet) = vFixture()
    assert(Layout.deleteFromLayout(spark, path,
      baseSet.map(_._1).toSeq.toDF("id"), "id") == 2L)
    val empty = Layout.readLayoutVersion(spark, path)
    assert(empty.count() == 0L && empty.columns.contains("x"),
      "empty snapshot serves zero rows WITH the row schema")
    assert(Layout.prunedScan(spark, path,
      Seq(("x", 0L, 3L))).count() == 0L)
    // v1 pin still serves the full set
    assert(vRows(Layout.readLayoutVersion(spark, path, 1L)) == baseSet)
    // re-grow: the SAME rows append into the SAME buckets the
    // original build assigned (anchors from _meta, not re-derived)
    assert(Layout.appendToLayout(spark, path,
      baseSet.toSeq.toDF("id", "x", "y"), Seq("x", "y"), 4, 16) == 3L)
    val regrown = Layout.readLayoutVersion(spark, path)
      .select(col("id"), col("_bucket").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val original = Layout.readLayoutVersion(spark, path, 1L)
      .select(col("id"), col("_bucket").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(regrown == original, "bucket assignment is anchor-stable")
    // an EMPTY delta publishes nothing
    assert(Layout.appendToLayout(spark, path,
      baseSet.toSeq.toDF("id", "x", "y").limit(0),
      Seq("x", "y"), 4, 16) == 3L)
  }

  test("versioned layout: a store in the retired _versions/v<n>/" +
      "_COMMITTED layout is refused, naming the layout change") {
    val (path, _) = vFixture()
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // a store from before writeLayout committed snapshot v1: root
    // _stats + _meta, no commit
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/_versions"), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/_stats"))
    val pre = intercept[IllegalArgumentException](
      Layout.readLayoutVersion(spark, path))
    assert(pre.getMessage.contains("rebuild it with writeLayout"))
    fs.create(new org.apache.hadoop.fs.Path(
      s"$path/_versions/v1/_COMMITTED"), true).close()
    val e = intercept[IllegalArgumentException](
      Layout.readLayoutVersion(spark, path))
    assert(e.getMessage.contains("retired") &&
      e.getMessage.contains("FrameVersions"))
    intercept[IllegalArgumentException](
      Layout.prunedScan(spark, path, Seq(("x", 0L, 3L))))
  }

  test("underscore frames (_meta, _stats) read without Spark's \"All " +
      "paths were ignored\" warning: a write → append → erase → " +
      "pruned-scan round trip logs none") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val ignored = new java.util.concurrent.atomic.AtomicInteger(0)
    val appender = new AbstractAppender("graft-layout-capture", null,
        null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage
            .contains("All paths were ignored")) ignored.incrementAndGet(): Unit
    }
    appender.start()
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.execution.datasources.DataSource")
      .asInstanceOf[Logger]
    val level = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(Level.WARN)
    try {
      val (path, _) = vFixture()
      Layout.appendToLayout(spark, path,
        Seq((5000L, 3L, 3L)).toDF("id", "x", "y"), Seq("x", "y"), 4, 16)
      Layout.deleteFromLayout(spark, path, Seq(0L).toDF("id"), "id")
      assert(Layout.prunedScan(spark, path, Seq(("x", 0L, 3L)),
        Seq(("id", 5000L))).count() == 1L)
      assert(ignored.get == 0, "no underscore frame read warned")
      // the capture works: naming an underscore frame does warn
      spark.read.parquet(s"$path/_meta").count(): Unit
      assert(ignored.get > 0)
    } finally {
      logger.removeAppender(appender)
      logger.setLevel(level)
      appender.stop()
    }
  }
}
