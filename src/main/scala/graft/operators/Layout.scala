package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional DATA LAYOUT for scan pruning — the Z-order
  * (Morton) clustering that Delta `OPTIMIZE ZORDER BY` / Iceberg
  * sort-order rewrites apply before writing, plus the min/max
  * file-skipping math that makes it pay: co-locating rows that are
  * close in EVERY clustered dimension gives each written file a tight
  * min/max envelope per column, so a range predicate on ANY clustered
  * column prunes most files from the parquet footer stats alone — the
  * single highest-leverage knob for selective scans at 100 TB (a
  * single-column sort prunes one dimension and shreds the others).
  *
  * Everything here is EXACT integer arithmetic (normalization by
  * `div` — integral division, never a rounded double — interleave by
  * bit ops) so layouts are bit-reproducible across engines and
  * partitionings, and the whole pipeline is expressible in the DuckDB
  * oracle. Continuous values should be integerized by the caller
  * first (timestamps to epoch seconds, doubles to fixed-point) — the
  * layout needs ORDER, not magnitude.
  */
object Layout {

  /** Bit-interleave already-normalized coordinates into a Z-value.
    * Column j contributes its bit i at output position `i*k + j`
    * (k = number of columns) — the classic Morton code; inputs must
    * already sit in [0, 2^bits). Pure builtin bit ops (shift/and/or),
    * whole-stage-codegen'd, `k*bits` terms OR-folded. */
  def zValue(cols: Seq[Column], bits: Int): Column = {
    val k = cols.size
    require(k >= 1, "zValue needs at least one column")
    require(bits >= 1 && k * bits <= 62,
      s"k*bits must be in [1, 62], got $k*$bits")
    val terms = for {
      (c, j) <- cols.zipWithIndex
      i <- 0 until bits
    } yield shiftleft(
      shiftright(c.cast("long"), i).bitwiseAND(lit(1L)), i * k + j)
    terms.reduce(_.bitwiseOR(_))
  }

  /** Exact integral division (Spark's `div`; `/` on longs is a
    * ROUNDED double — casting it back can land one off the true
    * floor, and the DuckDB oracle's `//` is exact). */
  private def idiv(a: Column, b: Column): Column =
    call_function("div", a, b)

  /** Read a store's underscore-named `_meta` frame by its listed part
    * files: Spark hides `_`-prefixed paths, so a read that names such
    * a directory logs "All paths were ignored" on every call, while
    * its part files carry plain names. */
  private def readFrame(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    spark.read.parquet(p.getFileSystem(spark.sparkContext
        .hadoopConfiguration).listStatus(p).map(_.getPath)
      .filterNot(f => f.getName.startsWith("_") ||
        f.getName.startsWith("."))
      .map(_.toString).toIndexedSeq: _*)
  }

  /** Layout identity carried as COLUMN METADATA on `_bucket` by the
    * layout builders, so [[writeLayout]] can validate the caller's
    * declared (curve, bits, nBuckets, cols) against how the frame was
    * ACTUALLY built — a mis-declared identity would poison `_meta`
    * and silently scatter every future append. */
  private def identityMeta(curve: String, bits: Int, nBuckets: Int,
      cols: Seq[String]): org.apache.spark.sql.types.Metadata =
    new org.apache.spark.sql.types.MetadataBuilder()
      .putString("graft_curve", curve)
      .putLong("graft_bits", bits.toLong)
      .putLong("graft_buckets", nBuckets.toLong)
      .putStringArray("graft_cols", cols.toArray)
      .build()

  /** Normalize an integral column into [0, 2^bits) against corpus
    * [min, max] by exact integer arithmetic:
    * `((v − min) · (2^bits − 1)) div (max − min)` (zero when the
    * domain is a single point). The caller supplies the min/max
    * columns (one corpus aggregate, broadcast) so several
    * normalizations share one stats pass.
    *
    * The product `span · (2^bits − 1)` must fit a long; a wide
    * integral domain (epoch-microsecond timestamps span ~3·10¹⁵ —
    * already past the bits=13 ceiling) would silently wrap NEGATIVE
    * and break `_bucket=` partition paths, so the guard raises a
    * clear error instead: pre-scale such columns (micros → seconds,
    * doubles → coarser fixed-point) before layout — the curve needs
    * ORDER, not magnitude, so coarsening costs nothing. */
  def normalizeToBits(v: Column, minC: Column, maxC: Column,
      bits: Int): Column = {
    val span = maxC.cast("long") - minC.cast("long")
    val maxSpan = Long.MaxValue / ((1L << bits) - 1L)
    when(span === 0L, lit(0L))
      // span < 0 can only mean max − min itself WRAPPED (a signed
      // domain wider than Long.MaxValue, e.g. full-range hashes) —
      // the same overflow class as the product check below, caught
      // before it can bypass that check
      .when(span > maxSpan || span < 0L,
        raise_error(concat(
          lit("normalizeToBits: domain span "), span.cast("string"),
          lit(s" overflows long at bits=$bits (max $maxSpan) — " +
            "pre-scale the column (e.g. epoch micros to seconds) " +
            "before layout"))).cast("long"))
      .otherwise(idiv((v.cast("long") - minC.cast("long")) *
        lit((1L << bits) - 1L), span))
  }

  /** Assign every row a Z-value and a FIXED-RANGE bucket over the
    * named integral columns: one corpus stats aggregate (broadcast as
    * a 1-row frame), per-column integer normalization to `bits` bits,
    * Morton interleave, then `bucket = (z · nBuckets) div 2^(k·bits)`
    * — even slices of z-SPACE, deterministic and oracle-expressible
    * (a range-partitioner would sample, making file assignment
    * nondeterministic; fixed z-ranges trade perfectly even file sizes
    * for reproducibility, and AQE coalesces small buckets on write).
    *
    * Scale notes (100 TB): ONE stats scan (partial-agg min/max) + one
    * stateless projection — no shuffle at all until the caller
    * repartitions by `_bucket` to write
    * (`df.repartition(col("_bucket")).write.partitionBy("_bucket")`,
    * one exchange). Skew concentrates in z-dense buckets; AQE splits
    * them on the write exchange.
    *
    * @return input columns + `_z` (the Morton code) + `_bucket` */
  def zOrderLayout(df: DataFrame, cols: Seq[String], bits: Int,
      nBuckets: Int): DataFrame = {
    val k = cols.size
    require(nBuckets >= 1 && k * bits <= 40,
      "k*bits must be <= 40 so bucket math stays in long range")
    val statExprs = cols.flatMap(c => Seq(
      min(col(c)).cast("long").as(s"_min_$c"),
      max(col(c)).cast("long").as(s"_max_$c")))
    val stats = df.agg(statExprs.head, statExprs.tail: _*)
    val normed = cols.map(c =>
      normalizeToBits(col(c), col(s"_min_$c"), col(s"_max_$c"), bits))
    df.crossJoin(broadcast(stats))
      .withColumn("_z", zValue(normed, bits))
      .withColumn("_bucket",
        idiv(col("_z") * lit(nBuckets.toLong),
          lit(1L << (k * bits)))
          .as("_bucket", identityMeta("z", bits, nBuckets, cols)))
      .drop(cols.flatMap(c => Seq(s"_min_$c", s"_max_$c")): _*)
  }

  /** Append a 2-D HILBERT curve index `_h` over two already-normalized
    * coordinate columns (each in [0, 2^bits)) — the better-locality
    * alternative to [[zValue]]: the Hilbert traversal visits grid
    * neighbors consecutively (every unit step on the curve is a unit
    * step on the grid), so bucket envelopes are tighter than Z-order's
    * quadrant jumps; it is what production clustering rewrites prefer
    * for 2-D-heavy predicates. Classic bit-level state machine
    * (level s from 2^(bits−1) down to 1: quadrant digit
    * `(3·rx) xor ry` weighted s², then reflect+swap into the
    * sub-quadrant's frame), UNROLLED one level per real column — named
    * intermediates keep the expression tree linear in `bits` where a
    * nested single expression would double per level.
    *
    * Mirrored level-for-level by the oracle's chained CTEs; pure
    * integer ops throughout. */
  def withHilbert(df: DataFrame, xCol: String, yCol: String,
      bits: Int): DataFrame = {
    require(bits >= 1 && 2 * bits <= 62, s"bits must be in [1, 31]")
    val n = 1L << bits
    var cur = df
      .withColumn("_hx", col(xCol).cast("long"))
      .withColumn("_hy", col(yCol).cast("long"))
      .withColumn("_h", lit(0L))
    var s = n >> 1
    while (s > 0) {
      val rx = when(col("_hx").bitwiseAND(lit(s)) > 0L, lit(1L))
        .otherwise(lit(0L))
      val ry = when(col("_hy").bitwiseAND(lit(s)) > 0L, lit(1L))
        .otherwise(lit(0L))
      cur = cur
        .withColumn("_rx", rx)
        .withColumn("_ry", ry)
        .withColumn("_h", col("_h") +
          lit(s * s) * (lit(3L) * col("_rx")).bitwiseXOR(col("_ry")))
        // rotate into the sub-quadrant frame: reflect when (ry=0,rx=1),
        // then swap x/y whenever ry=0 — the canonical xy2d rotation
        .withColumn("_fx",
          when(col("_ry") === 0L && col("_rx") === 1L,
            lit(n - 1L) - col("_hx")).otherwise(col("_hx")))
        .withColumn("_fy",
          when(col("_ry") === 0L && col("_rx") === 1L,
            lit(n - 1L) - col("_hy")).otherwise(col("_hy")))
        .withColumn("_hx2",
          when(col("_ry") === 0L, col("_fy")).otherwise(col("_fx")))
        .withColumn("_hy2",
          when(col("_ry") === 0L, col("_fx")).otherwise(col("_fy")))
        .drop("_hx", "_hy", "_rx", "_ry", "_fx", "_fy")
        .withColumnRenamed("_hx2", "_hx")
        .withColumnRenamed("_hy2", "_hy")
      s >>= 1
    }
    cur.drop("_hx", "_hy")
  }

  /** K-DIMENSIONAL Hilbert index via the Skilling transform
    * (J. Skilling, "Programming the Hilbert curve", AIP Conf. Proc.
    * 707, 2004 — the published constant-space algorithm): coordinates
    * (each in [0, 2^bits)) map to the curve index by the inverse-undo
    * sweep (per bit plane Q from the top: invert X0 by Q−1 where
    * X[i] has bit Q, else exchange X0/X[i] under the Q−1 mask), a
    * Gray decode across axes, and the bit-plane interleave of the
    * transposed result. Extends [[withHilbert]] beyond two
    * dimensions — 3–4 clustered columns is the realistic lakehouse
    * case; for k=2 the orientation differs from [[withHilbert]]'s
    * xy2d but is an equally valid Hilbert traversal (the spec proves
    * the defining property — every unit step on the curve is a unit
    * grid step — in 2-D and 3-D directly).
    *
    * Each in-place mutation of the C algorithm lands as ONE named
    * column assignment, so the step order (which the algorithm
    * depends on) is explicit and the expression tree stays linear in
    * `k·bits`. Appends `_h`. */
  def withHilbertK(df: DataFrame, cols: Seq[String],
      bits: Int): DataFrame = {
    val n = cols.size
    require(n >= 2, "withHilbertK needs at least two columns")
    require(bits >= 1 && n * bits <= 62,
      s"k*bits must be in [2, 62], got $n*$bits")
    var cur = cols.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
      d.withColumn(s"_hk$i", col(c).cast("long"))
    }
    def bitSet(i: Int, q: Long): Column =
      col(s"_hk$i").bitwiseAND(lit(q)) =!= 0L
    // inverse undo, top bit plane down to 2
    var q = 1L << (bits - 1)
    while (q > 1) {
      val p = q - 1
      // i = 0: the exchange degenerates (t = 0) — only the invert acts
      cur = cur.withColumn("_hk0",
        when(bitSet(0, q), col("_hk0").bitwiseXOR(lit(p)))
          .otherwise(col("_hk0")))
      for (i <- 1 until n) {
        cur = cur
          .withColumn("_t",
            when(bitSet(i, q), lit(0L))
              .otherwise(col("_hk0").bitwiseXOR(col(s"_hk$i"))
                .bitwiseAND(lit(p))))
          .withColumn("_hk0",
            when(bitSet(i, q), col("_hk0").bitwiseXOR(lit(p)))
              .otherwise(col("_hk0").bitwiseXOR(col("_t"))))
          .withColumn(s"_hk$i",
            col(s"_hk$i").bitwiseXOR(col("_t")))
          .drop("_t")
      }
      q >>= 1
    }
    // Gray decode across axes
    for (i <- 1 until n)
      cur = cur.withColumn(s"_hk$i",
        col(s"_hk$i").bitwiseXOR(col(s"_hk${i - 1}")))
    var tAcc: Column = lit(0L)
    var q2 = 1L << (bits - 1)
    while (q2 > 1) {
      tAcc = tAcc.bitwiseXOR(
        when(bitSet(n - 1, q2), lit(q2 - 1L)).otherwise(lit(0L)))
      q2 >>= 1
    }
    cur = cur.withColumn("_gt", tAcc)
    for (i <- 0 until n)
      cur = cur.withColumn(s"_hk$i",
        col(s"_hk$i").bitwiseXOR(col("_gt")))
    // interleave the transpose: X[i] bit q lands at h bit q*n+(n-1-i)
    val terms = for { i <- 0 until n; b <- 0 until bits } yield
      shiftleft(shiftright(col(s"_hk$i"), b).bitwiseAND(lit(1L)),
        b * n + (n - 1 - i))
    cur.withColumn("_h", terms.reduce(_.bitwiseOR(_)))
      .drop("_gt")
      .drop((0 until n).map(i => s"_hk$i"): _*)
  }

  /** [[hilbertLayout]] generalized to k ≥ 2 clustered columns via
    * [[withHilbertK]] — same one-stats-scan normalization and fixed
    * h-range buckets. */
  def hilbertLayoutK(df: DataFrame, cols: Seq[String], bits: Int,
      nBuckets: Int): DataFrame = {
    val k = cols.size
    require(nBuckets >= 1 && k * bits <= 40,
      "k*bits must be <= 40 so bucket math stays in long range")
    val statExprs = cols.flatMap(c => Seq(
      min(col(c)).cast("long").as(s"_min_$c"),
      max(col(c)).cast("long").as(s"_max_$c")))
    val stats = df.agg(statExprs.head, statExprs.tail: _*)
    val withN = cols.zipWithIndex.foldLeft(
      df.crossJoin(broadcast(stats))) { case (d, (c, i)) =>
      d.withColumn(s"_cn$i", normalizeToBits(col(c),
        col(s"_min_$c"), col(s"_max_$c"), bits))
    }
    withHilbertK(withN, (0 until k).map(i => s"_cn$i"), bits)
      .withColumn("_bucket",
        idiv(col("_h") * lit(nBuckets.toLong), lit(1L << (k * bits)))
          .as("_bucket", identityMeta("hilbertk", bits, nBuckets, cols)))
      .drop((0 until k).map(i => s"_cn$i"): _*)
      .drop(cols.flatMap(c => Seq(s"_min_$c", s"_max_$c")): _*)
  }

  /** [[zOrderLayout]]'s shape on the Hilbert index: normalize the two
    * integral columns against corpus min/max (exact `div`), compute
    * `_h` via [[withHilbert]], bucket by fixed h-ranges. Same one
    * stats scan + stateless projection — no shuffle until the write.
    *
    * @return input columns + `_h` + `_bucket` */
  def hilbertLayout(df: DataFrame, xCol: String, yCol: String,
      bits: Int, nBuckets: Int): DataFrame = {
    require(nBuckets >= 1 && 2 * bits <= 40,
      "2*bits must be <= 40 so bucket math stays in long range")
    val statExprs = Seq(xCol, yCol).flatMap(c => Seq(
      min(col(c)).cast("long").as(s"_min_$c"),
      max(col(c)).cast("long").as(s"_max_$c")))
    val stats = df.agg(statExprs.head, statExprs.tail: _*)
    val withN = df.crossJoin(broadcast(stats))
      .withColumn("_nx", normalizeToBits(col(xCol),
        col(s"_min_$xCol"), col(s"_max_$xCol"), bits))
      .withColumn("_ny", normalizeToBits(col(yCol),
        col(s"_min_$yCol"), col(s"_max_$yCol"), bits))
    withHilbert(withN, "_nx", "_ny", bits)
      .withColumn("_bucket",
        idiv(col("_h") * lit(nBuckets.toLong),
          lit(1L << (2 * bits)))
          .as("_bucket",
            identityMeta("hilbert", bits, nBuckets, Seq(xCol, yCol))))
      .drop("_nx", "_ny")
      .drop(Seq(xCol, yCol)
        .flatMap(c => Seq(s"_min_$c", s"_max_$c")): _*)
  }

  /** Per-bucket min/max/count over the named columns — exactly the
    * footer statistics a parquet writer would persist for each file
    * of a `partitionBy(_bucket)` layout, and therefore exactly what a
    * scan's file-skipping decision sees. One partial-agg groupBy. */
  def fileSkippingStats(laid: DataFrame, bucketCol: String,
      cols: Seq[String], bloomCols: Seq[String] = Nil,
      bloomBits: Int = 1 << 13, bloomHashes: Int = 5): DataFrame =
    skippingStats(laid, Seq(col(bucketCol).cast("long").as("bucket")),
      cols, bloomCols, bloomBits, bloomHashes)

  // Per-FILE skipping stats of a store read, keyed by (bucket,
  // store-relative file path) — the rows of a snapshot manifest, so a
  // snapshot lists exactly the files it covers and pruning gets file
  // granularity.
  private def perFileStats(storeRows: DataFrame, cols: Seq[String],
      bloomCols: Seq[String], bloomBits: Int, bloomHashes: Int)
      : DataFrame =
    skippingStats(storeRows.withColumn("file", regexp_extract(
        input_file_name(), "(_bucket=[0-9]+/[^/]+)$", 1)),
      Seq(col("_bucket").cast("long").as("bucket"), col("file")),
      cols, bloomCols, bloomBits, bloomHashes)

  // The one skipping aggregate per group of `keys`: `n_rows`, the
  // `min_`/`max_` envelope per column, and a membership sketch `bloom_`
  // per point-lookup column — the Delta/Iceberg file-level bloom: an
  // equality probe on a high-cardinality id prunes files min/max
  // never could.
  private def skippingStats(rows: DataFrame, keys: Seq[Column],
      cols: Seq[String], bloomCols: Seq[String], bloomBits: Int,
      bloomHashes: Int): DataFrame =
    rows.groupBy(keys: _*)
      .agg(count(lit(1)).as("n_rows"),
        (cols.flatMap(c => Seq(
          min(col(c)).cast("long").as(s"min_$c"),
          max(col(c)).cast("long").as(s"max_$c"))) ++
          bloomCols.map(c => graft.functions.GraftFunctions.bloom_long(
            col(c).cast("long"), bloomBits, bloomHashes)
            .as(s"bloom_$c"))): _*)

  /** The curve names a [[writeLayout]] store can record: Morton
    * ([[zOrderLayout]]), 2-D xy2d Hilbert ([[hilbertLayout]]), and
    * k-D Skilling Hilbert ([[hilbertLayoutK]] — a DIFFERENT 2-D
    * orientation than xy2d, so the two must never mix). */
  val curves: Set[String] = Set("z", "hilbert", "hilbertk")

  /** Persist a laid-out frame as a `_bucket`-partitioned parquet store
    * and commit its snapshot v1: ONE exchange (repartition on the
    * partition column so each bucket writes as one file set), then the
    * per-file skipping manifest derives from a RE-READ of the written
    * store — stats can never disagree with the files they describe,
    * which is the whole pruning contract — and commits as frame
    * `manifest` of the [[FrameVersions]] store at `<path>/_versions`
    * (an underscore-prefixed dir — hidden from the store's own file
    * discovery, the `_SUCCESS` convention).
    *
    * A one-row `<path>/_meta`, written before the commit, records the
    * store's IDENTITY: the curve name, bits, bucket count, the ordered
    * clustered columns, the bloom geometry, and the BUILD-TIME
    * normalization anchors (corpus min/max per clustered column: the
    * min of the manifest's mins and the max of its maxes).
    * [[appendToLayout]] validates its arguments against the identity
    * and normalizes deltas against the PERSISTED anchors — the
    * manifest's envelopes widen and shrink with maintenance, so
    * re-deriving anchors from them would drift the curve for every
    * later append (anchor stability is the append contract).
    *
    * `statCols` must be the clustered columns in clustering order —
    * the columns the `_z`/`_h` index was computed over. The write
    * replaces whatever `path` held, snapshots included. */
  def writeLayout(laid: DataFrame, path: String, statCols: Seq[String],
      curve: String, bits: Int, nBuckets: Int,
      bloomCols: Seq[String] = Nil, bloomBits: Int = 1 << 13,
      bloomHashes: Int = 5): Unit = {
    bloomCols.foreach(c => require(laid.columns.contains(c),
      s"writeLayout: bloom column '$c' is not in the frame"))
    require(curves.contains(curve),
      s"curve must be one of ${curves.mkString(", ")} (got '$curve')")
    // the layout builders tag `_bucket` with how the frame was
    // ACTUALLY built — a caller-declared identity that disagrees would
    // poison `_meta` and silently scatter every future append, so the
    // mismatch fails HERE; untagged frames (hand-built layouts) keep
    // the caller's declaration
    laid.schema.find(_.name == "_bucket").map(_.metadata)
      .filter(_.contains("graft_curve")).foreach { m =>
        val built = (m.getString("graft_curve"),
          m.getLong("graft_bits"), m.getLong("graft_buckets"),
          m.getStringArray("graft_cols").toSeq)
        require(built == (curve, bits.toLong, nBuckets.toLong, statCols),
          s"writeLayout: the frame was laid out with curve=${built._1}" +
            s", bits=${built._2}, nBuckets=${built._3}, cols=" +
            s"${built._4.mkString("(", ", ", ")")} but the caller " +
            s"declared curve=$curve, bits=$bits, nBuckets=$nBuckets, " +
            s"cols=${statCols.mkString("(", ", ", ")")} — a " +
            "mis-declared identity would scatter every future append")
      }
    laid.repartition(col("_bucket"))
      .write.mode("overwrite").partitionBy("_bucket").parquet(path)
    val spark = laid.sparkSession
    val manifest = perFileStats(spark.read.parquet(path), statCols,
        bloomCols, bloomBits, bloomHashes)
      .localCheckpoint()
    // the bloom geometry joins the identity so appends sketch their
    // files with the SAME (bits, hashes) — a point probe tests every
    // file's sketch with the store's one hash count
    val anchorExprs = statCols.flatMap(c => Seq(
      min(col(s"min_$c")).as(s"anchor_min_$c"),
      max(col(s"max_$c")).as(s"anchor_max_$c")))
    manifest.agg(anchorExprs.head, anchorExprs.tail: _*)
      .withColumn("curve", lit(curve))
      .withColumn("bits", lit(bits.toLong))
      .withColumn("n_buckets", lit(nBuckets.toLong))
      .withColumn("cols", array(statCols.map(lit): _*))
      .withColumn("bloom_cols", array(bloomCols.map(lit): _*))
      .withColumn("bloom_bits", lit(bloomBits.toLong))
      .withColumn("bloom_hashes", lit(bloomHashes.toLong))
      .write.mode("overwrite").parquet(s"$path/_meta")
    FrameVersions.latest(spark, s"$path/_versions")
      .commit(Seq("manifest" -> manifest)): Unit
  }

  /** Mark which buckets a conjunctive box predicate
    * `AND_i (lo_i <= col_i <= hi_i)` can SKIP from stats alone: a
    * bucket is skippable iff ANY queried column's envelope misses its
    * range (`max < lo` or `min > hi`) — the parquet row-group pruning
    * rule. Returns the stats plus a 0/1 `skipped` verdict; the
    * selectivity story is `sum(skipped·n_rows) / sum(n_rows)`. */
  def skippingVerdicts(stats: DataFrame,
      ranges: Seq[(String, Long, Long)]): DataFrame = {
    require(ranges.nonEmpty, "skippingVerdicts needs at least one range")
    val miss = ranges.map { case (c, lo, hi) =>
      col(s"max_$c") < lit(lo) || col(s"min_$c") > lit(hi)
    }.reduce(_ || _)
    stats.withColumn("skipped", when(miss, lit(1L)).otherwise(lit(0L)))
  }

  // ─────────────── snapshots (FrameVersions manifests) ───────────────
  //
  // Every writeLayout store is a committed chain of immutable
  // snapshots, each a PER-FILE manifest (file list + per-file
  // envelopes/sketches) committed as frame `manifest` of the
  // [[FrameVersions]] store at `<path>/_versions` — its commit marker
  // create is the pointer swap, and its claim on `n + 1` is the one
  // lock: it refuses a second publisher, and a publisher whose base
  // snapshot is no longer the latest. Hence:
  //
  //  * data files are IMMUTABLE until vacuum — append only ADDS files,
  //    erasure REWRITES touched buckets into new files and leaves the
  //    old ones for pinned readers (physical purge = `vacuumLayout`,
  //    the GDPR caveat a caller must know);
  //  * a reader pins a snapshot once and reads THAT manifest's files
  //    for as long as it likes — maintenance can publish v+1
  //    underneath it freely, so layout stores need no
  //    hold-localCheckpoint-across-maintenance reader discipline
  //    (COVERAGE.md contract);
  //  * the plain directory read is no longer meaningful after the
  //    first erasure (old and new files coexist) — all reads go
  //    through [[readLayoutVersion]] / [[prunedScan]].
  //
  // A crash anywhere before a commit marker leaves the current
  // snapshot fully intact; `recoverLayoutVersions` drops the
  // uncommitted version and `vacuumLayout` sweeps orphaned data files.

  /** Every committed snapshot of the store at `path`, oldest first. A
    * store with a layout identity but no commit is refused: it was
    * written before [[writeLayout]] committed snapshot v1 (a root
    * `_stats` manifest, or the retired `_versions/v<n>/_COMMITTED`
    * chain), or its build never finished. */
  def snapshots(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[FrameVersions.Version] = {
    val all = FrameVersions.versions(spark, s"$path/_versions")
    require(all.nonEmpty || !new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(s"$path/_meta")),
      s"the store at $path has a layout identity but no committed " +
        "snapshot: it predates writeLayout committing snapshot v1 " +
        "through FrameVersions (a root _stats manifest, or the " +
        "retired _versions/v<n>/_COMMITTED chain), or its build never " +
        "finished — rebuild it with writeLayout")
    all
  }

  /** Largest committed snapshot version at `path` (0 = no
    * [[writeLayout]] store). One listing of the commit markers. */
  def currentLayoutVersion(spark: org.apache.spark.sql.SparkSession,
      path: String): Long =
    snapshots(spark, path).lastOption.fold(0L)(_.n)

  // Committed snapshot `version` (-1 = current). Refuses a version
  // that was never committed or has been vacuumed (a pinned reader of
  // a vacuumed snapshot must fail loudly, not read a half-swept file
  // set).
  private def snapshot(spark: org.apache.spark.sql.SparkSession,
      path: String, version: Long = -1L): FrameVersions.Version = {
    val all = snapshots(spark, path)
    require(all.nonEmpty,
      s"the store at $path has no layout identity and no skipping " +
        "manifest — write it with writeLayout")
    val v = if (version <= 0) all.lastOption else all.find(_.n == version)
    require(v.nonEmpty,
      s"no committed snapshot v$version at $path — it was never " +
        s"published, or vacuumLayout dropped it; current = ${all.last.n}")
    v.get
  }

  /** The committed per-file manifest of snapshot `version`: one row
    * per data file — (`bucket`, `file` (store-relative path),
    * `n_rows`, `min_<c>`/`max_<c>` per clustered column, `bloom_<c>`
    * per sketched column). */
  def layoutVersionManifest(spark: org.apache.spark.sql.SparkSession,
      path: String, version: Long): DataFrame = {
    require(version >= 1, s"snapshot versions start at 1 (got $version)")
    snapshot(spark, path, version).read("manifest")
  }

  // The store's clustered columns and bloom geometry (sketched
  // columns, bits, hashes), from its `_meta` identity row.
  private def geometry(spark: org.apache.spark.sql.SparkSession,
      path: String): (Seq[String], Seq[String], Int, Int) = {
    val m = readFrame(spark, s"$path/_meta").head()
    (m.getAs[scala.collection.Seq[String]]("cols").toSeq,
      m.getAs[scala.collection.Seq[String]]("bloom_cols").toSeq,
      m.getAs[Long]("bloom_bits").toInt,
      m.getAs[Long]("bloom_hashes").toInt)
  }

  /** Full read of snapshot `version` (default: current) — the pinned
    * view: exactly the manifest's files, by explicit path list, so
    * later maintenance (which only ADDS files until vacuum) can never
    * change or break this read. */
  def readLayoutVersion(spark: org.apache.spark.sql.SparkSession,
      path: String, version: Long = -1L): DataFrame = {
    val v = snapshot(spark, path, version)
    val files = v.read("manifest")
      .select("file").collect().map(_.getString(0))
    if (files.isEmpty) emptyVersionScan(spark, path, v.n)
    else spark.read.option("basePath", path)
      .parquet(files.map(f => s"$path/$f").toIndexedSeq: _*)
  }

  // Zero rows WITH the store's row schema, for an empty snapshot (all
  // rows erased): borrow any file from the nearest committed version
  // that still holds one — files are immutable until vacuum, so a
  // non-empty ancestor's file is always readable. Only a chain that
  // is empty ALL the way down (or vacuumed bare) refuses.
  private def emptyVersionScan(spark: org.apache.spark.sql.SparkSession,
      path: String, from: Long): DataFrame = {
    val donor = snapshots(spark, path).filter(_.n <= from).reverseIterator
      .map(_.read("manifest").select("file").head(1))
      .collectFirst { case arr if arr.nonEmpty => arr.head.getString(0) }
    require(donor.nonEmpty,
      s"snapshot v$from of $path is empty and so is every committed " +
        "ancestor — the row schema is gone; rebuild via writeLayout")
    spark.read.option("basePath", path)
      .parquet(s"$path/${donor.get}").limit(0)
  }

  /** Manifest-driven pruned read of snapshot `version` (default: the
    * current one): apply the [[skippingVerdicts]] rule to the per-file
    * manifest, fetch the kept files to the driver (BOUNDED — one row
    * per file, the planning fetch every table format pays), and read
    * ONLY those files before applying the exact row predicate. Result
    * rows are EQUAL to filtering the snapshot (the pruning rule is
    * conservative — it never skips a file that holds a matching row);
    * what pruning buys is the scan: skipped files are never opened,
    * never listed into tasks. Committed manifests reference immutable
    * files (the vacuum contract is to never drop a still-pinned
    * version), so no existence check is needed. */
  def prunedScan(spark: org.apache.spark.sql.SparkSession, path: String,
      ranges: Seq[(String, Long, Long)],
      points: Seq[(String, Long)] = Nil, version: Long = -1L)
      : DataFrame = {
    require(ranges.nonEmpty || points.nonEmpty,
      "prunedScan needs at least one range or point predicate")
    val v = snapshot(spark, path, version)
    val manifest = v.read("manifest")
    ranges.foreach { case (c, _, _) =>
      require(manifest.columns.contains(s"min_$c"),
        s"prunedScan: the manifest has no envelope for column '$c' " +
          s"(stat columns: ${manifest.columns.filter(_.startsWith("min_"))
            .map(_.stripPrefix("min_")).mkString(", ")}) — only " +
          "columns named at writeLayout can prune")
    }
    // point predicates prune by the per-file MEMBERSHIP sketch (the
    // bloom column writeLayout records for `bloomCols`) — an equality
    // probe on a high-cardinality non-clustered id is the commonest
    // lakehouse read and min/max envelopes never help it; a negative
    // probe is a PROOF of absence, so the skip stays lossless. A
    // CLUSTERED stat column needs no sketch: its min/max envelope
    // serves the equality losslessly (v outside [min, max] proves
    // absence), so a point probe on it falls back to envelope-only
    // pruning instead of being rejected. Only a column with NEITHER a
    // bloom_<c> nor a min_<c>/max_<c> manifest column refuses.
    points.foreach { case (c, _) =>
      require(manifest.columns.contains(s"bloom_$c") ||
        manifest.columns.contains(s"min_$c"),
        s"prunedScan: the manifest has neither a membership sketch " +
          s"nor a min/max envelope for column '$c' — name it in " +
          "writeLayout's bloomCols (point lookups) or cols " +
          "(clustering) to serve point predicates")
    }
    lazy val bloomHashes = geometry(spark, path)._4
    val verdicts0 =
      if (ranges.nonEmpty) skippingVerdicts(manifest, ranges)
      else manifest.withColumn("skipped", lit(0L))
    val verdicts = points.foldLeft(verdicts0) { case (d, (c, pv)) =>
      val bloomMiss =
        if (manifest.columns.contains(s"bloom_$c"))
          !graft.functions.GraftFunctions.bloom_might_contain(
            col(s"bloom_$c"), lit(pv), bloomHashes)
        else lit(false)
      val envMiss =
        if (manifest.columns.contains(s"min_$c"))
          col(s"max_$c") < lit(pv) || col(s"min_$c") > lit(pv)
        else lit(false)
      d.withColumn("skipped",
        when(col("skipped") === 1L, lit(1L))
          .when(bloomMiss || envMiss, lit(1L))
          .otherwise(lit(0L)))
    }
    val kept = verdicts.filter(col("skipped") === 0L)
      .select("file").collect().map(_.getString(0))
    val scan =
      if (kept.nonEmpty)
        spark.read.option("basePath", path)
          .parquet(kept.map(f => s"$path/$f").toIndexedSeq: _*)
      else {
        val any = manifest.select("file").head(1)
        if (any.isEmpty) emptyVersionScan(spark, path, v.n)
        else spark.read.option("basePath", path)
          .parquet(s"$path/${any.head.getString(0)}").limit(0)
      }
    val ranged = ranges.foldLeft(scan) { case (d, (c, lo, hi)) =>
      d.filter(col(c).between(lo, hi))
    }
    points.foldLeft(ranged) { case (d, (c, pv)) =>
      d.filter(col(c) === lit(pv))
    }
  }

  /** EXACT append maintenance of a [[writeLayout]] store — the layout
    * family's member of the maintenance grid: new rows are assigned
    * with the STORE'S ORIGINAL normalization anchors (read from the
    * persisted `_meta` — never re-derived from the manifest, whose
    * envelopes drift with every out-of-domain append or erasure) and
    * commit as snapshot v+1 = v's manifest plus the new files'
    * per-file rows, tagged `tag` ([[publish]]) — WITHOUT rescanning a
    * byte of the existing store.
    *
    * Anchor stability is the contract (the production semantics:
    * appends never re-layout old files — re-clustering is an explicit
    * rewrite): values outside the original domain CLAMP into the
    * boundary cells for assignment, while the new files' envelopes
    * track the ACTUAL values, so [[prunedScan]] stays conservative
    * and lossless over the appended store. The call's
    * curve/bits/nBuckets/cols are VALIDATED against the store's
    * `_meta` identity — an append under the wrong curve or column
    * order would silently scatter the delta across unrelated buckets.
    * Existing files are never touched, so every pinned reader is
    * unaffected. An empty delta publishes nothing. Returns the serving
    * version.
    *
    * Scale notes (100 TB): the `_meta` probe is one row; the delta
    * lays out and writes delta-sized (one exchange on `_bucket`); the
    * manifest grows by one row per new file, and landing is one
    * rename per file (a metadata move — same filesystem by
    * construction). */
  def appendToLayout(spark: org.apache.spark.sql.SparkSession,
      path: String, rows: DataFrame, cols: Seq[String], bits: Int,
      nBuckets: Int, curve: String = "z", tag: String = "-"): Long = {
    val v = snapshot(spark, path)
    val laid = layDelta(spark, path, rows, cols, bits, nBuckets, curve)
    if (laid.isEmpty) v.n
    else publish(spark, path, v, v.read("manifest"), laid, tag)
  }

  // The append's bucket assignment: validates the caller's declared
  // identity against the persisted `_meta`, normalizes the delta
  // under the BUILD-TIME anchors, assigns curve indexes and buckets,
  // and pins the laid frame.
  private def layDelta(spark: org.apache.spark.sql.SparkSession,
      path: String, rows: DataFrame, cols: Seq[String], bits: Int,
      nBuckets: Int, curve: String): DataFrame = {
    val k = cols.size
    require(nBuckets >= 1 && k * bits <= 40,
      "k*bits must be <= 40 so bucket math stays in long range")
    require(curves.contains(curve),
      s"curve must be one of ${curves.mkString(", ")} (got '$curve')")
    require(curve != "hilbert" || k == 2,
      "curve 'hilbert' is the 2-D xy2d state machine — use " +
        "'hilbertk' (the Skilling transform) for k >= 3")
    val metaDf = readFrame(spark, s"$path/_meta")
    val meta = metaDf.head()
    val storeCurve = meta.getAs[String]("curve")
    val storeBits = meta.getAs[Long]("bits").toInt
    val storeN = meta.getAs[Long]("n_buckets").toInt
    val storeCols = meta.getAs[scala.collection.Seq[String]]("cols")
    require(storeCurve == curve && storeBits == bits &&
      storeN == nBuckets && storeCols.toSeq == cols,
      s"appendToLayout: the store at $path was built with " +
        s"curve=$storeCurve, bits=$storeBits, nBuckets=$storeN, " +
        s"cols=${storeCols.mkString("(", ", ", ")")} — the append " +
        s"asked for curve=$curve, bits=$bits, nBuckets=$nBuckets, " +
        s"cols=${cols.mkString("(", ", ", ")")}; a mismatched append " +
        "would scatter the delta across unrelated buckets")
    meta.getAs[scala.collection.Seq[String]]("bloom_cols").foreach(c =>
      require(rows.columns.contains(c),
        s"appendToLayout: the store sketches column '$c' but the " +
          "delta does not carry it"))
    // the persisted BUILD-TIME anchors, as a 1-row broadcast frame
    val anchors = metaDf.select(cols.flatMap(c => Seq(
      col(s"anchor_min_$c").as(s"_min_$c"),
      col(s"anchor_max_$c").as(s"_max_$c"))): _*)
    val normed = cols.map { c =>
      val v = greatest(least(col(c).cast("long"), col(s"_max_$c")),
        col(s"_min_$c"))
      normalizeToBits(v, col(s"_min_$c"), col(s"_max_$c"), bits)
    }
    // each curve keeps ITS index column name (`_z` / `_h`) so the
    // delta's file schema matches the store it lands in
    val indexed = curve match {
      case "z" =>
        rows.crossJoin(broadcast(anchors))
          .withColumn("_z", zValue(normed, bits))
      case "hilbert" =>
        withHilbert(
          rows.crossJoin(broadcast(anchors))
            .withColumn("_cnx", normed(0))
            .withColumn("_cny", normed(1)),
          "_cnx", "_cny", bits)
          .drop("_cnx", "_cny")
      case _ => // hilbertk: the Skilling transform, any k >= 2
        withHilbertK(
          normed.zipWithIndex.foldLeft(
            rows.crossJoin(broadcast(anchors))) {
            case (d, (n, i)) => d.withColumn(s"_cn$i", n)
          },
          (0 until k).map(i => s"_cn$i"), bits)
          .drop((0 until k).map(i => s"_cn$i"): _*)
    }
    val idxCol = if (curve == "z") "_z" else "_h"
    indexed
      .withColumn("_bucket",
        idiv(col(idxCol) * lit(nBuckets.toLong), lit(1L << (k * bits))))
      .drop(cols.flatMap(c => Seq(s"_min_$c", s"_max_$c")): _*)
      .localCheckpoint() // written files and their stats from ONE frame
  }

  /** EXACT takedown maintenance of a [[writeLayout]] store — the
    * right-to-erasure path of the layout family (the [[appendToLayout]]
    * counterpart): one scan of the current snapshot finds the rows to
    * erase and their buckets (deleted ids broadcast into a semi-join),
    * then ONLY the touched buckets' SURVIVORS rewrite into new files,
    * committed as snapshot v+1 = v's manifest minus the touched
    * buckets' rows plus the new files ([[publish]]). Untouched
    * buckets' files are never opened for writing; touched buckets'
    * envelopes and sketches RECOUNT from the survivors (min/max and
    * membership are not subtractable — the recount is
    * touched-bucket-sized, not store-sized). Envelopes can only
    * SHRINK, so [[prunedScan]] stays conservative and lossless; append
    * anchors live in `_meta`, pinned at build time, so even a fully
    * emptied store re-grows correctly on a later append.
    *
    * The old files stay on disk for pinned readers — the erased rows
    * are logically gone from v+1 on, but PHYSICALLY purged only by
    * [[vacuumLayout]] once no kept snapshot references them (the
    * right-to-erasure caller runs vacuum after the pinned horizon
    * passes). A no-op (no touched bucket) publishes nothing. The
    * commit carries `tag` (a streaming batch id, or `-` for a batch
    * caller). Returns the serving version.
    *
    * Scale notes (100 TB): one snapshot scan (the probe), one
    * touched-bucket-sized rewrite, one manifest-sized filter; the
    * touched-bucket id list is a BOUNDED driver fetch (≤ nBuckets
    * rows). */
  def deleteFromLayout(spark: org.apache.spark.sql.SparkSession,
      path: String, removedIds: DataFrame, idCol: String,
      tag: String = "-"): Long = {
    val v = snapshot(spark, path)
    val ids = removedIds
      .select(col(removedIds.columns.head).as(idCol)).distinct()
    // the MANIFEST-scoped live view, never the directory listing —
    // dirs may hold superseded files and crash orphans
    val live = readLayoutVersion(spark, path, v.n)
    val touched = live.join(broadcast(ids), Seq(idCol), "left_semi")
      .select(col("_bucket").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq
    if (touched.isEmpty) v.n
    else publish(spark, path, v,
      v.read("manifest").filter(!col("bucket").isin(touched: _*)),
      live.filter(col("_bucket").isin(touched: _*))
        .join(broadcast(ids), Seq(idCol), "left_anti").localCheckpoint(),
      tag)
  }

  // Commit snapshot v+1 = `kept` (rows of v's manifest) plus the
  // per-file rows of `laid`'s new files, tagged `tag`. The claim of
  // v+1 is the one lock: the files stage under the claimed version
  // (`_versions/_v<n+1>/data`), move into their live bucket
  // directories under their task-unique names, and only then does the
  // manifest write and the marker commit. Nothing references a file
  // before that marker, so a crash anywhere leaves v fully intact:
  // [[recoverLayoutVersions]] drops the claimed version with whatever
  // it still stages, and the files it had landed are orphans for
  // [[vacuumLayout]].
  private def publish(spark: org.apache.spark.sql.SparkSession,
      path: String, v: FrameVersions.Version, kept: DataFrame,
      laid: DataFrame, tag: String): Long = {
    val (cols, bloomCols, bloomBits, bloomHashes) = geometry(spark, path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    v.commitWith(tag) { root =>
      val stage = new org.apache.hadoop.fs.Path(s"$root/data")
      // a fully erased touched set writes no files: the manifest just
      // drops the touched rows
      val manifest = if (laid.isEmpty) kept else {
        laid.repartition(col("_bucket"))
          .write.partitionBy("_bucket").parquet(stage.toString)
        // the staged relative path (_bucket=<b>/<name>) IS the final
        // one — only the directory changes at landing
        val fresh = perFileStats(spark.read.parquet(stage.toString),
          cols, bloomCols, bloomBits, bloomHashes).localCheckpoint()
        fs.listStatus(stage).filter(_.getPath.getName
            .startsWith("_bucket=")).foreach { bd =>
          val target = new org.apache.hadoop.fs.Path(path,
            bd.getPath.getName)
          fs.mkdirs(target): Unit
          fs.listStatus(bd.getPath).map(_.getPath)
            .filterNot(f => f.getName.startsWith("_") ||
              f.getName.startsWith("."))
            .foreach(f => require(fs.rename(f,
              new org.apache.hadoop.fs.Path(target, f.getName)),
              s"layout publish: rename $f into $target failed"))
        }
        fs.delete(stage, true): Unit
        kept.unionByName(fresh)
      }
      manifest.write.parquet(s"$root/manifest")
    }
  }

  /** Drop uncommitted residue from crashed maintenance: a claimed
    * snapshot that never reached its commit marker, with whatever it
    * still stages ([[FrameVersions.recover]] — nothing ever referenced
    * it). Data files it had already landed become orphans for
    * [[vacuumLayout]]. Safe on a clean store (no-op); single-writer:
    * never run concurrently with a live maintenance op. */
  def recoverLayoutVersions(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    FrameVersions.recover(spark, s"$path/_versions")

  /** Physically purge what no KEPT snapshot references: keep the
    * latest `keepLast` committed versions ([[FrameVersions.vacuum]]
    * drops the older manifests and uncommitted residue), and delete
    * every data file no kept manifest lists — superseded pre-erasure
    * files (the actual right-to-erasure purge) and crash orphans
    * alike. Empty bucket directories leave with their last file. The
    * referenced-file set is a manifest-sized driver fetch (one path
    * per live file — the same planning-scale metadata every table
    * format holds). Returns a one-row report (files_deleted,
    * versions_dropped, current_version). Contract: never vacuum below
    * a version a reader still pins. */
  def vacuumLayout(spark: org.apache.spark.sql.SparkSession,
      path: String, keepLast: Int = 1): DataFrame = {
    require(keepLast >= 1, "vacuumLayout must keep at least the " +
      "current version (keepLast >= 1)")
    val cur = snapshot(spark, path).n
    val versionsDropped =
      FrameVersions.vacuum(spark, s"$path/_versions", keepLast)
    val referenced: Set[String] = snapshots(spark, path)
      .flatMap(_.read("manifest").select("file").collect()
        .map(_.getString(0)))
      .toSet
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    var filesDeleted = 0L
    fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("_bucket="))
      .foreach { bd =>
        val bname = bd.getPath.getName
        var remaining = 0
        fs.listStatus(bd.getPath).filter(_.isFile).foreach { f =>
          val rel = s"$bname/${f.getPath.getName}"
          if (!referenced.contains(rel)) {
            fs.delete(f.getPath, false): Unit
            filesDeleted += 1
          } else remaining += 1
        }
        if (remaining == 0)
          fs.delete(bd.getPath, true): Unit
      }
    spark.range(1).select(lit(filesDeleted).as("files_deleted"),
      lit(versionsDropped).as("versions_dropped"),
      lit(cur).as("current_version"))
  }
}
