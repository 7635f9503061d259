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

  /** Read one of a store's underscore-named frames (`_meta`, `_stats`)
    * by its listed part files: Spark hides `_`-prefixed paths, so a
    * read that names such a directory logs "All paths were ignored"
    * on every call, while its part files carry plain names. */
  private[graft] def readFrame(spark: org.apache.spark.sql.SparkSession,
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
    laid.groupBy(col(bucketCol).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        (cols.flatMap(c => Seq(
          min(col(c)).cast("long").as(s"min_$c"),
          max(col(c)).cast("long").as(s"max_$c"))) ++
          // membership sketch per named point-lookup column — the
          // Delta/Iceberg file-level bloom: an equality probe on a
          // high-cardinality id prunes buckets min/max never could
          bloomCols.map(c => graft.functions.GraftFunctions.bloom_long(
            col(c).cast("long"), bloomBits, bloomHashes)
            .as(s"bloom_$c"))): _*)

  /** The curve names a [[writeLayout]] store can record: Morton
    * ([[zOrderLayout]]), 2-D xy2d Hilbert ([[hilbertLayout]]), and
    * k-D Skilling Hilbert ([[hilbertLayoutK]] — a DIFFERENT 2-D
    * orientation than xy2d, so the two must never mix). */
  val curves: Set[String] = Set("z", "hilbert", "hilbertk")

  /** Persist a laid-out frame as a `_bucket`-partitioned parquet store
    * with its skipping manifest co-located at `<path>/_stats` (an
    * underscore-prefixed dir — hidden from the store's own file
    * discovery, the `_SUCCESS` convention): ONE exchange
    * (repartition on the partition column so each bucket writes as
    * one file set), then the manifest derives from a RE-READ of the
    * written store — stats can never disagree with the files they
    * describe, which is the whole pruning contract.
    *
    * A one-row `<path>/_meta` records the store's IDENTITY: the curve
    * name, bits, bucket count, the ordered clustered columns, and the
    * BUILD-TIME normalization anchors (corpus min/max per clustered
    * column). [[appendToLayout]] validates its arguments against the
    * identity and normalizes deltas against the PERSISTED anchors —
    * the manifest's envelopes widen and shrink with maintenance, so
    * re-deriving anchors from them would drift the curve for every
    * later append (anchor stability is the append contract).
    *
    * `statCols` must be the clustered columns in clustering order —
    * the columns the `_z`/`_h` index was computed over. */
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
    val store = laid.sparkSession.read.parquet(path)
    val stats = fileSkippingStats(store, "_bucket", statCols,
        bloomCols, bloomBits, bloomHashes)
      .localCheckpoint()
    stats.write.mode("overwrite").parquet(s"$path/_stats")
    // build-time anchors: the manifest covers the full corpus here
    // (and only here), so its envelope extrema ARE the build anchors;
    // the bloom geometry joins the identity so appends sketch their
    // deltas with the SAME (bits, hashes) — the OR-merge algebra
    // requires it
    val anchorExprs = statCols.flatMap(c => Seq(
      min(col(s"min_$c")).as(s"anchor_min_$c"),
      max(col(s"max_$c")).as(s"anchor_max_$c")))
    stats.agg(anchorExprs.head, anchorExprs.tail: _*)
      .withColumn("curve", lit(curve))
      .withColumn("bits", lit(bits.toLong))
      .withColumn("n_buckets", lit(nBuckets.toLong))
      .withColumn("cols", array(statCols.map(lit): _*))
      .withColumn("bloom_cols", array(bloomCols.map(lit): _*))
      .withColumn("bloom_bits", lit(bloomBits.toLong))
      .withColumn("bloom_hashes", lit(bloomHashes.toLong))
      .write.mode("overwrite").parquet(s"$path/_meta")
  }

  /** EXACT append maintenance of a [[writeLayout]] store — the layout
    * family's member of the maintenance grid: new rows are assigned
    * with the STORE'S ORIGINAL normalization anchors (read from the
    * persisted `_meta` — never re-derived from the manifest, whose
    * envelopes drift with every out-of-domain append or erasure),
    * appended into their partition directories, and the manifest
    * refreshes by pure stats algebra — counts add, envelopes widen by
    * least/greatest — WITHOUT rescanning a byte of the existing store.
    *
    * Anchor stability is the contract (the production semantics:
    * appends never re-layout old files — re-clustering is an explicit
    * rewrite): values outside the original domain CLAMP into the
    * boundary cells for assignment, while the refreshed envelopes
    * track the ACTUAL values, so [[prunedScan]] stays conservative
    * and lossless over the appended store. The call's
    * curve/bits/nBuckets/cols are VALIDATED against the store's
    * `_meta` identity — an append under the wrong curve or column
    * order would silently scatter the delta across unrelated buckets.
    *
    * SELF-HEALING (the delta-ledger protocol): the laid-out delta and
    * the merged manifest STAGE under `<path>/_append_pending/`
    * (underscore-hidden from store reads) and a `_COMMIT` marker is
    * the commit point — only then does the append publish: manifest
    * overwrite FIRST (a crash here leaves envelopes wider than the
    * files, conservative by [[skippingVerdicts]]' min/max-only rule —
    * pruning only KEEPS extra buckets), then the staged files MOVE
    * into their bucket directories (atomic renames; a re-run skips
    * already-landed files, so completion is idempotent and rows can
    * never double-land), then the stage is cleared. A crash at ANY
    * point resolves mechanically via [[recoverAppend]]: no `_COMMIT`
    * → roll BACK (nothing published — drop the stage); `_COMMIT`
    * present → roll FORWARD (replay the publish from the pinned
    * stage). The manifest merge itself can never double-apply — it
    * replays from the staged copy, not by re-merging — so `n_rows`
    * stays exact across crashes (the pre-ledger re-run recipe
    * permanently inflated the touched buckets' counts). A fresh
    * append REFUSES to start while a stage is pending (single-writer
    * discipline; resolve first).
    *
    * Scale notes (100 TB): the `_meta` probe is one row; the delta
    * lays out and writes delta-sized (one exchange on `_bucket`); the
    * stats merge is two bucket-count-sized frames full-joined; the
    * publish is one rename per staged file (metadata moves — same
    * filesystem by construction). Nothing touches existing files. */
  def appendToLayout(spark: org.apache.spark.sql.SparkSession,
      path: String, rows: DataFrame, cols: Seq[String], bits: Int,
      nBuckets: Int, curve: String = "z"): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    require(currentLayoutVersion(spark, path) == 0L,
      s"appendToLayout: the store at $path is VERSIONED — use " +
        "appendToLayoutVersioned (the plain append publishes into " +
        "the live manifest only, so the snapshot chain would " +
        "silently stop covering the store)")
    require(!fs.exists(
      new org.apache.hadoop.fs.Path(s"$path/_append_pending")),
      s"appendToLayout: an interrupted append is staged at " +
        s"$path/_append_pending — run recoverAppend($path) to roll " +
        "it back or forward before appending again (single-writer " +
        "discipline)")
    val (laidDelta, bloomCols, bloomBits, bloomHashes) =
      layDeltaWithIdentity(spark, path, rows, cols, bits, nBuckets,
        curve, "appendToLayout")
    val stats = readFrame(spark, s"$path/_stats")
    cols.foreach(c => require(stats.columns.contains(s"min_$c"),
      s"appendToLayout: the manifest has no envelope for column " +
        s"'$c' — the append must name exactly the columns the store " +
        "was written with"))
    appendPublish(spark, path, fs, laidDelta, stats, cols, bloomCols,
      bloomBits, bloomHashes)
  }

  /** Shared delta-laying arithmetic of [[appendToLayout]] and
    * [[appendToLayoutVersioned]]: validates the caller's declared
    * identity against the persisted `_meta`, normalizes the delta
    * under the BUILD-TIME anchors, assigns curve indexes and buckets,
    * and pins the laid frame. One definition, so a versioned append
    * can never assign buckets differently from the plain one. Returns
    * (laid delta, bloom cols, bloom bits, bloom hashes). */
  private def layDeltaWithIdentity(
      spark: org.apache.spark.sql.SparkSession, path: String,
      rows: DataFrame, cols: Seq[String], bits: Int, nBuckets: Int,
      curve: String, op: String)
      : (DataFrame, Seq[String], Int, Int) = {
    val k = cols.size
    require(nBuckets >= 1 && k * bits <= 40,
      "k*bits must be <= 40 so bucket math stays in long range")
    require(curves.contains(curve),
      s"curve must be one of ${curves.mkString(", ")} (got '$curve')")
    require(curve != "hilbert" || k == 2,
      "curve 'hilbert' is the 2-D xy2d state machine — use " +
        "'hilbertk' (the Skilling transform) for k >= 3")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$path/_meta")),
      s"$op: no layout identity at $path/_meta — the " +
        "store must be written by writeLayout (which persists the " +
        "curve and build-time anchors); appending blind would " +
        "scatter the delta")
    val metaDf = readFrame(spark, s"$path/_meta")
    val meta = metaDf.head()
    val storeCurve = meta.getAs[String]("curve")
    val storeBits = meta.getAs[Long]("bits").toInt
    val storeN = meta.getAs[Long]("n_buckets").toInt
    val storeCols = meta.getAs[scala.collection.Seq[String]]("cols")
    require(storeCurve == curve && storeBits == bits &&
      storeN == nBuckets && storeCols.toSeq == cols,
      s"$op: the store at $path was built with " +
        s"curve=$storeCurve, bits=$storeBits, nBuckets=$storeN, " +
        s"cols=${storeCols.mkString("(", ", ", ")")} — the append " +
        s"asked for curve=$curve, bits=$bits, nBuckets=$nBuckets, " +
        s"cols=${cols.mkString("(", ", ", ")")}; a mismatched append " +
        "would scatter the delta across unrelated buckets")
    // bloom geometry from the identity — deltas must sketch with the
    // store's own (bits, hashes) or the OR-merge would be garbage
    val bloomCols: Seq[String] =
      if (meta.schema.fieldNames.contains("bloom_cols"))
        meta.getAs[scala.collection.Seq[String]]("bloom_cols").toSeq
      else Nil
    val bloomBits =
      if (meta.schema.fieldNames.contains("bloom_bits"))
        meta.getAs[Long]("bloom_bits").toInt
      else 1 << 13
    val bloomHashes =
      if (meta.schema.fieldNames.contains("bloom_hashes"))
        meta.getAs[Long]("bloom_hashes").toInt
      else 5
    bloomCols.foreach(c => require(rows.columns.contains(c),
      s"$op: the store sketches column '$c' but the delta " +
        "does not carry it"))
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
    val laidDelta = indexed
      .withColumn("_bucket",
        idiv(col(idxCol) * lit(nBuckets.toLong), lit(1L << (k * bits))))
      .drop(cols.flatMap(c => Seq(s"_min_$c", s"_max_$c")): _*)
      .localCheckpoint() // appended files and manifest from ONE frame
    (laidDelta, bloomCols, bloomBits, bloomHashes)
  }

  // The publish half of the PLAIN append: exact bucket-level stats
  // algebra (counts add, envelopes widen, blooms OR-union), then the
  // staged-commit ledger (`_append_pending` + `_COMMIT`) and the
  // idempotent roll-forward.
  private def appendPublish(spark: org.apache.spark.sql.SparkSession,
      path: String, fs: org.apache.hadoop.fs.FileSystem,
      laidDelta: DataFrame, stats: DataFrame, cols: Seq[String],
      bloomCols: Seq[String], bloomBits: Int, bloomHashes: Int)
      : Unit = {
    val deltaStats = fileSkippingStats(laidDelta, "_bucket", cols,
      bloomCols, bloomBits, bloomHashes)
    val mergedCols = (col("bucket") +:
      (coalesce(col("_n_old"), lit(0L)) +
        coalesce(col("_n_new"), lit(0L))).as("n_rows") +:
      cols.flatMap(c => Seq(
        least(coalesce(col(s"_mn_old_$c"), col(s"_mn_new_$c")),
          coalesce(col(s"_mn_new_$c"), col(s"_mn_old_$c")))
          .as(s"min_$c"),
        greatest(coalesce(col(s"_mx_old_$c"), col(s"_mx_new_$c")),
          coalesce(col(s"_mx_new_$c"), col(s"_mx_old_$c")))
          .as(s"max_$c")))) ++
      // bloom union — pure algebra, no rescan: old ∪ delta per bucket
      bloomCols.map(c =>
        when(col(s"_bl_old_$c").isNull, col(s"_bl_new_$c"))
          .when(col(s"_bl_new_$c").isNull, col(s"_bl_old_$c"))
          .otherwise(graft.functions.GraftFunctions.bloom_or(
            col(s"_bl_old_$c"), col(s"_bl_new_$c")))
          .as(s"bloom_$c"))
    def tag(df: DataFrame, sfx: String): DataFrame =
      df.select((col("bucket") +:
        col("n_rows").as(s"_n_$sfx") +:
        cols.flatMap(c => Seq(
          col(s"min_$c").as(s"_mn_${sfx}_$c"),
          col(s"max_$c").as(s"_mx_${sfx}_$c")))) ++
        bloomCols.map(c =>
          col(s"bloom_$c").as(s"_bl_${sfx}_$c")): _*)
    val merged = tag(stats, "old")
      .join(tag(deltaStats, "new"), Seq("bucket"), "full")
      .select(mergedCols: _*)
    // STAGE: delta files + merged manifest land under the pending
    // ledger (durable pins — no reader sees them: underscore dir),
    // then the _COMMIT marker makes the publish decision durable
    val pending = s"$path/_append_pending"
    // Stage ACQUISITION is the mutex, not the exists-check above (two
    // concurrent appends can both pass an exists-then-write probe and
    // interleave files into one stage, leaving a stats_merged that
    // reflects only one delta): an atomic exclusive create of the
    // stage marker — exactly one racer wins; the loser fails before
    // writing anything. A crash right after acquisition leaves a
    // markerless-of-_COMMIT stage that recoverAppend rolls back.
    require(fs.createNewFile(
      new org.apache.hadoop.fs.Path(s"$pending/_STAGE_LOCK")),
      s"appendToLayout: another append just acquired the stage at " +
        s"$pending (or an interrupted one holds it) — single-writer " +
        s"discipline; run recoverAppend($path) if no writer is live")
    laidDelta.repartition(col("_bucket"))
      .write.partitionBy("_bucket").parquet(s"$pending/data")
    merged.write.parquet(s"$pending/stats_merged")
    fs.create(new org.apache.hadoop.fs.Path(s"$pending/_COMMIT"), true)
      .close()
    // PUBLISH — replayable from the stage at any point (recoverAppend)
    completeAppend(spark, path, fs)
  }

  // The roll-forward half of the append ledger: manifest from the
  // pinned staged copy FIRST (the conservative window), then every
  // staged file renames into its bucket directory (skip-if-landed —
  // idempotent), then the stage clears. Callable any number of times.
  private def completeAppend(spark: org.apache.spark.sql.SparkSession,
      path: String, fs: org.apache.hadoop.fs.FileSystem): Unit = {
    val pending = s"$path/_append_pending"
    spark.read.parquet(s"$pending/stats_merged")
      .write.mode("overwrite").parquet(s"$path/_stats")
    val dataRoot = new org.apache.hadoop.fs.Path(s"$pending/data")
    if (fs.exists(dataRoot)) {
      fs.listStatus(dataRoot)
        .filter(s => s.isDirectory &&
          s.getPath.getName.startsWith("_bucket="))
        .foreach { bd =>
          val target =
            new org.apache.hadoop.fs.Path(path, bd.getPath.getName)
          if (!fs.exists(target)) fs.mkdirs(target): Unit
          fs.listStatus(bd.getPath)
            .filter(f => f.isFile &&
              !f.getPath.getName.startsWith("_") &&
              !f.getPath.getName.startsWith("."))
            .foreach { f =>
              val dst = new org.apache.hadoop.fs.Path(target,
                f.getPath.getName)
              // staged part names are unique (Spark task UUIDs); an
              // existing dst means a previous publish attempt already
              // landed this file — never rename over it
              if (!fs.exists(dst))
                require(fs.rename(f.getPath, dst),
                  s"appendToLayout: publish rename ${f.getPath} -> " +
                    s"$dst failed (stage intact — recoverAppend " +
                    "resumes)")
              else fs.delete(f.getPath, false): Unit
            }
        }
    }
    fs.delete(new org.apache.hadoop.fs.Path(pending), true): Unit
  }

  /** Mechanical recovery of an interrupted [[appendToLayout]] — the
    * consumer of the delta ledger: inspects `<path>/_append_pending`
    * and either rolls BACK (no `_COMMIT` marker: the append never
    * decided to publish — nothing in the live store changed; the
    * stage drops and the caller may simply re-append) or rolls
    * FORWARD (`_COMMIT` present: the staged manifest and files are
    * complete by construction — replay the publish, which is
    * idempotent). Replaces the manual delete-then-retry recipe; safe
    * to call on a clean store (no-op).
    *
    * @return one row: (`action` ∈ clean | rolled_back | completed,
    *         `n_staged_files` — data files in the stage at entry) */
  def recoverAppend(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val pendingPath =
      new org.apache.hadoop.fs.Path(s"$path/_append_pending")
    val fs = pendingPath.getFileSystem(conf)
    def stagedFiles(): Long =
      if (!fs.exists(pendingPath)) 0L
      else {
        val it = fs.listFiles(pendingPath, true)
        var n = 0L
        while (it.hasNext) {
          val f = it.next()
          if (f.getPath.getName.endsWith(".parquet")) n += 1
        }
        n
      }
    val n = stagedFiles()
    val action =
      if (!fs.exists(pendingPath)) "clean"
      else if (!fs.exists(new org.apache.hadoop.fs.Path(
          s"$path/_append_pending/_COMMIT"))) {
        fs.delete(pendingPath, true): Unit
        "rolled_back"
      } else {
        completeAppend(spark, path, fs)
        "completed"
      }
    Seq((action, n)).toDF("action", "n_staged_files")
  }

  /** EXACT takedown maintenance of a [[writeLayout]] store — the
    * right-to-erasure path of the layout family (the [[appendToLayout]]
    * counterpart): one store scan finds the rows to erase and their
    * buckets (deleted ids broadcast into a semi-join), then ONLY the
    * touched partition directories rewrite with their survivors
    * (dynamic partition overwrite — untouched buckets' files are
    * never opened for writing), buckets whose rows all die have their
    * directories removed, and the manifest refreshes exactly:
    * touched-bucket envelopes RECOUNT from the survivors (min/max is
    * not subtractable — the recount is touched-bucket-sized, not
    * store-sized), untouched rows pass through verbatim, zero-row
    * buckets leave. Envelopes can only SHRINK, so [[prunedScan]]
    * stays conservative and lossless; append anchors are unaffected
    * (they live in `_meta`, pinned at build time).
    *
    * Crash window: a crash after the survivor rewrite but before the
    * manifest overwrite leaves envelopes wider than the files — which
    * is conservative (pruning only keeps extra buckets); a crash
    * between an emptied directory's delete and the manifest overwrite
    * leaves the manifest naming a directory that is gone — which
    * [[prunedScan]] existence-filters (the bucket holds no rows by
    * construction, so the filter is exact). Either way readers stay
    * lossless and the erasure can simply re-run.
    *
    * Scale notes (100 TB): one store scan (the probe), one
    * touched-bucket-sized rewrite, one bucket-count-sized manifest
    * merge; the touched-bucket id list is a BOUNDED driver fetch
    * (≤ nBuckets rows). */
  def deleteFromLayout(spark: org.apache.spark.sql.SparkSession,
      path: String, removedIds: DataFrame, idCol: String): Unit = {
    val fsGuard = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    require(currentLayoutVersion(spark, path) == 0L,
      s"deleteFromLayout: the store at $path is VERSIONED — use " +
        "deleteFromLayoutVersioned (the plain erasure rewrites " +
        "bucket files IN PLACE, which would yank files out from " +
        "under every pinned snapshot)")
    require(!fsGuard.exists(
      new org.apache.hadoop.fs.Path(s"$path/_append_pending")),
      s"deleteFromLayout: an interrupted append is staged at " +
        s"$path/_append_pending — run recoverAppend($path) first; an " +
        "erasure interleaved with a pending publish would let the " +
        "staged manifest overwrite the recounted one")
    val ids = removedIds
      .select(col(removedIds.columns.head).as(idCol)).distinct()
    val store = spark.read.parquet(path)
    val touched = store.join(broadcast(ids), Seq(idCol), "left_semi")
      .select(col("_bucket").cast("long")).distinct()
      .collect().map(_.getLong(0))
    if (touched.nonEmpty) {
      val touchedRows = store
        .filter(col("_bucket").isin(touched.map(Long.box): _*))
      val survivors = touchedRows
        .join(broadcast(ids), Seq(idCol), "left_anti")
        .localCheckpoint() // rewrite + stats from ONE frame, pinned
        // BEFORE the partition dirs it was read from are replaced
      val statCols = readFrame(spark, s"$path/_stats").columns
        .filter(_.startsWith("min_")).map(_.stripPrefix("min_")).toSeq
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
      // bloom geometry (if the store sketches): touched buckets
      // RECOUNT their sketches from survivors — membership is not
      // subtractable, exactly the min/max recount discipline
      val (bloomCols, bloomBits, bloomHashes) =
        if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/_meta")))
          bloomGeometry(spark, path)
        else (Nil, 1 << 13, 5)
      val survivorBuckets = survivors
        .select(col("_bucket").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet
      val prevMode = spark.conf
        .getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode",
        "dynamic")
      try
        survivors.repartition(col("_bucket"))
          .write.mode("overwrite").partitionBy("_bucket").parquet(path)
      finally prevMode match {
        case Some(m) => spark.conf
          .set("spark.sql.sources.partitionOverwriteMode", m)
        case None => spark.conf
          .unset("spark.sql.sources.partitionOverwriteMode")
      }
      // a fully-erased bucket writes no files under dynamic overwrite
      // — its old directory must go explicitly
      touched.filterNot(survivorBuckets).foreach { b =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/_bucket=$b"),
          true): Unit
      }
      val stats = readFrame(spark, s"$path/_stats")
      val kept = stats
        .filter(!col("bucket").isin(touched.map(Long.box): _*))
      val refreshed = fileSkippingStats(survivors, "_bucket", statCols,
        bloomCols, bloomBits, bloomHashes)
      val merged = kept.unionByName(refreshed).localCheckpoint()
      merged.write.mode("overwrite").parquet(s"$path/_stats")
    }
  }

  /** Manifest-driven pruned read of a [[writeLayout]] store: apply the
    * [[skippingVerdicts]] rule to the co-located stats, fetch the kept
    * bucket ids to the driver (BOUNDED — one row per bucket, the
    * landmark-fetch discipline, thousands not billions), and read ONLY
    * those partition directories before applying the exact row
    * predicate. Result rows are EQUAL to filtering the full store (the
    * pruning rule is conservative — it never skips a bucket that
    * holds a matching row); what pruning buys is the scan: untouched
    * buckets' files are never opened, never listed into tasks. */
  def prunedScan(spark: org.apache.spark.sql.SparkSession, path: String,
      ranges: Seq[(String, Long, Long)],
      points: Seq[(String, Long)] = Nil): DataFrame = {
    require(ranges.nonEmpty || points.nonEmpty,
      "prunedScan needs at least one range or point predicate")
    val statsPath = new org.apache.hadoop.fs.Path(s"$path/_stats")
    val fs = statsPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    require(fs.exists(statsPath),
      s"prunedScan: no skipping manifest at $statsPath — the store " +
        "must be written by writeLayout (or carry its layout); a " +
        "plain parquet directory cannot be manifest-pruned")
    val stats = readFrame(spark, s"$path/_stats")
    ranges.foreach { case (c, _, _) =>
      require(stats.columns.contains(s"min_$c"),
        s"prunedScan: the manifest has no envelope for column '$c' " +
          s"(stat columns: ${stats.columns.filter(_.startsWith("min_"))
            .map(_.stripPrefix("min_")).mkString(", ")}) — only " +
          "columns named at writeLayout can prune")
    }
    // point predicates prune by the per-bucket MEMBERSHIP sketch (the
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
      require(stats.columns.contains(s"bloom_$c") ||
        stats.columns.contains(s"min_$c"),
        s"prunedScan: the manifest has neither a membership sketch " +
          s"nor a min/max envelope for column '$c' — name it in " +
          "writeLayout's bloomCols (point lookups) or cols " +
          "(clustering) to serve point predicates")
    }
    val sketchedPoints =
      points.filter { case (c, _) => stats.columns.contains(s"bloom_$c") }
    val bloomHashes: Int =
      if (sketchedPoints.isEmpty) 5
      else {
        val metaPath = new org.apache.hadoop.fs.Path(s"$path/_meta")
        require(fs.exists(metaPath),
          s"prunedScan: point predicates need the store identity at " +
            s"$metaPath (writeLayout records the bloom geometry there)")
        bloomGeometry(spark, path)._3
      }
    val verdicts0 =
      if (ranges.nonEmpty) skippingVerdicts(stats, ranges)
      else stats.withColumn("skipped", lit(0L))
    val verdicts = points.foldLeft(verdicts0) { case (d, (c, v)) =>
      val bloomMiss =
        if (stats.columns.contains(s"bloom_$c"))
          !graft.functions.GraftFunctions.bloom_might_contain(
            col(s"bloom_$c"), lit(v), bloomHashes)
        else lit(false)
      val envMiss =
        if (stats.columns.contains(s"min_$c"))
          col(s"max_$c") < lit(v) || col(s"min_$c") > lit(v)
        else lit(false)
      d.withColumn("skipped",
        when(col("skipped") === 1L, lit(1L))
          .when(bloomMiss || envMiss, lit(1L))
          .otherwise(lit(0L)))
    }
    // existence-filter the kept list (bounded: one probe per kept
    // bucket): a manifest row whose directory is gone is
    // deleteFromLayout's crash window (emptied dirs delete before the
    // manifest rewrites) — the bucket holds no rows by construction,
    // so skipping it is EXACT, and the scan never hard-fails on a
    // path the manifest still names
    val kept = verdicts
      .filter(col("skipped") === 0L)
      .select(col("bucket")).collect().map(_.getLong(0))
      .filter(b => fs.exists(
        new org.apache.hadoop.fs.Path(s"$path/_bucket=$b")))
    val scan =
      if (kept.nonEmpty)
        spark.read.option("basePath", path)
          .parquet(kept.map(b => s"$path/_bucket=$b"): _*)
      else {
        // zero kept buckets: read SOME existing bucket dir just for
        // the schema (underscore dirs hide _stats/_meta from a plain
        // read, so a fully-pruned store would otherwise die with
        // UNABLE_TO_INFER_SCHEMA); a store with NO bucket dirs at all
        // (every row erased) has no recoverable row schema — refuse
        // with the recovery path instead of an inference crash
        val any = fs.listStatus(new org.apache.hadoop.fs.Path(path))
          .map(_.getPath).find(_.getName.startsWith("_bucket="))
        require(any.nonEmpty,
          s"prunedScan: the store at $path has no bucket directories " +
            "left (every row erased) — its row schema is gone with " +
            "them; rebuild via writeLayout before serving reads " +
            "(the streaming twin does exactly this)")
        spark.read.option("basePath", path)
          .parquet(any.get.toString).limit(0)
      }
    val ranged = ranges.foldLeft(scan) { case (d, (c, lo, hi)) =>
      d.filter(col(c).between(lo, hi))
    }
    points.foldLeft(ranged) { case (d, (c, v)) =>
      d.filter(col(c) === lit(v))
    }
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

  // ─────────────── versioned manifests (FrameVersions snapshots) ─────────
  //
  // The durability milestone on top of the live store: a committed
  // chain of immutable snapshots, each a PER-FILE manifest (file list +
  // per-file envelopes/sketches) committed as frame `manifest` of the
  // [[FrameVersions]] store at `<path>/_versions` — its commit marker
  // create is the pointer swap, and its claim on `n + 1` refuses a
  // publisher whose base snapshot is no longer the latest.
  // Once a store is versioned:
  //
  //  * data files are IMMUTABLE until vacuum — append only ADDS files,
  //    erasure REWRITES touched buckets into new files and leaves the
  //    old ones for pinned readers (physical purge = `vacuumLayout`,
  //    the GDPR caveat a caller must know);
  //  * a reader pins a snapshot once and reads THAT manifest's files
  //    for as long as it likes — maintenance can publish v+1
  //    underneath it freely, so versioned stores need no
  //    hold-localCheckpoint-across-maintenance reader discipline
  //    (COVERAGE.md contract);
  //  * the PLAIN maintenance ops refuse (they mutate in place), and
  //    the plain directory read is no longer meaningful after the
  //    first versioned erasure (old and new files coexist) — all reads
  //    go through [[readLayoutVersion]] / [[prunedScanVersion]].
  //
  // New data files land first (invisible — nothing references them)
  // from a stage behind an exclusive `_STAGE_LOCK`, then the manifest
  // commits. A crash anywhere before the marker leaves the current
  // snapshot fully intact; `recoverLayoutVersions` sweeps the
  // uncommitted residue and `vacuumLayout` sweeps orphaned data files.

  /** Every committed snapshot of the store at `path`, oldest first.
    * A store still in the retired `_versions/v<n>/_COMMITTED` layout is
    * refused. */
  def snapshots(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[FrameVersions.Version] = {
    val all = FrameVersions.versions(spark, s"$path/_versions")
    require(all.nonEmpty || Option(new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .globStatus(new org.apache.hadoop.fs.Path(
        s"$path/_versions/v*/_COMMITTED"))).forall(_.isEmpty),
      s"the store at $path keeps its snapshots in the retired " +
        "_versions/v<n>/_COMMITTED layout; snapshots now commit " +
        s"through FrameVersions at $path/_versions — rebuild it with " +
        "writeLayout + snapshotLayout")
    all
  }

  /** Largest committed snapshot version at `path` (0 = the store is
    * not versioned). One listing of the commit markers. */
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
      s"the store at $path is not versioned — snapshotLayout first")
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

  // Per-FILE skipping stats — the versioned twin of
  // [[fileSkippingStats]], keyed by (bucket, store-relative file path)
  // so a snapshot lists exactly the files it covers and pruning gets
  // file granularity (strictly finer than the live manifest's
  // bucket granularity).
  private def perFileStats(storeRows: DataFrame, cols: Seq[String],
      bloomCols: Seq[String], bloomBits: Int, bloomHashes: Int)
      : DataFrame =
    storeRows
      .withColumn("file", regexp_extract(input_file_name(),
        "(_bucket=[0-9]+/[^/]+)$", 1))
      .groupBy(col("_bucket").cast("long").as("bucket"), col("file"))
      .agg(count(lit(1)).as("n_rows"),
        (cols.flatMap(c => Seq(
          min(col(c)).cast("long").as(s"min_$c"),
          max(col(c)).cast("long").as(s"max_$c"))) ++
          bloomCols.map(c => graft.functions.GraftFunctions.bloom_long(
            col(c).cast("long"), bloomBits, bloomHashes)
            .as(s"bloom_$c"))): _*)

  // Shared bloom-geometry fetch from the store identity.
  private def bloomGeometry(spark: org.apache.spark.sql.SparkSession,
      path: String): (Seq[String], Int, Int) = {
    val m = readFrame(spark, s"$path/_meta").head()
    if (m.schema.fieldNames.contains("bloom_cols"))
      (m.getAs[scala.collection.Seq[String]]("bloom_cols").toSeq,
        m.getAs[Long]("bloom_bits").toInt,
        m.getAs[Long]("bloom_hashes").toInt)
    else (Nil, 1 << 13, 5)
  }

  /** Turn a [[writeLayout]] store into a VERSIONED store: publish
    * snapshot v1 covering exactly the files on disk. One store scan
    * (the per-file stats derive from a re-read, the writeLayout
    * can-never-disagree contract); after this call all maintenance
    * goes through the `*Versioned` ops and all reads through
    * [[readLayoutVersion]] / [[prunedScanVersion]]. */
  def snapshotLayout(spark: org.apache.spark.sql.SparkSession,
      path: String): Long = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$path/_meta")),
      s"snapshotLayout: no layout identity at $path/_meta — the " +
        "store must be written by writeLayout first")
    require(!fs.exists(
      new org.apache.hadoop.fs.Path(s"$path/_append_pending")),
      s"snapshotLayout: an interrupted plain append is staged at " +
        s"$path/_append_pending — run recoverAppend($path) first so " +
        "v1 covers a settled file set")
    require(currentLayoutVersion(spark, path) == 0L,
      s"snapshotLayout: the store at $path is already versioned — " +
        "maintenance publishes snapshots itself; re-snapshotting " +
        "would adopt orphaned (superseded or crash-staged) files")
    val m = readFrame(spark, s"$path/_meta").head()
    val cols = m.getAs[scala.collection.Seq[String]]("cols").toSeq
    val (bloomCols, bloomBits, bloomHashes) = bloomGeometry(spark, path)
    val manifest = perFileStats(spark.read.parquet(path), cols,
      bloomCols, bloomBits, bloomHashes).localCheckpoint()
    FrameVersions.latest(spark, s"$path/_versions")
      .commit(Seq("manifest" -> manifest))
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
        "ancestor — the row schema is gone; rebuild via writeLayout " +
        "+ snapshotLayout")
    spark.read.option("basePath", path)
      .parquet(s"$path/${donor.get}").limit(0)
  }

  /** [[prunedScan]] against a PINNED snapshot: the same conservative
    * verdict rule (range envelopes, point sketches/envelopes) applied
    * to the per-file manifest — file granularity, strictly finer than
    * the live manifest's bucket granularity — then an explicit-path
    * read of only the kept files. No existence-filter is needed:
    * committed manifests reference immutable files (the vacuum
    * contract is to never drop a still-pinned version). */
  def prunedScanVersion(spark: org.apache.spark.sql.SparkSession,
      path: String, ranges: Seq[(String, Long, Long)],
      points: Seq[(String, Long)] = Nil, version: Long = -1L)
      : DataFrame = {
    require(ranges.nonEmpty || points.nonEmpty,
      "prunedScanVersion needs at least one range or point predicate")
    val v = snapshot(spark, path, version)
    val manifest = v.read("manifest")
    ranges.foreach { case (c, _, _) =>
      require(manifest.columns.contains(s"min_$c"),
        s"prunedScanVersion: the manifest has no envelope for column " +
          s"'$c' — only columns named at writeLayout can prune")
    }
    points.foreach { case (c, _) =>
      require(manifest.columns.contains(s"bloom_$c") ||
        manifest.columns.contains(s"min_$c"),
        s"prunedScanVersion: the manifest has neither a membership " +
          s"sketch nor a min/max envelope for column '$c' — name it " +
          "in writeLayout's bloomCols (point lookups) or cols " +
          "(clustering) to serve point predicates")
    }
    val (_, _, bloomHashes) =
      if (points.exists { case (c, _) =>
        manifest.columns.contains(s"bloom_$c") })
        bloomGeometry(spark, path)
      else (Nil, 0, 5)
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
    // kept FILES to the driver — manifest-sized (one row per file),
    // the same bounded planning fetch every table format pays
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

  /** Versioned APPEND: lay the delta with the exact plain-append
    * arithmetic ([[layDeltaWithIdentity]] — one definition of bucket
    * assignment), land its files into the live bucket directories
    * under their final unique names, and commit v+1 = v's manifest
    * plus the new files' per-file rows, tagged `tag`. Existing files
    * are never touched, so every pinned reader is unaffected; nothing
    * references the new files until the commit marker lands, so a
    * crash anywhere leaves v fully intact (the staged/landed delta
    * files become vacuum-sweepable orphans and the append re-runs
    * after [[recoverLayoutVersions]]). Returns the new version
    * number. */
  def appendToLayoutVersioned(
      spark: org.apache.spark.sql.SparkSession, path: String,
      rows: DataFrame, cols: Seq[String], bits: Int, nBuckets: Int,
      curve: String = "z", tag: String = "-"): Long = {
    val v = snapshot(spark, path)
    val prev = v.read("manifest").localCheckpoint()
    cols.foreach(c => require(prev.columns.contains(s"min_$c"),
      s"appendToLayoutVersioned: the manifest has no envelope for " +
        s"column '$c' — the append must name exactly the columns the " +
        "store was written with"))
    val (laidDelta, bloomCols, bloomBits, bloomHashes) =
      layDeltaWithIdentity(spark, path, rows, cols, bits, nBuckets,
        curve, "appendToLayoutVersioned")
    if (laidDelta.isEmpty) return v.n // empty delta: nothing to publish
    val stage = acquireStage(spark, path, v.n, "appendToLayoutVersioned")
    laidDelta.repartition(col("_bucket"))
      .write.partitionBy("_bucket").parquet(s"$stage/data")
    // per-file rows from the STAGED files: the staged relative path
    // (_bucket=<b>/<name>) IS the final relative path — names are
    // task-UUID unique, only the directory changes at landing
    val deltaRows = perFileStats(spark.read.parquet(s"$stage/data"),
      cols, bloomCols, bloomBits, bloomHashes).localCheckpoint()
    publishStaged(spark, path, stage, v,
      prev.unionByName(deltaRows), tag)
  }

  // The stage of the maintenance op building on snapshot `n`, taken
  // by an exclusive `_STAGE_LOCK` create: of two ops racing from the
  // same snapshot the second fails here, before it writes anything.
  private def acquireStage(spark: org.apache.spark.sql.SparkSession,
      path: String, n: Long, op: String): String = {
    val stage = s"$path/_versions/_stage_v${n + 1}"
    require(new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .createNewFile(new org.apache.hadoop.fs.Path(s"$stage/_STAGE_LOCK")),
      s"$op: another versioned maintenance op holds the stage at " +
        s"$stage (or a crashed one does) — single-writer discipline; " +
        s"run recoverLayoutVersions($path) if no writer is live")
    stage
  }

  // Land the stage's data files, commit `manifest` on top of `v`, then
  // clear the stage. Returns the committed version.
  private def publishStaged(spark: org.apache.spark.sql.SparkSession,
      path: String, stage: String, v: FrameVersions.Version,
      manifest: DataFrame, tag: String): Long = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    landStagedFiles(fs, path, s"$stage/data")
    val n = v.commit(Seq("manifest" -> manifest), tag)
    fs.delete(new org.apache.hadoop.fs.Path(stage), true): Unit
    n
  }

  // Move every staged data file into its live bucket directory,
  // skip-if-landed (idempotent — the completeAppend discipline).
  private def landStagedFiles(fs: org.apache.hadoop.fs.FileSystem,
      path: String, dataRoot: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(dataRoot)
    if (!fs.exists(root)) return
    fs.listStatus(root)
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("_bucket="))
      .foreach { bd =>
        val target =
          new org.apache.hadoop.fs.Path(path, bd.getPath.getName)
        if (!fs.exists(target)) fs.mkdirs(target): Unit
        fs.listStatus(bd.getPath)
          .filter(f => f.isFile &&
            !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith("."))
          .foreach { f =>
            val dst = new org.apache.hadoop.fs.Path(target,
              f.getPath.getName)
            if (!fs.exists(dst))
              require(fs.rename(f.getPath, dst),
                s"versioned publish rename ${f.getPath} -> $dst " +
                  "failed (stage intact — re-run the op)")
            else fs.delete(f.getPath, false): Unit
          }
      }
  }

  /** Versioned ERASURE: rewrite the touched buckets' SURVIVORS into
    * new files and commit v+1 = v's manifest minus the touched
    * buckets' old rows plus the new files. The old files stay on disk
    * for pinned readers — the erased rows are logically gone from v+1
    * on, but PHYSICALLY purged only by [[vacuumLayout]] once no kept
    * snapshot references them (the right-to-erasure caller runs
    * vacuum after the pinned horizon passes). A no-op (no touched
    * bucket) publishes nothing and returns the current version.
    * Returns the serving version number. */
  def deleteFromLayoutVersioned(
      spark: org.apache.spark.sql.SparkSession, path: String,
      removedIds: DataFrame, idCol: String): Long = {
    val v = snapshot(spark, path)
    val prev = v.read("manifest").localCheckpoint()
    val ids = removedIds
      .select(col(removedIds.columns.head).as(idCol)).distinct()
    // the MANIFEST-scoped live view, never the directory listing —
    // dirs may hold superseded files and crash-staged orphans
    val live = readLayoutVersion(spark, path, v.n)
    val touched = live.join(broadcast(ids), Seq(idCol), "left_semi")
      .select(col("_bucket").cast("long")).distinct()
      .collect().map(_.getLong(0))
    if (touched.isEmpty) return v.n
    val survivors = live
      .filter(col("_bucket").isin(touched.map(Long.box): _*))
      .join(broadcast(ids), Seq(idCol), "left_anti")
      .localCheckpoint()
    val m = readFrame(spark, s"$path/_meta").head()
    val cols = m.getAs[scala.collection.Seq[String]]("cols").toSeq
    val (bloomCols, bloomBits, bloomHashes) = bloomGeometry(spark, path)
    val stage = acquireStage(spark, path, v.n, "deleteFromLayoutVersioned")
    // touched buckets fully erased → no survivor files to stage (a
    // zero-file parquet write cannot even be re-read for stats); the
    // new manifest simply drops the touched rows — the anchors live
    // in _meta, so even a fully-emptied versioned store re-grows
    // correctly on a later append
    val newRows =
      if (survivors.isEmpty) prev.filter(lit(false))
      else {
        survivors.repartition(col("_bucket"))
          .write.partitionBy("_bucket").parquet(s"$stage/data")
        perFileStats(spark.read.parquet(s"$stage/data"),
          cols, bloomCols, bloomBits, bloomHashes).localCheckpoint()
      }
    publishStaged(spark, path, stage, v,
      prev.filter(!col("bucket").isin(touched.map(Long.box): _*))
        .unionByName(newRows), "-")
  }

  /** Drop uncommitted residue from crashed versioned maintenance: a
    * claimed snapshot that never reached its commit marker
    * ([[FrameVersions.recover]] — nothing ever referenced it) and any
    * maintenance stage (either its op crashed pre-commit, or it
    * committed and only the stage cleanup was lost — landed files are
    * referenced by the committed manifest, staged leftovers are
    * duplicates either way). Data files the dropped residue had
    * already landed become orphans for [[vacuumLayout]]. Safe on a
    * clean store (no-op); single-writer: never run concurrently with
    * a live maintenance op. */
  def recoverLayoutVersions(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    FrameVersions.recover(spark, s"$path/_versions")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(
        s"$path/_versions/_stage_v*"))).toSeq.flatten
      .foreach(d => fs.delete(d.getPath, true): Unit)
  }

  /** Physically purge what no KEPT snapshot references: keep the
    * latest `keepLast` committed versions ([[FrameVersions.vacuum]]
    * drops the older manifests), sweep uncommitted residue
    * ([[recoverLayoutVersions]]), and delete every data file no kept
    * manifest lists — superseded pre-erasure files (the actual
    * right-to-erasure purge) and crash orphans alike. Empty bucket
    * directories leave with their last file. The referenced-file set
    * is a manifest-sized driver fetch (one path per live file — the
    * same planning-scale metadata every table format holds). Returns
    * a one-row report (files_deleted, versions_dropped,
    * current_version). Contract: never vacuum below a version a
    * reader still pins. */
  def vacuumLayout(spark: org.apache.spark.sql.SparkSession,
      path: String, keepLast: Int = 1): DataFrame = {
    require(keepLast >= 1, "vacuumLayout must keep at least the " +
      "current version (keepLast >= 1)")
    val cur = snapshot(spark, path).n
    recoverLayoutVersions(spark, path)
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
