package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shingle Bloom filter — the third decontamination scale tier (see
  * [[graft.operators.Decontaminate]]): when even the 8-byte shingle
  * hashes of the benchmark are too big to broadcast comfortably, a Bloom
  * filter at ~10 bits/shingle is a further ~6× smaller, with false
  * POSITIVES only — so a prefilter probing it can never lose a truly
  * contaminated doc, and the exact verify stage downstream makes the end
  * result identical to the exact path.
  *
  * Build and probe share one kernel and one hash scheme (double hashing:
  * bit_i = (h1 + i·h2) mod m, h1/h2 = XXH64 of the shingle bytes under
  * two fixed seeds), and both derive shingles with [[TextKernels.shingles]]
  * — the same derivation [[graft.operators.Decontaminate]] joins on, so a
  * shingle the verify stage would match always probes positive (no false
  * negatives by construction).
  */
object BloomKernel {

  val SeedH1 = 42L
  val SeedH2 = 1337L

  /** The k probe positions for one shingle's UTF-8 bytes. `m` is the bit
    * count (a multiple of 64). Double hashing (Kirsch–Mitzenmacher): two
    * real hashes simulate k with no loss in the false-positive bound. */
  private def hashes(bytes: Array[Byte]): (Long, Long) = {
    val off = org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET
    (XXH64.hashUnsafeBytes(bytes, off, bytes.length, SeedH1),
      XXH64.hashUnsafeBytes(bytes, off, bytes.length, SeedH2))
  }

  /** OR every shingle of `s` into `bits` (build side). */
  def setShingleBits(bits: Array[Long], s: UTF8String, shingleSize: Int,
      numHashes: Int): Unit = {
    val m = bits.length.toLong * 64
    val shs = TextKernels.shingles(s, shingleSize)
    var i = 0
    while (i < shs.numElements()) {
      val (h1, h2) = hashes(shs.getUTF8String(i).getBytes)
      var j = 0
      while (j < numHashes) {
        val pos = java.lang.Math.floorMod(h1 + j * h2, m)
        bits((pos >>> 6).toInt) |= 1L << (pos & 63)
        j += 1
      }
      i += 1
    }
  }

  /** OR one LONG key into `bits` (build side of the membership-sketch
    * tier — the layout manifest's point-lookup column; Delta/Iceberg
    * file-level bloom, per bucket). Hashing is XXH64 of the 8-byte
    * value under the same two seeds as the shingle tier. */
  def setLongBits(bits: Array[Long], v: Long, numHashes: Int): Unit = {
    val m = bits.length.toLong * 64
    val h1 = XXH64.hashLong(v, SeedH1)
    val h2 = XXH64.hashLong(v, SeedH2)
    var j = 0
    while (j < numHashes) {
      val pos = java.lang.Math.floorMod(h1 + j * h2, m)
      bits((pos >>> 6).toInt) |= 1L << (pos & 63)
      j += 1
    }
  }

  /** Probe side of [[setLongBits]]: false ⇒ the key is CERTAINLY not
    * in the set the sketch was built over (the lossless-skip
    * direction); true ⇒ maybe present, read the bucket. */
  def mightContainLong(bloom: Array[Byte], v: Long,
      numHashes: Int): Boolean = {
    val m = bloom.length.toLong * 8
    val h1 = XXH64.hashLong(v, SeedH1)
    val h2 = XXH64.hashLong(v, SeedH2)
    var j = 0
    while (j < numHashes) {
      val pos = java.lang.Math.floorMod(h1 + j * h2, m)
      if (((bloom((pos >>> 3).toInt) >> (pos & 7).toInt) & 1) == 0)
        return false
      j += 1
    }
    true
  }

  /** Number of `s`'s shingles whose k probe bits are ALL set in `bloom`
    * (probe side; bloom is the serialized little-endian long array the
    * aggregate emits). 0 ⇒ certainly no shingle overlap with the build
    * corpus; > 0 ⇒ candidate, to be verified exactly. */
  def countMatchingShingles(s: UTF8String, bloom: Array[Byte],
      shingleSize: Int, numHashes: Int): Int = {
    val m = bloom.length.toLong * 8
    val shs = TextKernels.shingles(s, shingleSize)
    var matches = 0
    var i = 0
    while (i < shs.numElements()) {
      val (h1, h2) = hashes(shs.getUTF8String(i).getBytes)
      var j = 0
      var all = true
      while (all && j < numHashes) {
        val pos = java.lang.Math.floorMod(h1 + j * h2, m)
        val b = bloom((pos >>> 3).toInt)
        if (((b >> (pos & 7).toInt) & 1) == 0) all = false
        j += 1
      }
      if (all) matches += 1
      i += 1
    }
    matches
  }
}

/** Builds the shingle Bloom filter over a (small) benchmark table as ONE
  * aggregate row of `binary` — no explode: each input row folds all its
  * shingles into the partition-local bitset, partials merge by OR, so the
  * build is a narrow scan plus one tiny all-to-one merge regardless of
  * bench size. State is numBits/8 bytes (default 2^22 bits = 512 KiB —
  * ~10 bits/shingle for a 400k-shingle benchmark at FP ≈ 1%). */
case class BloomShingleAgg(
    child: Expression,
    shingleSize: Int,
    numBits: Int = 1 << 22,
    numHashes: Int = 5,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(numBits >= 64 && numBits % 64 == 0,
    "numBits must be a positive multiple of 64")
  require(numBits <= (1 << 28), "numBits above 2^28 (32 MiB) is past " +
    "broadcast-friendly size — shard the bench or use the hashed tier")
  require(numHashes >= 1 && numHashes <= 16, "numHashes must be in [1, 16]")
  require(shingleSize >= 1, "shingleSize must be >= 1")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "bloom_shingle_agg"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bloom_shingle_agg needs a string column, got ${other.catalogString}")
    }

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](numBits / 64)

  override def update(state: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null)
      BloomKernel.setShingleBits(state, v.asInstanceOf[UTF8String],
        shingleSize, numHashes)
    state
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) |= b(i); i += 1 }
    a
  }

  override def eval(state: Array[Long]): Any = toBytes(state)

  private def toBytes(state: Array[Long]): Array[Byte] = {
    val buf = ByteBuffer.allocate(state.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.asLongBuffer().put(state)
    buf.array()
  }

  override def serialize(state: Array[Long]): Array[Byte] = toBytes(state)

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomShingleAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomShingleAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BloomShingleAgg =
    copy(child = newChildren.head)
}

/** Per-row probe: how many of `text`'s shingles the Bloom filter accepts
  * (0 ⇒ provably clean). Codegen'd narrow map — the corpus-side
  * prefilter runs inside whole-stage codegen against the broadcast
  * filter bytes, no explode, no shuffle. Bit count is implied by the
  * binary's length (the aggregate always emits whole 64-bit words). */
case class BloomCountShingles(
    left: Expression, right: Expression,
    shingleSize: Int, numHashes: Int) extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "bloom_count_shingles"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, BinaryType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bloom_count_shingles needs (string, binary), got " +
            s"(${l.catalogString}, ${r.catalogString})")
    }

  override protected def nullSafeEval(text: Any, bloom: Any): Any =
    BloomKernel.countMatchingShingles(text.asInstanceOf[UTF8String],
      bloom.asInstanceOf[Array[Byte]], shingleSize, numHashes)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, b) =>
      s"graft.functions.BloomKernel.countMatchingShingles(" +
        s"$t, $b, $shingleSize, $numHashes)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomCountShingles =
    copy(left = newLeft, right = newRight)
}

/** Per-group LONG-key Bloom sketch as ONE `binary` aggregate row — the
  * layout manifest's membership column ([[graft.operators.Layout
  * .fileSkippingStats]]): each bucket folds its id values into a
  * partition-local bitset, partials merge by OR, so the build is a
  * narrow scan plus a bucket-count-sized merge. Default 2^13 bits
  * (1 KiB/bucket/column) ≈ 1% FP at ~850 keys/bucket; false positives
  * only cost an extra bucket read — skips stay lossless. */
case class BloomLongAgg(
    child: Expression,
    numBits: Int = 1 << 13,
    numHashes: Int = 5,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(numBits >= 64 && numBits % 64 == 0,
    "numBits must be a positive multiple of 64")
  require(numBits <= (1 << 28), "numBits above 2^28 is past " +
    "manifest-friendly size — shard the column or widen buckets")
  require(numHashes >= 1 && numHashes <= 16, "numHashes must be in [1, 16]")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "bloom_long_agg"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bloom_long_agg needs a bigint column, got ${other.catalogString}")
    }

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](numBits / 64)

  override def update(state: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null)
      BloomKernel.setLongBits(state, v.asInstanceOf[Long], numHashes)
    state
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) |= b(i); i += 1 }
    a
  }

  private def toBytes(state: Array[Long]): Array[Byte] = {
    val buf = ByteBuffer.allocate(state.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.asLongBuffer().put(state)
    buf.array()
  }

  override def eval(state: Array[Long]): Any = toBytes(state)
  override def serialize(state: Array[Long]): Array[Byte] = toBytes(state)

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomLongAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomLongAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BloomLongAgg =
    copy(child = newChildren.head)
}

/** Probe: might the sketch contain this LONG key? Codegen'd narrow map
  * over the manifest frame — false is the PROOF side (key certainly
  * absent from the bucket ⇒ lossless skip). */
case class BloomMightContainLong(
    left: Expression, right: Expression,
    numHashes: Int) extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain_long"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bloom_might_contain_long needs (binary, bigint), got " +
            s"(${l.catalogString}, ${r.catalogString})")
    }

  override protected def nullSafeEval(bloom: Any, v: Any): Any =
    BloomKernel.mightContainLong(bloom.asInstanceOf[Array[Byte]],
      v.asInstanceOf[Long], numHashes)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, v) =>
      s"graft.functions.BloomKernel.mightContainLong($b, $v, $numHashes)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContainLong =
    copy(left = newLeft, right = newRight)
}

