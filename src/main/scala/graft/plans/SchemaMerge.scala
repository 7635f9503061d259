package graft.plans

import org.apache.spark.sql.types._

/** Schema harmonization across the sources feeding one node/edge type.
  *
  * Semantics from the reference's `merge_fields`
  * (graph_db_builder.py:410-426): union of field names across all source
  * schemas, first-seen order preserved. The reference hard-asserts dtype
  * equality for same-named fields (`:422`, Quirk Q6 in SURVEY.md §7); we
  * instead widen along a numeric/temporal lattice and fail only on truly
  * incompatible kinds (e.g. string vs numeric) with a clear error.
  *
  * Pure driver-side metadata work — aggregates `StructType`s, never data,
  * so it costs nothing at 100 TB.
  */
object SchemaMerge {

  private val intLadder: Seq[DataType] =
    Seq(ByteType, ShortType, IntegerType, LongType)
  private def isIntegral(t: DataType): Boolean = intLadder.contains(t)
  private def isFractional(t: DataType): Boolean =
    t == FloatType || t == DoubleType || t.isInstanceOf[DecimalType]

  /** Widen two types to their least common supertype, or throw. */
  def widen(a: DataType, b: DataType): DataType = (a, b) match {
    case (x, y) if x == y => x
    // integral ladder
    case (x, y) if isIntegral(x) && isIntegral(y) =>
      intLadder(math.max(intLadder.indexOf(x), intLadder.indexOf(y)))
    // fractional ladder; integral + fractional → double (lossless for
    // int32 and below; documented choice for long)
    // standard union rule: keep the larger integer-digit capacity AND the
    // larger scale (naive max(p)/max(s) can shrink integer digits:
    // DECIMAL(10,2) vs DECIMAL(5,4) needs 8 int digits + scale 4 = (12,4),
    // not (10,4) which holds only 6). Past MAX_PRECISION, sacrifice scale
    // (down to a floor of 6) to preserve integer digits, as Spark does.
    case (d: DecimalType, e: DecimalType) =>
      val intDigits = math.max(d.precision - d.scale, e.precision - e.scale)
      val scale = math.max(d.scale, e.scale)
      if (intDigits + scale <= DecimalType.MAX_PRECISION)
        DecimalType(intDigits + scale, scale)
      else {
        val adjScale = math.max(DecimalType.MAX_PRECISION - intDigits,
          math.min(scale, 6))
        DecimalType(DecimalType.MAX_PRECISION, adjScale)
      }
    case (x, y) if isFractional(x) && isFractional(y) =>
      if (x == DoubleType || y == DoubleType ||
        x.isInstanceOf[DecimalType] || y.isInstanceOf[DecimalType]) DoubleType
      else FloatType
    case (x, f) if isIntegral(x) && isFractional(f) => widen(DoubleType, f)
    case (f, x) if isFractional(f) && isIntegral(x) => widen(f, DoubleType)
    // temporal, as Spark's own type coercion widens: a zoneless
    // timestamp (TIMESTAMP_NTZ — e.g. a Parquet timestamp written
    // without UTC adjustment) meeting a session-zone one (a CSV-inferred
    // timestamp) widens to the session-zone type; a date meeting either
    // widens to that timestamp type
    case (DateType, TimestampType) | (TimestampType, DateType) => TimestampType
    case (TimestampNTZType, TimestampType) |
        (TimestampType, TimestampNTZType) => TimestampType
    case (DateType, TimestampNTZType) | (TimestampNTZType, DateType) =>
      TimestampNTZType
    // null column (all-missing source) adopts the other side's type
    case (NullType, o) => o
    case (o, NullType) => o
    // arrays widen element-wise
    case (ArrayType(ea, na), ArrayType(eb, nb)) =>
      ArrayType(widen(ea, eb), na || nb)
    case _ =>
      throw new IllegalArgumentException(
        s"incompatible types for same-named field: $a vs $b " +
          "(string/binary/struct kinds do not merge with numeric kinds)")
  }

  /** Merge source schemas into the unified target schema: union of names in
    * first-seen order, types widened, nullable if nullable anywhere OR
    * missing from any source (missing fields are null-filled downstream —
    * reference contract graph_db_builder.py:474-479). */
  def mergeFields(schemas: Seq[StructType]): StructType = {
    require(schemas.nonEmpty, "mergeFields needs at least one schema")
    val order = scala.collection.mutable.LinkedHashMap[String, StructField]()
    for (s <- schemas; f <- s.fields) {
      order.get(f.name) match {
        case None => order(f.name) = f
        case Some(prev) =>
          order(f.name) = StructField(f.name, widen(prev.dataType, f.dataType),
            prev.nullable || f.nullable)
      }
    }
    val present = schemas.map(_.fieldNames.toSet)
    StructType(order.values.map { f =>
      val everywhere = present.forall(_.contains(f.name))
      if (everywhere) f else f.copy(nullable = true)
    }.toArray)
  }
}
