package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.SchemaMerge

/** A1 schema-merge lattice: the reference hard-asserted dtype equality
  * (graph_db_builder.py:422); we widen (SURVEY.md Quirk Q6). */
class SchemaMergeSpec extends AnyFunSuite {

  test("widen: integral ladder") {
    assert(SchemaMerge.widen(ByteType, LongType) == LongType)
    assert(SchemaMerge.widen(ShortType, IntegerType) == IntegerType)
  }

  test("widen: integral + fractional -> double") {
    assert(SchemaMerge.widen(IntegerType, FloatType) == DoubleType)
    assert(SchemaMerge.widen(DoubleType, LongType) == DoubleType)
  }

  test("widen: decimal keeps integer-digit capacity AND scale") {
    assert(SchemaMerge.widen(DecimalType(10, 2), DecimalType(12, 0)) ==
      DecimalType(14, 2)) // 12 int digits + scale 2
    // the naive max(p),max(s) rule would give (10,4) = only 6 int digits —
    // DECIMAL(10,2) values with 7-8 int digits would overflow on cast
    assert(SchemaMerge.widen(DecimalType(10, 2), DecimalType(5, 4)) ==
      DecimalType(12, 4))
    // past MAX_PRECISION: integer digits win, scale gives way (floor 6)
    assert(SchemaMerge.widen(DecimalType(38, 2), DecimalType(20, 18)) ==
      DecimalType(38, 6))
    assert(SchemaMerge.widen(DecimalType(30, 10), DecimalType(25, 20)) ==
      DecimalType(38, 18))
  }

  test("widen: temporal and null") {
    assert(SchemaMerge.widen(DateType, TimestampType) == TimestampType)
    assert(SchemaMerge.widen(NullType, StringType) == StringType)
  }

  private val temporals: Seq[DataType] =
    Seq(DateType, TimestampType, TimestampNTZType)

  test("widen: TIMESTAMP_NTZ follows Spark's coercion") {
    assert(SchemaMerge.widen(TimestampNTZType, TimestampType) ==
      TimestampType)
    assert(SchemaMerge.widen(DateType, TimestampNTZType) == TimestampNTZType)
    intercept[IllegalArgumentException](
      SchemaMerge.widen(TimestampNTZType, LongType))
    // the same answers Spark's own union coercion gives
    for (a <- temporals; b <- temporals)
      assert(SchemaMerge.widen(a, b) == org.apache.spark.sql.catalyst
        .analysis.TypeCoercion.findWiderTypeForTwo(a, b).get, s"$a, $b")
  }

  test("widen: incompatible kinds fail with a clear error") {
    val e = intercept[IllegalArgumentException](
      SchemaMerge.widen(StringType, IntegerType))
    assert(e.getMessage.contains("incompatible"))
  }

  test("mergeFields: union of names, first-seen order, missing -> nullable") {
    val a = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("x", StringType, nullable = false)))
    val b = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("y", DoubleType, nullable = false)))
    val m = SchemaMerge.mergeFields(Seq(a, b))
    assert(m.fieldNames.toSeq == Seq("id", "x", "y"))
    assert(m("id").dataType == LongType)
    assert(!m("id").nullable)          // present in all sources
    assert(m("x").nullable && m("y").nullable) // missing somewhere
  }

  private val numerics: Seq[DataType] =
    Seq(ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)

  test("property (exhaustive): widen is commutative, associative, idempotent") {
    for (kinds <- Seq(numerics, temporals); a <- kinds; b <- kinds) {
      assert(SchemaMerge.widen(a, b) == SchemaMerge.widen(b, a))
      assert(SchemaMerge.widen(a, a) == a)
      for (c <- kinds)
        assert(SchemaMerge.widen(SchemaMerge.widen(a, b), c) ==
          SchemaMerge.widen(a, SchemaMerge.widen(b, c)))
    }
  }

  test("property: mergeFields is order-insensitive up to column order") {
    val a = StructType(Seq(StructField("id", IntegerType),
      StructField("x", FloatType)))
    val b = StructType(Seq(StructField("id", LongType),
      StructField("y", StringType)))
    val c = StructType(Seq(StructField("x", DoubleType)))
    val m1 = SchemaMerge.mergeFields(Seq(a, b, c))
    val m2 = SchemaMerge.mergeFields(Seq(c, b, a))
    assert(m1.fields.map(f => (f.name, f.dataType)).toSet ==
      m2.fields.map(f => (f.name, f.dataType)).toSet)
  }
}
