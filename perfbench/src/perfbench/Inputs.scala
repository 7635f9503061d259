package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Every workload's inputs are derived from the
  * seed alone and written under one directory; the program under test
  * only ever sees those files. Alongside the files the generator keeps
  * the facts the output checks need, computed here in plain Scala, apart
  * from the code under test. */
object Inputs {

  /** TPC-H-shaped tables; `scale` 1 is sized like the sf0.01 fixture. */
  final case class TpchSize(scale: Double) {
    val customers: Int = (1500 * scale).toInt
    val orders: Int = (15000 * scale).toInt
    val parts: Int = (2000 * scale).toInt
    val lineItems: Int = (60000 * scale).toInt
  }
  val Nations = 25

  /** Harmonize workload: id pools and per-source row counts. */
  val AccountPool = 12000
  val VendorPool = 1200
  val DeltaRows = 1500

  /** Curation corpus: base documents before copies and injections. */
  val BaseDocs = 1200
  val BenchDocs = 40
  val ContaminationShingle = 8
  val MinWords = 50

  final case class FileStat(name: String, rows: Long, bytes: Long)

  /** Expected build result: node count per label, edge count per type. */
  final case class GraphFacts(nodes: Map[String, Long], rels: Map[String, Long])

  final case class Tpch(spec: String, facts: GraphFacts,
      edges: Array[(Long, Long)], files: Seq[FileStat])

  /** Merged Account values of one id, in source precedence order. */
  final case class Account(name: Option[String], balance: Option[Double],
      vendorRef: Option[Long], tier: Option[String])

  final case class Harmonize(spec: String, deltaPath: String,
      facts: GraphFacts, mergedAfterDelta: Map[Long, Account],
      vendorIds: Set[Long], files: Seq[FileStat]) {
    /** Edges left after the refresh joins merged accounts to vendors. */
    def edgesAfterDelta: Long = mergedAfterDelta.values
      .count(_.vendorRef.exists(vendorIds.contains)).toLong
  }

  final case class Corpus(docsPath: String, benchPath: String,
      docIds: Array[Long], langs: Map[Long, String],
      exactGroups: Seq[Seq[Long]], contaminated: Set[Long], quota: Int,
      files: Seq[FileStat])

  // ---------------------------------------------------------------- files

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum
    else if (f.isFile) f.length else 0L

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  private def writeParquet(spark: SparkSession, rows: Seq[Row],
      schema: StructType, path: String): FileStat = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(path)
    FileStat(new File(path).getName, rows.length.toLong,
      dirBytes(new File(path)))
  }

  private def writeText(path: String, lines: Seq[String],
      rows: Long): FileStat = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    Files.write(f.toPath, lines.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    FileStat(f.getName, rows, f.length)
  }

  private def writeSpec(path: String, text: String): String = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    Files.write(f.toPath, text.getBytes(StandardCharsets.UTF_8))
    f.getAbsolutePath
  }

  private val Day = 86400000L
  private val Epoch1992 = 694224000000L

  // ----------------------------------------------------------------- TPC-H

  /** Customer, order, part, nation and lineitem tables plus the example
    * graph spec pointed at them. About 1% of the foreign keys dangle, so
    * the edge counts differ from the row counts. */
  def tpch(spark: SparkSession, seed: Long, dir: String,
      size: TpchSize): Tpch = {
    import size._
    val rnd = new Random(seed)
    val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY")
    val nations = (0 until Nations).map(k =>
      Row(k, f"NATION_$k%02d", k % 5))
    val custNation = Array.fill(customers)(
      if (rnd.nextInt(100) == 0) 99 else rnd.nextInt(Nations))
    val customerRows = (1 to customers).map { k =>
      Row(k.toLong, f"Customer#$k%09d", custNation(k - 1),
        math.round(rnd.nextDouble() * 1099900 - 99900) / 100.0,
        segments(rnd.nextInt(segments.length)))
    }
    val orderCust = Array.fill(orders)(1L + rnd.nextInt(customers + 15))
    val orderRows = (1 to orders).map { k =>
      Row(k.toLong, orderCust(k - 1), if (rnd.nextBoolean()) "F" else "O",
        math.round(rnd.nextDouble() * 50000000) / 100.0,
        new Timestamp(Epoch1992 + rnd.nextInt(2400) * Day),
        s"${1 + rnd.nextInt(5)}-PRIORITY")
    }
    val partRows = (1 to parts).map { k =>
      Row(k.toLong, s"part ${Words(rnd.nextInt(Words.length))} " +
        Words(rnd.nextInt(Words.length)), s"Brand#${1 + rnd.nextInt(5)}" +
        s"${1 + rnd.nextInt(5)}", s"TYPE ${rnd.nextInt(150)}",
        1 + rnd.nextInt(50), 900 + rnd.nextInt(1100) / 1.0)
    }
    val edges = new Array[(Long, Long)](lineItems)
    val lineRows = (0 until lineItems).map { i =>
      val o = 1L + rnd.nextInt(orders + 150)
      val p = 1L + rnd.nextInt(parts + 20)
      edges(i) = (o, p)
      Row(o, p, 1L + rnd.nextInt(100), 1 + rnd.nextInt(7),
        (1 + rnd.nextInt(50)).toDouble,
        math.round(rnd.nextDouble() * 10000000) / 100.0,
        rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
        if (rnd.nextBoolean()) "R" else "N", if (rnd.nextBoolean()) "F" else "O",
        new Timestamp(Epoch1992 + rnd.nextInt(2500) * Day))
    }
    def st(fields: (String, DataType)*) =
      StructType(fields.map { case (n, t) => StructField(n, t) })
    val files = Seq(
      writeParquet(spark, nations, st("n_nationkey" -> IntegerType,
        "n_name" -> StringType, "n_regionkey" -> IntegerType),
        s"$dir/nation.parquet"),
      writeParquet(spark, customerRows, st("c_custkey" -> LongType,
        "c_name" -> StringType, "c_nationkey" -> IntegerType,
        "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
        s"$dir/customer.parquet"),
      writeParquet(spark, orderRows, st("o_orderkey" -> LongType,
        "o_custkey" -> LongType, "o_orderstatus" -> StringType,
        "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType,
        "o_orderpriority" -> StringType), s"$dir/orders.parquet"),
      writeParquet(spark, partRows, st("p_partkey" -> LongType,
        "p_name" -> StringType, "p_brand" -> StringType,
        "p_type" -> StringType, "p_size" -> IntegerType,
        "p_retailprice" -> DoubleType), s"$dir/part.parquet"),
      writeParquet(spark, lineRows, st("l_orderkey" -> LongType,
        "l_partkey" -> LongType, "l_suppkey" -> LongType,
        "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
        "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType,
        "l_tax" -> DoubleType, "l_returnflag" -> StringType,
        "l_linestatus" -> StringType, "l_shipdate" -> TimestampType),
        s"$dir/lineitem.parquet"))

    // the counts the q_graph_build oracle computes, over the same rows
    val validEdges = edges.filter { case (o, p) => o <= orders && p <= parts }
    val facts = GraphFacts(
      Map("Customer" -> customers.toLong, "Order" -> orders.toLong,
        "Part" -> parts.toLong, "Nation" -> Nations.toLong),
      Map("CUSTOMER_PLACED_ORDER" -> orderCust.count(_ <= customers).toLong,
        "ORDER_CONTAINS_PART" -> validEdges.length.toLong,
        "CUSTOMER_IN_NATION" -> custNation.count(_ < Nations).toLong))
    val spec = writeSpec(s"$dir/tpch_graph.yml",
      s"""Database:
         |  name: TpchGraph
         |  version: "1.0"
         |  author: perfbench
         |Sources:
         |  TPCH:
         |    source type: parquet
         |    path: ${new File(dir).getAbsolutePath}
         |Nodes:
         |  Customer:
         |    id_key_label: customer_id
         |    sources:
         |      TPCH: { table: customer, id_key: c_custkey, uri_key: c_name }
         |  Order:
         |    sources:
         |      TPCH: { table: orders, id_key: o_orderkey }
         |  Part:
         |    sources:
         |      TPCH: { table: part, id_key: p_partkey, uri_key: p_name }
         |  Nation:
         |    sources:
         |      TPCH: { table: nation, id_key: n_nationkey, uri_key: n_name }
         |Relationships:
         |  CUSTOMER_PLACED_ORDER:
         |    sources:
         |      TPCH:
         |        type: foreign_key
         |        start: { node: Customer, table: customer, key: c_custkey }
         |        end: { node: Order, table: orders, key: o_custkey }
         |  ORDER_CONTAINS_PART:
         |    start_node: Order
         |    end_node: Part
         |    sources:
         |      TPCH:
         |        type: join_table
         |        table: lineitem
         |        from_field: l_orderkey
         |        to_field: l_partkey
         |        props: [l_linenumber, l_quantity]
         |  CUSTOMER_IN_NATION:
         |    sources:
         |      TPCH:
         |        type: foreign_key
         |        start: { node: Customer, table: customer, key: c_nationkey }
         |        end: { node: Nation, table: nation, key: n_nationkey }
         |""".stripMargin)
    Tpch(spec, facts, validEdges, files)
  }

  // ------------------------------------------------------------- harmonize

  /** Two labels, each fed by a Parquet, a CSV and a JSON source whose ids
    * overlap. Every source names its id column differently; `balance`
    * and `capacity` are int in Parquet, long in CSV and double in JSON;
    * some columns exist in one source only. Temporal columns live in the
    * Parquet source only (see the workload note in BENCHMARK.json). */
  def harmonize(spark: SparkSession, seed: Long, dir: String): Harmonize = {
    val rnd = new Random(seed ^ 0x5eed)
    def pick(frac: Double): Seq[Long] =
      (1L to AccountPool.toLong).filter(_ => rnd.nextDouble() < frac)
    val pqIds = pick(0.6)
    val csvIds = pick(0.4)
    val jsIds = pick(0.3)
    def name(id: Long) = s"acct ${Words(rnd.nextInt(Words.length))} $id"
    // Parquet: acct_id, name (10% null), balance:int, vendor_ref, region,
    // opened_at (timestamp, Parquet only)
    val pq = pqIds.map { id =>
      (id, if (rnd.nextInt(10) == 0) None else Some(name(id)),
        rnd.nextInt(1000000), 1L + rnd.nextInt(VendorPool + 40),
        Regions(rnd.nextInt(Regions.length)),
        new Timestamp(Epoch1992 + rnd.nextInt(3000) * Day))
    }
    // CSV: account_id, name, balance:long (beyond int range), tier
    val csv = csvIds.map { id =>
      (id, name(id), 3000000000L + rnd.nextInt(1000000),
        if (rnd.nextInt(5) == 0) None else Some(Tiers(rnd.nextInt(3))))
    }
    // JSON: acct, balance:double, score (JSON only), region
    val js = jsIds.map { id =>
      (id, rnd.nextInt(100000) / 4.0, rnd.nextDouble(),
        Regions(rnd.nextInt(Regions.length)))
    }
    val vPq = (1L to VendorPool.toLong).filter(_ => rnd.nextDouble() < 0.7)
      .map(v => (v, s"vendor $v", rnd.nextInt(5000)))
    val vCsv = (1L to VendorPool.toLong).filter(_ => rnd.nextDouble() < 0.5)
      .map(v => (v, s"vendor $v", 5000000000L + rnd.nextInt(5000),
        Regions(rnd.nextInt(Regions.length))))
    val vJs = (1L to VendorPool.toLong).filter(_ => rnd.nextDouble() < 0.4)
      .map(v => (v, rnd.nextInt(5000) / 8.0, s"https://v$v.example/"))
    // delta: existing ids that lack a tier (fills nulls only) plus new ids
    val deltaIds = {
      val existing = pqIds.filterNot(csvIds.toSet).take(DeltaRows / 2)
      existing ++ ((AccountPool + 1).toLong to
        (AccountPool + DeltaRows - existing.length).toLong)
    }
    val delta = deltaIds.map { id =>
      (id, name(id), rnd.nextInt(100000) / 2.0, 1L + rnd.nextInt(VendorPool),
        Tiers(rnd.nextInt(3)))
    }

    val pqDir = s"$dir/pq"
    val ts = StructType(Seq(StructField("acct_id", LongType),
      StructField("name", StringType), StructField("balance", IntegerType),
      StructField("vendor_ref", LongType), StructField("region", StringType),
      StructField("opened_at", TimestampType)))
    val vs = StructType(Seq(StructField("vendor_id", LongType),
      StructField("vname", StringType), StructField("capacity", IntegerType)))
    val files = Seq(
      writeParquet(spark, pq.map(r => Row(r._1, r._2.orNull, r._3, r._4,
        r._5, r._6)), ts, s"$pqDir/accounts.parquet"),
      writeParquet(spark, vPq.map(r => Row(r._1, r._2, r._3)), vs,
        s"$pqDir/vendors.parquet"),
      writeText(s"$dir/csv/accounts.csv",
        "account_id,name,balance,tier" +: csv.map(r =>
          s"${r._1},${r._2},${r._3},${r._4.getOrElse("")}"), csv.length),
      writeText(s"$dir/csv/vendors.csv",
        "vid,vname,capacity,country" +: vCsv.map(r =>
          s"${r._1},${r._2},${r._3},${r._4}"), vCsv.length),
      writeText(s"$dir/json/accounts.json", js.map(r =>
        s"""{"acct":${r._1},"balance":${r._2},"score":${r._3},""" +
          s""""region":"${r._4}"}"""), js.length),
      writeText(s"$dir/json/vendors.json", vJs.map(r =>
        s"""{"v_id":${r._1},"capacity":${r._2},"url":"${r._3}"}"""),
        vJs.length))
    val deltaPath = s"$dir/delta/accounts_delta.parquet"
    val deltaFile = writeParquet(spark,
      delta.map(r => Row(r._1, r._2, r._3, r._4, r._5)),
      StructType(Seq(StructField("account_id", LongType),
        StructField("name", StringType), StructField("balance", DoubleType),
        StructField("vendor_ref", LongType), StructField("tier", StringType))),
      deltaPath)

    // first source wins per property, in config order pq, csv, json
    val merged = mutable.LinkedHashMap[Long, Account]()
    def fold(id: Long, a: Account): Unit = merged(id) = merged.get(id) match {
      case None => a
      case Some(p) => Account(p.name.orElse(a.name),
        p.balance.orElse(a.balance), p.vendorRef.orElse(a.vendorRef),
        p.tier.orElse(a.tier))
    }
    pq.foreach(r => fold(r._1, Account(r._2, Some(r._3.toDouble),
      Some(r._4), None)))
    csv.foreach(r => fold(r._1, Account(Some(r._2), Some(r._3.toDouble),
      None, r._4)))
    js.foreach(r => fold(r._1, Account(None, Some(r._2), None, None)))
    val built = merged.toMap
    delta.foreach(r => fold(r._1, Account(Some(r._2), Some(r._3),
      Some(r._4), Some(r._5))))
    val vendorIds = (vPq.map(_._1) ++ vCsv.map(_._1) ++ vJs.map(_._1)).toSet
    val pqVendors = vPq.map(_._1).toSet
    val facts = GraphFacts(
      Map("Account" -> built.size.toLong, "Vendor" -> vendorIds.size.toLong),
      Map("ACCOUNT_USES_VENDOR" -> pq.count(r => pqVendors(r._4)).toLong))
    val abs = new File(dir).getAbsolutePath
    val spec = writeSpec(s"$dir/harmonize_graph.yml",
      s"""Database:
         |  name: HarmonizeGraph
         |  version: "1.0"
         |Sources:
         |  PQ:
         |    source type: parquet
         |    path: $abs/pq
         |  CSV:
         |    source type: csv
         |    path: $abs/csv
         |  JS:
         |    source type: json
         |    path: $abs/json
         |Nodes:
         |  Account:
         |    id_key_label: account_id
         |    sources:
         |      PQ: { table: accounts, id_key: acct_id }
         |      CSV: { table: accounts, id_key: account_id }
         |      JS: { table: accounts, id_key: acct }
         |  Vendor:
         |    id_key_label: vendor_id
         |    sources:
         |      PQ: { table: vendors, id_key: vendor_id }
         |      CSV: { table: vendors, id_key: vid }
         |      JS: { table: vendors, id_key: v_id }
         |Relationships:
         |  ACCOUNT_USES_VENDOR:
         |    sources:
         |      PQ:
         |        type: foreign_key
         |        start: { node: Account, table: accounts, key: vendor_ref }
         |        end: { node: Vendor, table: vendors, key: vendor_id }
         |""".stripMargin)
    Harmonize(spec, deltaPath, facts, merged.toMap, vendorIds,
      files :+ deltaFile)
  }

  // ---------------------------------------------------------------- corpus

  /** Base documents plus exact copies, near-duplicate copies (two tokens
    * swapped out) and eval-overlap injections (a 12-token passage of a
    * benchmark document spliced in), so the corpus holds a known share of
    * duplicates and contaminated documents. A quarter of the base
    * documents are shorter than the quality floor. */
  def corpus(spark: SparkSession, seed: Long, dir: String): Corpus = {
    val rnd = new Random(seed ^ 0xc0ffee)
    def text(n: Int): Array[String] = Array.fill(n)(
      if (rnd.nextInt(4) == 0) Stop(rnd.nextInt(Stop.length))
      else Words(rnd.nextInt(Words.length)))
    val langs = Array("en", "en", "en", "en", "en", "de", "de", "fr", "es")
    val bench = (0 until BenchDocs).map(i => (i.toLong, text(40 + rnd.nextInt(30))))
    val docs = mutable.ArrayBuffer[(Long, String, String)]()
    val exactGroups = mutable.ArrayBuffer[Seq[Long]]()
    val contaminated = mutable.Set[Long]()
    var next = 0L
    def add(t: String, lang: String): Long = {
      val id = next; next += 1; docs += ((id, t, lang)); id
    }
    for (_ <- 0 until BaseDocs) {
      val words = text(if (rnd.nextInt(4) == 0) 20 + rnd.nextInt(29)
        else MinWords + rnd.nextInt(110))
      val lang = langs(rnd.nextInt(langs.length))
      val id = add(words.mkString(" "), lang)
      rnd.nextInt(10) match {
        case 0 | 1 => // exact copies
          val copies = (1 to 1 + rnd.nextInt(2)).map(_ =>
            add(words.mkString(" "), lang))
          exactGroups += (id +: copies)
        case 2 | 3 => // near-duplicate copy
          val w = words.clone()
          for (_ <- 0 until 2) w(rnd.nextInt(w.length)) =
            Words(rnd.nextInt(Words.length))
          add(w.mkString(" "), lang)
        case 4 => // eval-overlap injection
          val (_, b) = bench(rnd.nextInt(bench.length))
          val at = rnd.nextInt(b.length - 12)
          val (head, tail) = words.splitAt(words.length / 2)
          contaminated += add((head ++ b.slice(at, at + 12) ++ tail)
            .mkString(" "), lang)
        case _ =>
      }
    }
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    val files = Seq(
      writeParquet(spark, docs.toSeq.map { case (id, t, l) =>
        Row(id, t, l, s"src${id % 7}", t.length.toLong) }, schema,
        s"$dir/documents.parquet"),
      writeParquet(spark, bench.map { case (id, w) =>
        val t = w.mkString(" ")
        Row(id, t, "en", "eval", t.length.toLong) }, schema,
        s"$dir/bench.parquet"))
    val langOf = docs.map(d => d._1 -> d._3).toMap
    // the quota binds on the largest language group only
    val quota = (langOf.values.count(_ == "en") * 0.35).toInt
    Corpus(s"$dir/documents.parquet", s"$dir/bench.parquet",
      docs.map(_._1).toArray, langOf, exactGroups.toSeq, contaminated.toSet,
      quota, files)
  }

  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDEAST")
  private val Tiers = Array("gold", "silver", "bronze")
  private val Stop = Array("the", "a", "of", "and", "to", "in", "is", "for",
    "on", "with", "that", "by")

  /** A fixed vocabulary of 3–9 letter pseudo-words. */
  private val Words: Array[String] = {
    val r = new Random(7L)
    val cons = "bcdfghklmnprstvz"
    val vow = "aeiou"
    Array.fill(600) {
      val n = 3 + r.nextInt(7)
      (0 until n).map(i =>
        if (i % 2 == 0) cons(r.nextInt(cons.length))
        else vow(r.nextInt(vow.length))).mkString
    }.distinct
  }
}
