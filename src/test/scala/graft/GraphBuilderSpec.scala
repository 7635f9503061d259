package graft

import java.nio.file.Files

import org.apache.spark.sql.Row

import graft.config._
import graft.operators.GraphBuilder

/** End-to-end config-compiled build over the sf0.001 fixtures + sinks
  * (SURVEY.md §5 item 4). */
class GraphBuilderSpec extends SparkSpec {

  private lazy val cfg = GraphConfig.fromYaml(SparkEntry.fixtureYaml(sf()))

  test("config parse: database, sources, nodes, relationships") {
    assert(cfg.database.name == "TpchGraph")
    assert(cfg.sources("TPCH").sourceType == "parquet")
    assert(cfg.nodes.map(_.label).toSet ==
      Set("Customer", "Order", "Part", "Nation"))
    val rels = cfg.relationships.map(r => r.label -> r).toMap
    assert(rels("CUSTOMER_PLACED_ORDER").sources.head.mode
      .isInstanceOf[ForeignKeyMode])
    assert(rels("ORDER_CONTAINS_PART").sources.head.mode
      .isInstanceOf[JoinTableMode])
    assert(rels("ORDER_CONTAINS_PART").startNode.contains("Order"))
  }

  test("reference-grammar config (mysql-style) also parses") {
    val yaml =
      """Database:
        |  name: ComptoxLike
        |  version: 0.2a
        |Sources:
        |  DB:
        |    source type: mysql
        |    database name: somedb
        |Nodes:
        |  Gene:
        |    id_key_label: entrez_gene_id
        |    sources:
        |      DB: { table: gene_info, id_key: entrez, uri_key: HUGO_id }
        |Relationships:
        |  AOP_INCLUDES_GENE:
        |    sources:
        |      DB:
        |        type: join_table
        |        table: aop_gene
        |        from_field: AOP_id
        |        to_field: entrez
        |""".stripMargin
    val c = GraphConfig.fromYaml(yaml)
    assert(c.database.version == "0.2a")
    assert(c.nodes.head.idKeyLabel.contains("entrez_gene_id"))
    assert(c.relationships.head.sources.head.mode ==
      JoinTableMode("aop_gene", "AOP_id", "entrez"))
  }

  test("build: node and edge counts match the fixtures") {
    val g = GraphBuilder.build(spark, cfg)
    assert(g.nodes("Customer").count() == 150)
    assert(g.nodes("Order").count() == 1500)
    assert(g.relationships("CUSTOMER_PLACED_ORDER").count() == 1500)
    assert(g.relationships("ORDER_CONTAINS_PART").count() == 6000)
    assert(g.relationships("CUSTOMER_IN_NATION").count() == 150)
    // edges expose the canonical start_id/end_id contract
    assert(g.relationships("CUSTOMER_PLACED_ORDER").columns.toSeq ==
      Seq("start_id", "end_id"))
  }

  test("fk edges resolve start_id to the start node's id, not the join key") {
    val g = GraphBuilder.build(spark, cfg)
    // CUSTOMER_IN_NATION joins on c_nationkey (0-24) but Customer's id is
    // c_custkey (0-149): start_id must span the full custkey range — the
    // raw-join-key bug would silently alias nation keys onto customer ids.
    val ids = g.relationships("CUSTOMER_IN_NATION")
      .agg(org.apache.spark.sql.functions.countDistinct("start_id"),
        org.apache.spark.sql.functions.max("start_id")).head()
    assert(ids.getLong(0) == 150)
    assert(ids.getLong(1) == 149L)
  }

  test("multi-source precedence follows config order, not alphabetical") {
    val tmp = Files.createTempDirectory("graft-order").toString
    import spark.implicits._
    // source named 'zzz' comes FIRST in config → its props must win
    Seq((1L, "from_zzz")).toDF("id", "val").write.parquet(s"$tmp/t_z.parquet")
    Seq((1L, "from_aaa")).toDF("id", "val").write.parquet(s"$tmp/t_a.parquet")
    val yaml =
      s"""Database: { name: Order, version: "1" }
         |Sources:
         |  zzz: { source type: parquet, path: $tmp }
         |  aaa: { source type: parquet, path: $tmp }
         |Nodes:
         |  N:
         |    sources:
         |      zzz: { table: t_z, id_key: id }
         |      aaa: { table: t_a, id_key: id }
         |""".stripMargin
    val g = GraphBuilder.build(spark, GraphConfig.fromYaml(yaml))
    assert(g.nodes("N").head().getString(1) == "from_zzz")
  }

  test("an NTZ Parquet timestamp merges with a CSV-inferred timestamp") {
    val tmp = Files.createTempDirectory("graft-ntz").toString
    import spark.implicits._
    // java.time.LocalDateTime encodes as TIMESTAMP_NTZ
    Seq((1L, java.time.LocalDateTime.parse("2024-01-02T03:04:05")))
      .toDF("id", "seen_at").write.parquet(s"$tmp/t_p.parquet")
    Seq((2L, "2024-05-06 07:08:09")).toDF("id", "seen_at")
      .write.option("header", "true").csv(s"$tmp/t_c.csv")
    val yaml =
      s"""Database: { name: Ntz, version: "1" }
         |Sources:
         |  P: { source type: parquet, path: $tmp }
         |  C: { source type: csv, path: $tmp }
         |Nodes:
         |  N:
         |    sources:
         |      P: { table: t_p, id_key: id }
         |      C: { table: t_c, id_key: id }
         |""".stripMargin
    val n = GraphBuilder.build(spark, GraphConfig.fromYaml(yaml)).nodes("N")
    assert(n.schema("seen_at").dataType ==
      org.apache.spark.sql.types.TimestampType)
    // the session zone is UTC, so the zoneless value keeps its wall clock
    assert(n.orderBy("id").select("seen_at").as[java.sql.Timestamp]
      .collect().map(_.toInstant.toString).toSeq ==
      Seq("2024-01-02T03:04:05Z", "2024-05-06T07:08:09Z"))
  }

  test("staging + Neo4j CSV export write expected layouts") {
    val tmp = Files.createTempDirectory("graft-sink").toString
    val g = GraphBuilder.build(spark, cfg)
    val small = g.copy(
      nodes = g.nodes.view.filterKeys(_ == "Nation").toMap,
      relationships = Map.empty)
    small.writeStaging(tmp)
    val staged = spark.read.parquet(s"$tmp/TpchGraph-0.1/nodes/Nation")
    assert(staged.count() == 25)

    small.exportNeo4jCsv(tmp, Map("Nation" -> "n_nationkey"))
    val csvDir = new java.io.File(s"$tmp/TpchGraph-0.1-csv/nodes_Nation")
    val part = csvDir.listFiles().filter(_.getName.endsWith(".csv")).head
    val header = scala.io.Source.fromFile(part).getLines().next()
    assert(header.contains("n_nationkey:ID(Nation)"))
    assert(header.contains(":LABEL"))
  }

  /** A `_uri` label, an array property and an FK relationship table. */
  private def stagedFixture() = GraphBuilder.build(spark, GraphConfig.fromYaml(
    s"""Database: { name: Staged, version: "1" }
       |Sources:
       |  P: { source type: parquet, path: ${sf()} }
       |Nodes:
       |  Customer:
       |    sources:
       |      P: { table: customer, id_key: c_custkey, uri_key: c_name }
       |  Nation:
       |    sources:
       |      P: { table: nation, id_key: n_nationkey }
       |  Vector:
       |    sources:
       |      P: { table: embeddings, id_key: vec_id }
       |Relationships:
       |  CUSTOMER_IN_NATION:
       |    sources:
       |      P:
       |        type: foreign_key
       |        start: { node: Customer, table: customer, key: c_nationkey }
       |        end: { node: Nation, table: nation, key: n_nationkey }
       |""".stripMargin))

  /** Per CSV table dir: the distinct header lines and the sorted data
    * lines of its part files. */
  private def csvTables(root: String): Map[String, (Set[String], Seq[String])] =
    new java.io.File(root).listFiles().filter(_.isDirectory).map { dir =>
      val parts = dir.listFiles().filter(_.getName.endsWith(".csv")).map { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().toList finally src.close()
      }.filter(_.nonEmpty)
      dir.getName -> ((parts.map(_.head).toSet, parts.flatMap(_.tail).sorted.toSeq))
    }.toMap

  test("a staged graph exports the same Neo4j CSV as an unstaged one") {
    val a = Files.createTempDirectory("graft-staged-a").toString
    val b = Files.createTempDirectory("graft-staged-b").toString
    val g = stagedFixture()
    g.writeStaging(a)
    g.exportNeo4jCsv(a, Map.empty)
    g.copy().exportNeo4jCsv(b, Map.empty)
    val staged = csvTables(s"$a/Staged-1-csv")
    val unstaged = csvTables(s"$b/Staged-1-csv")
    assert(staged.keySet == Set("nodes_Customer", "nodes_Nation",
      "nodes_Vector", "rels_CUSTOMER_IN_NATION"))
    assert(staged == unstaged)
    assert(staged("nodes_Customer")._1.head.contains("uri:ID(Customer)"))
    assert(staged("nodes_Vector")._1.head.contains("embedding:float[]"))
    assert(staged("rels_CUSTOMER_IN_NATION")._2.size == 150)
  }

  test("staged stats equal the aggregate stats, empty table included") {
    val tmp = Files.createTempDirectory("graft-staged-stats").toString
    val g0 = stagedFixture()
    val g = g0.copy(nodes = g0.nodes +
      ("Empty" -> spark.range(0).toDF("id")))
    val unstaged = g.copy().stats(spark)
    g.writeStaging(tmp)
    val staged = g.stats(spark)
    assert(staged.schema == unstaged.schema)
    val rows = staged.collect().toSeq
    assert(rows == unstaged.collect().toSeq)
    assert(rows.exists(r => r.getString(1) == "Empty" && r.getLong(2) == 0L))
  }

  test("after writeStaging, stats runs no job and the export no shuffle") {
    import org.apache.spark.sql.graft.SqlExecutions
    val a = Files.createTempDirectory("graft-staged-plans-a").toString
    val b = Files.createTempDirectory("graft-staged-plans-b").toString
    val g = stagedFixture()
    // the unstaged export re-runs the build's merge shuffle
    val (unstagedPlans, _, _) = SqlExecutions.plansDuring(spark)(
      g.copy().exportNeo4jCsv(b, Map.empty))
    assert(unstagedPlans.exists(_.contains("Exchange")))
    g.writeStaging(a)
    val (statsExecs, statsJobs, rows) =
      SqlExecutions.plansDuring(spark)(g.stats(spark).collect())
    assert(statsJobs == 0 && rows.length == 4)
    assert(statsExecs.forall(p => !p.contains("Scan parquet") &&
      !p.contains("Exchange")), statsExecs.mkString("\n"))
    val (built, _) = SqlExecutions.during(spark)(g.stats(spark))
    assert(built.isEmpty)
    val (plans, _, _) = SqlExecutions.plansDuring(spark)(
      g.exportNeo4jCsv(a, Map.empty))
    assert(plans.size == 4)
    assert(plans.forall(!_.contains("Exchange")), plans.mkString("\n"))
  }

  test("Neo4j CSV export round-trips RFC-4180 pathological values") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-rfc").toString
    // embedded quote, newline, comma, and a `;`-bearing array element — the
    // exact cells that break a writer whose escape char is not the quote
    val nasty = Seq(
      (1L, "he said \"hi\"", Seq("a;b", "c,d")),
      (2L, "line one\nline two", Seq("plain")),
      (3L, "commas, everywhere,", Seq.empty[String]))
      .toDF("id", "txt", "tags")
    val g = operators.PropertyGraph(
      DatabaseMeta("Rfc", "1", None, None, None),
      nodes = Map("N" -> nasty), relationships = Map.empty)
    g.exportNeo4jCsv(tmp, Map("N" -> "id"))
    // re-read with an RFC-4180 parser (escape = quote, multiline cells)
    val back = spark.read
      .option("header", "true").option("escape", "\"")
      .option("multiLine", "true").option("inferSchema", "true")
      .csv(s"$tmp/Rfc-1-csv/nodes_N")
    val byId = back.collect().map(r => r.getInt(0).toLong -> r).toMap
    assert(byId(1L).getString(1) == "he said \"hi\"")
    assert(byId(2L).getString(1) == "line one\nline two")
    assert(byId(3L).getString(1) == "commas, everywhere,")
    // array props export `;`-joined under a name:type[] header
    assert(back.columns.contains("tags:string[]"))
    assert(byId(1L).getAs[String]("tags:string[]") == "a;b;c,d")
  }

  test("join_table props flow from config YAML onto edges") {
    val yaml =
      s"""Database: { name: EdgeProps, version: "1" }
         |Sources:
         |  P: { source type: parquet, path: ${sf()} }
         |Nodes:
         |  Order:
         |    sources:
         |      P: { table: orders, id_key: o_orderkey }
         |  Part:
         |    sources:
         |      P: { table: part, id_key: p_partkey }
         |Relationships:
         |  ORDER_CONTAINS_PART:
         |    start_node: Order
         |    end_node: Part
         |    sources:
         |      P:
         |        type: join_table
         |        table: lineitem
         |        from_field: l_orderkey
         |        to_field: l_partkey
         |        props: [l_linenumber, l_quantity]
         |""".stripMargin
    val cfg2 = GraphConfig.fromYaml(yaml)
    assert(cfg2.relationships.head.sources.head.mode
      .asInstanceOf[JoinTableMode].props == Seq("l_linenumber", "l_quantity"))
    val g = GraphBuilder.build(spark, cfg2)
    val edges = g.relationships("ORDER_CONTAINS_PART")
    assert(edges.columns.toSeq ==
      Seq("start_id", "end_id", "l_linenumber", "l_quantity"))
    assert(edges.count() == 6000)
  }

  test("fk id-key resolution failure names label/table/column, not an " +
      "AnalysisException") {
    // Node declared over a DIFFERENT table than the FK side references →
    // fallback id key (o_orderkey) is absent from the customer table
    val yaml =
      s"""Database: { name: BadFk, version: "1" }
         |Sources:
         |  P: { source type: parquet, path: ${sf()} }
         |Nodes:
         |  Order:
         |    sources:
         |      P: { table: orders, id_key: o_orderkey }
         |  Nation:
         |    sources:
         |      P: { table: nation, id_key: n_nationkey }
         |Relationships:
         |  BROKEN:
         |    sources:
         |      P:
         |        type: foreign_key
         |        start: { node: Order, table: customer, key: c_nationkey }
         |        end: { node: Nation, table: nation, key: n_nationkey }
         |""".stripMargin
    val e = intercept[IllegalArgumentException](
      GraphBuilder.build(spark, GraphConfig.fromYaml(yaml)))
    assert(e.getMessage.contains("BROKEN"))
    assert(e.getMessage.contains("o_orderkey"))
    assert(e.getMessage.contains("customer"))
  }

  test("validation: dangling source/node references fail fast with all errors") {
    val yaml =
      """Database: { name: Bad, version: "1" }
        |Sources:
        |  P: { source type: parquet, path: /tmp }
        |Nodes:
        |  A:
        |    sources:
        |      MISSING: { table: t, id_key: k }
        |Relationships:
        |  R:
        |    sources:
        |      P:
        |        type: foreign_key
        |        start: { node: A, table: t, key: k }
        |        end: { node: NOPE, table: u, key: k }
        |""".stripMargin
    val e = intercept[IllegalArgumentException](
      GraphConfig.fromYaml(yaml).validated)
    assert(e.getMessage.contains("unknown source 'MISSING'"))
    assert(e.getMessage.contains("unknown node 'NOPE'"))
  }

  test("id_key_label renames the canonical id; uri_key surfaces as _uri") {
    val yaml =
      s"""Database: { name: IdLabel, version: "1" }
         |Sources:
         |  P: { source type: parquet, path: ${sf()} }
         |Nodes:
         |  Customer:
         |    id_key_label: customer_id
         |    sources:
         |      P: { table: customer, id_key: c_custkey, uri_key: c_name }
         |""".stripMargin
    val g = GraphBuilder.build(spark, GraphConfig.fromYaml(yaml))
    val cust = g.nodes("Customer")
    assert(cust.columns.contains("customer_id"))
    assert(!cust.columns.contains("c_custkey"))
    assert(cust.columns.contains("_uri"))
    assert(cust.count() == 150)
    val r = cust.orderBy("customer_id").select("customer_id", "_uri").head()
    assert(r.getLong(0) == 0L) // synthetic custkeys are 0-based
    assert(r.getString(1).nonEmpty) // uri carries c_name
  }

  test("nested array columns (embeddings) survive the node pipeline (X5)") {
    val yaml =
      s"""Database: { name: VecGraph, version: "1" }
         |Sources:
         |  P: { source type: parquet, path: ${sf()} }
         |Nodes:
         |  Vector:
         |    sources:
         |      P: { table: embeddings, id_key: vec_id }
         |""".stripMargin
    val g = GraphBuilder.build(spark, GraphConfig.fromYaml(yaml))
    val vec = g.nodes("Vector")
    assert(vec.schema("embedding").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = true))
    assert(vec.count() == 500)
    // values intact after union+merge: spot-check one vector round-trips
    val orig = spark.read.parquet(sf() + "/embeddings.parquet")
      .filter(org.apache.spark.sql.functions.col("vec_id") === 7)
      .select("embedding").head().getSeq[Float](0)
    val merged = vec
      .filter(org.apache.spark.sql.functions.col("vec_id") === 7)
      .select("embedding").head().getSeq[Float](0)
    assert(orig == merged)
  }

  test("a self-referential FK reads its table once and yields the edges " +
      "two separate reads of it give") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-selffk").toString
    val staff = Seq((1L, None, "ada", "ceo"), (2L, Some(1L), "bob", "cto"),
      (3L, Some(1L), "cy", "cfo"), (4L, Some(2L), "di", "dev"),
      (5L, Some(9L), "ed", "dev"))
    staff.toDF("id", "manager_id", "name", "title")
      .write.parquet(s"$tmp/employee.parquet")
    val yaml =
      s"""Database: { name: SelfFk, version: "1" }
         |Sources:
         |  P: { source type: parquet, path: $tmp }
         |Nodes:
         |  Employee:
         |    sources:
         |      P: { table: employee, id_key: id }
         |Relationships:
         |  REPORTS_TO:
         |    sources:
         |      P:
         |        type: foreign_key
         |        start:
         |          { node: Employee, table: employee, key: manager_id,
         |            props: [name] }
         |        end: { node: Employee, table: employee, key: id,
         |               props: [title] }
         |""".stripMargin
    val (_, jobs, g) = org.apache.spark.sql.graft.SqlExecutions.plansDuring(
      spark)(GraphBuilder.build(spark, GraphConfig.fromYaml(yaml)))
    assert(jobs == 1, "one footer-inference job for the one table")
    val edges = g.relationships("REPORTS_TO")
    assert(edges.columns.toSeq == Seq("start_id", "end_id", "name", "title"))
    val got = edges.collect().map(_.toString).toSet
    val title = staff.map(e => e._1 -> e._4).toMap
    val want = staff.collect { case (id, Some(m), name, _)
      if title.contains(m) => Row(id, m, name, title(m)).toString }.toSet
    assert(got == want && got.size == 3)
    // the parent's shape: the FK's start and end sides as separate reads
    def read() = spark.read.parquet(s"$tmp/employee.parquet")
    assert(operators.RelPipeline.foreignKeyEdges(
      read().select("manager_id", "id", "name"), "manager_id", "id", read(),
      "id", "id", startProps = Seq("name"), endProps = Seq("title"))
      .collect().map(_.toString).toSet == got)
    assert(g.nodes("Employee").count() == 5)
  }

  test("a spec naming a missing source table fails build with an " +
      "AnalysisException") {
    val yaml =
      s"""Database: { name: Missing, version: "1" }
         |Sources:
         |  P: { source type: parquet, path: ${sf()} }
         |Nodes:
         |  Nation:
         |    sources:
         |      P: { table: nation, id_key: n_nationkey }
         |  Ghost:
         |    sources:
         |      P: { table: no_such_table, id_key: g_id }
         |""".stripMargin
    val e = intercept[org.apache.spark.sql.AnalysisException](
      GraphBuilder.build(spark, GraphConfig.fromYaml(yaml)))
    assert(e.getMessage.contains("no_such_table"), e.getMessage)
  }

  test("build, writeStaging and exportNeo4jCsv run every job under the " +
      "caller's job group") {
    import org.apache.spark.sql.graft.SqlExecutions
    val tmp = Files.createTempDirectory("graft-jobgroup").toString
    val sc = spark.sparkContext
    assert(spark.streams.active.isEmpty, "no other query may run jobs")
    sc.setJobGroup("graft-build-group", "build under a group")
    val (groups, _) = try SqlExecutions.jobGroupsDuring(spark) {
      val g = stagedFixture()
      g.writeStaging(tmp)
      g.exportNeo4jCsv(tmp, Map.empty)
    } finally sc.clearJobGroup()
    // 3 footer inferences, 4 staging writes, 4 CSV writes at least
    assert(groups.size >= 11, groups)
    assert(groups.forall(_ == "graft-build-group"), groups)
  }

  test("build runs one inference job per distinct table when an FK reads " +
      "its nodes' Parquet tables") {
    import org.apache.spark.sql.graft.SqlExecutions
    // customer and nation are read by both their node and the FK; with
    // embeddings that is three distinct tables
    val (_, jobs, g) = SqlExecutions.plansDuring(spark)(stagedFixture())
    assert(jobs == 3)
    assert(g.relationships("CUSTOMER_IN_NATION").count() == 150)
  }

  test("Concurrently.map keeps input order and rethrows the first failure " +
      "as itself after every call finished") {
    import operators.Concurrently
    assert(Concurrently.map(Seq(3, 1, 2)) { i =>
      Thread.sleep(10L * i); i * 10 } == Seq(30, 10, 20))
    // call 3 fails first in time, call 2 first in input order, and call 4
    // succeeds well after both
    val finished = new java.util.concurrent.atomic.AtomicInteger
    val e = intercept[IllegalStateException](
      Concurrently.map(Seq(1, 2, 3, 4)) { i =>
        Thread.sleep(Map(1 -> 0L, 2 -> 50L, 3 -> 0L, 4 -> 300L)(i))
        finished.incrementAndGet()
        if (i == 2 || i == 3) throw new IllegalStateException(s"call $i")
        i
      })
    assert(e.getMessage == "call 2")
    assert(finished.get == 4)
  }

  test("entry smoke: flagship stats >0 rows") {
    assert(SparkEntry.entry(spark).count() == 7)
  }
}
