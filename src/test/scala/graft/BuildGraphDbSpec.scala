package graft

import java.nio.file.Files

import graft.BuildGraphDb.{Args, parse}

/** E1 CLI entry point: arg grammar + full build run + incremental upsert
  * mode, driven in-process against the shared session. */
class BuildGraphDbSpec extends SparkSpec {
  import spark.implicits._

  test("arg parsing: flags, values, and unknown-arg rejection") {
    val a = parse(List("-f", "g.yml", "-o", "/out", "--csv", "--upsert",
      "--master", "local[3]"))
    assert(a == Args("g.yml", "/out", csv = true, asciiFold = false,
      upsert = true, master = "local[3]"))
    val e = intercept[IllegalArgumentException](parse(List("--bogus")))
    assert(e.getMessage.contains("--bogus"))
  }

  test("run: full build writes staging + CSV export + stats") {
    val tmp = Files.createTempDirectory("graft-cli").toString
    val cfgPath = s"$tmp/graph.yml"
    Files.writeString(java.nio.file.Paths.get(cfgPath),
      SparkEntry.fixtureYaml(sf()))
    BuildGraphDb.run(
      Args(cfgPath, s"$tmp/out", csv = true), spark)
    val nodes = spark.read.parquet(s"$tmp/out/TpchGraph-0.1/nodes/Customer")
    assert(nodes.count() == 150)
    val rels = spark.read.parquet(
      s"$tmp/out/TpchGraph-0.1/relationships/CUSTOMER_PLACED_ORDER")
    assert(rels.count() == 1500)
    assert(new java.io.File(s"$tmp/out/TpchGraph-0.1-csv/nodes_Customer")
      .exists())
  }

  test("run --upsert: second build merges instead of clobbering") {
    val tmp = Files.createTempDirectory("graft-cli-up").toString
    // seed staging with a node table holding an id the sources lack
    import org.apache.spark.sql.functions._
    val seeded = spark.read.parquet(sf() + "/nation.parquet")
      .withColumn("n_nationkey", col("n_nationkey") + 1000)
    val meta = config.DatabaseMeta("NGraph", "1", None, None, None)
    operators.GraphBuilder.upsertStagedNodes(
      spark, s"$tmp/out", meta, "Nation", seeded, "n_nationkey")
    val cfgPath = s"$tmp/graph.yml"
    Files.writeString(java.nio.file.Paths.get(cfgPath),
      s"""Database: { name: NGraph, version: "1" }
         |Sources:
         |  P: { source type: parquet, path: ${sf()} }
         |Nodes:
         |  Nation:
         |    sources:
         |      P: { table: nation, id_key: n_nationkey }
         |""".stripMargin)
    val report = new java.io.ByteArrayOutputStream
    Console.withOut(report)(BuildGraphDb.run(
      Args(cfgPath, s"$tmp/out", csv = true, upsert = true), spark))
    // 25 seeded (shifted) ids + 25 fresh ids, all retained
    val staged = spark.read.parquet(s"$tmp/out/NGraph-1/nodes/Nation")
    assert(staged.count() == 50)
    // the CSV export and the stats report cover the merged store, not
    // just this run's build
    assert(spark.read.option("header", "true").option("escape", "\"")
      .option("multiLine", "true").csv(s"$tmp/out/NGraph-1-csv/nodes_Nation")
      .count() == 50)
    assert(raw"\|\s*node\s*\|\s*Nation\s*\|\s*50\s*\|".r
      .findFirstIn(report.toString("UTF-8")).isDefined, report.toString)
    // without --upsert the same build clobbers back down to 25
    BuildGraphDb.run(Args(cfgPath, s"$tmp/out"), spark)
    assert(spark.read.parquet(s"$tmp/out/NGraph-1/nodes/Nation").count() == 25)
  }

  test("run --upsert into an empty store stages every table a plain run " +
      "stages") {
    val tmp = Files.createTempDirectory("graft-cli-up-all").toString
    val cfgPath = s"$tmp/graph.yml"
    Files.writeString(java.nio.file.Paths.get(cfgPath),
      SparkEntry.fixtureYaml(sf()))
    Console.withOut(new java.io.ByteArrayOutputStream) {
      BuildGraphDb.run(Args(cfgPath, s"$tmp/plain"), spark)
      BuildGraphDb.run(Args(cfgPath, s"$tmp/up", upsert = true), spark)
    }
    def tables(out: String) = {
      val base = new java.io.File(s"$out/TpchGraph-0.1")
      Seq("nodes", "relationships").flatMap(kind =>
        new java.io.File(base, kind).listFiles().map(d =>
          s"$kind/${d.getName}" -> spark.read.parquet(d.toString)
            .collect().map(_.toString).sorted.toSeq))
        .toMap
    }
    val plain = tables(s"$tmp/plain")
    assert(plain.size == 7)
    assert(tables(s"$tmp/up") == plain)
  }
}
