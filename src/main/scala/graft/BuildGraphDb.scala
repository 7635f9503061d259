package graft

import org.apache.spark.sql.SparkSession

import graft.config.GraphConfig
import graft.operators.{Concurrently, GraphBuilder, PropertyGraph}

/** CLI entry point — the drop-in equivalent of the reference's
  * `bin/build-graph-db -f config.yml` (bin/build-graph-db:7-16): parse the
  * YAML graph spec, build the property graph, write the parquet staging
  * store, optionally export Neo4j bulk-import CSVs, print the stats report.
  *
  * Usage:
  *   runMain graft.BuildGraphDb -f <config.yml> -o <outDir>
  *     [--csv] [--ascii-fold] [--upsert] [--master local[N]]
  *
  * `--upsert` merges node tables into existing staging (first-seen wins,
  * new ids append — [[GraphBuilder.upsertStagedNodes]]) instead of
  * overwriting, for scheduled incremental refreshes; relationship tables
  * are always rebuilt (edges are derived data). The CSV export and the
  * stats report then read the merged staging tables, so they cover every
  * node staged before the run too.
  */
object BuildGraphDb {

  private[graft] case class Args(
      configFile: String = "",
      outDir: String = "",
      csv: Boolean = false,
      asciiFold: Boolean = false,
      upsert: Boolean = false,
      master: String = s"local[${Runtime.getRuntime.availableProcessors}]")

  private[graft] def parse(argv: List[String], acc: Args = Args()): Args =
    argv match {
      case Nil => acc
      case "-f" :: v :: rest => parse(rest, acc.copy(configFile = v))
      case "-o" :: v :: rest => parse(rest, acc.copy(outDir = v))
      case "--csv" :: rest => parse(rest, acc.copy(csv = true))
      case "--ascii-fold" :: rest => parse(rest, acc.copy(asciiFold = true))
      case "--upsert" :: rest => parse(rest, acc.copy(upsert = true))
      case "--master" :: v :: rest => parse(rest, acc.copy(master = v))
      case other :: _ =>
        throw new IllegalArgumentException(
          s"unknown argument '$other'; usage: -f <config.yml> -o <outDir> " +
            "[--csv] [--ascii-fold] [--upsert] [--master local[N]]")
    }

  /** Core build, session-agnostic (main owns the session; tests pass the
    * shared one). */
  private[graft] def run(args: Args, spark: SparkSession): Unit = {
    require(args.configFile.nonEmpty, "missing -f <config.yml>")
    require(args.outDir.nonEmpty, "missing -o <outDir>")
    val cfg = GraphConfig.fromFile(args.configFile).validated
    val graph = GraphBuilder.build(spark, cfg, asciiFold = args.asciiFold)
    val idKeys = cfg.nodes.map(n =>
      n.label -> n.idKeyLabel.getOrElse(n.sources.head.idKey)).toMap
    val base = s"${args.outDir}/${cfg.database.outputStem}"
    val staged = if (args.upsert) {
      // each refresh reads its sources and writes only its own staged
      // dir — the edge frames come from the sources and the built node
      // frames, never from the staged nodes — so they run concurrently
      Concurrently.map(graph.nodes.toSeq.map { case (label, df) => () =>
        GraphBuilder.upsertStagedNodes(spark, args.outDir, cfg.database,
          label, df, idKeys(label))
      } ++ graph.relationships.toSeq.map { case (label, df) => () =>
        GraphBuilder.replaceStagedTable(spark,
          s"$base/relationships/$label", df)
      })(_()): Unit
      // the store now also holds every node staged before this run:
      // export and report what it holds, not this run's build
      def read(kind: String, labels: Iterable[String]) =
        labels.map(l => l -> spark.read.parquet(s"$base/$kind/$l")).toMap
      PropertyGraph(cfg.database, read("nodes", graph.nodes.keys),
        read("relationships", graph.relationships.keys))
    } else {
      graph.writeStaging(args.outDir)
      graph
    }
    if (args.csv) staged.exportNeo4jCsv(args.outDir, idKeys)
    println(s"[build-graph-db] staged ${graph.nodes.size} node tables and " +
      s"${graph.relationships.size} relationship tables under $base" +
      (if (args.upsert) " (upsert)" else ""))
    staged.stats(spark).show(100, truncate = false)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList)
    val spark = SparkSession.builder()
      .master(args.master)
      .appName("graft-build-graph-db")
      .config("spark.sql.shuffle.partitions",
        math.max(Runtime.getRuntime.availableProcessors, 4).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(args, spark)
    finally spark.stop()
  }
}
