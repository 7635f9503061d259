package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Checkpointer
import graft.config.GraphConfig
import graft.operators._
import graft.plans.SchemaMerge
import graft.sources.SourceReader

/** One benchmark workload: inputs made from a seed, the user-facing chain
  * of library calls, and checks of its on-disk output against facts the
  * generator computed on its own. */
trait Workload {
  def name: String
  /** Generate inputs under `dir` and stage whatever the chain reads. */
  def setup(spark: SparkSession, seed: Long, dir: String): Unit
  /** The on-disk sources one iteration reads. */
  def inputFiles: Seq[Inputs.FileStat]
  /** Source rows, edges or documents one iteration consumes. */
  def rowsIn: Long = inputFiles.map(_.rows).sum
  def sourceBytes: Long = inputFiles.map(_.bytes).sum
  /** The timed chain, writing its sinks under `out`. */
  def run(spark: SparkSession, out: String, t: Tracer): Unit
  /** Failed checks of the last run's output; empty when all hold. */
  def check(spark: SparkSession, out: String): Seq[String]
  /** Traced-only calls that isolate single layers; outside the chain. */
  def probes(spark: SparkSession, scratch: String, t: Tracer): Unit = ()
  /** Counts the traced pass reports beside the spans. */
  def counts(out: String): Map[String, Double] = Map.empty
  /** Untimed runs of the chain after set-up, before the timed pass. */
  def warmups: Int = 1
  /** Timed runs of the chain; a fixed count, so every run of the benchmark
    * samples the same stretch of the JVM's warm-up. */
  def timedRuns: Int = 3
}

object Workloads {

  val names: Seq[String] = Seq("build_harmonize", "analyze", "build_tpch",
    "analyze_graph", "curate_corpus")

  def apply(name: String): Workload = name match {
    case "build_tpch" => new BuildTpch
    case "build_harmonize" => new BuildHarmonize
    case "analyze_graph" => new AnalyzeGraph
    case "curate_corpus" => new CurateCorpus
    case "analyze" => new Analyze
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (${names.mkString(", ")})")
  }

  // ------------------------------------------------------- output readers

  private def dataFiles(dir: String, suffix: String): Seq[File] =
    Option(new File(dir).listFiles).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(suffix) &&
        !f.getName.startsWith(".") && !f.getName.startsWith("_"))

  /** Row count of a Parquet directory from its footers. */
  def parquetRows(dir: String): Long = {
    val conf = new Configuration()
    dataFiles(dir, ".parquet").map { f =>
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(f.getAbsolutePath), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Data rows of a headered CSV directory (one header per part file). */
  def csvRows(dir: String): Long = dataFiles(dir, ".csv").map { f =>
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try math.max(0L, src.getLines().size - 1L) finally src.close()
  }.sum

  /** Data files under `dir` and their bytes; Spark's marker and checksum
    * files are not counted. */
  def sinkFiles(dir: File): (Long, Long) =
    if (dir.isDirectory) Option(dir.listFiles).toSeq.flatten
      .map(sinkFiles).foldLeft((0L, 0L)) { case ((a, b), (c, d)) =>
        (a + c, b + d) }
    else if (dir.isFile && !dir.getName.startsWith(".") &&
      !dir.getName.startsWith("_")) (1L, dir.length)
    else (0L, 0L)

  def expectEq(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  // ---------------------------------------------------------- build chain

  private def idKeys(cfg: GraphConfig): Map[String, String] =
    cfg.nodes.map(n => n.label -> n.idKeyLabel.getOrElse(n.sources.head.idKey))
      .toMap

  /** spec → build → staging → Neo4j CSV → stats. */
  private def buildChain(spark: SparkSession, spec: String, out: String,
      t: Tracer): (GraphConfig, PropertyGraph, Map[(String, String), Long]) = {
    val cfg = t.span("config.parse")(GraphConfig.fromFile(spec))
    val graph = t.span("GraphBuilder.build")(GraphBuilder.build(spark, cfg))
    t.span("GraphBuilder.stage")(graph.writeStaging(out))
    t.span("GraphBuilder.csv")(graph.exportNeo4jCsv(out, idKeys(cfg)))
    val stats = t.span("GraphBuilder.stats")(graph.stats(spark).collect())
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    (cfg, graph, stats)
  }

  /** Stats, staged Parquet and CSV row counts against the facts. */
  private def checkGraph(facts: Inputs.GraphFacts, stem: String, out: String,
      stats: Map[(String, String), Long], staged: Inputs.GraphFacts)
      : Seq[String] = {
    val base = s"$out/$stem"
    facts.nodes.toSeq.flatMap { case (l, n) =>
      expectEq(s"stats node $l", stats.get(("node", l)), Some(n)) ++
        expectEq(s"csv nodes_$l", csvRows(s"$base-csv/nodes_$l"), n)
    } ++ facts.rels.toSeq.flatMap { case (l, n) =>
      expectEq(s"stats rel $l", stats.get(("rel", l)), Some(n)) ++
        expectEq(s"csv rels_$l", csvRows(s"$base-csv/rels_$l"), n)
    } ++ staged.nodes.toSeq.flatMap { case (l, n) =>
      expectEq(s"staged nodes/$l", parquetRows(s"$base/nodes/$l"), n)
    } ++ staged.rels.toSeq.flatMap { case (l, n) =>
      expectEq(s"staged relationships/$l",
        parquetRows(s"$base/relationships/$l"), n)
    } ++ expectEq("stats rows", stats.size, facts.nodes.size + facts.rels.size)
  }

  /** Single-label and single-type staging writes of a built graph, so the
    * node and edge pipelines each get spans of their own. */
  private def pipelineProbes(spark: SparkSession, spec: String,
      scratch: String, t: Tracer): Unit = {
    val cfg = GraphConfig.fromFile(spec)
    t.span("sources.schema") {
      for (n <- cfg.nodes; s <- n.sources)
        SourceReader.peekSchema(spark, cfg.sources(s.source), s.table)
    }
    val schemas = cfg.nodes.map(n => n.sources.map(s =>
      SourceReader.peekSchema(spark, cfg.sources(s.source), s.table)))
    t.span("plans.mergeFields")(schemas.foreach(SchemaMerge.mergeFields))
    val graph = GraphBuilder.build(spark, cfg)
    graph.nodes.foreach { case (label, df) =>
      t.span("NodePipeline.write")(graph.copy(nodes = Map(label -> df),
        relationships = Map.empty).writeStaging(s"$scratch/nodes"))
    }
    graph.relationships.foreach { case (label, df) =>
      t.span("RelPipeline.write")(graph.copy(nodes = Map.empty,
        relationships = Map(label -> df)).writeStaging(s"$scratch/rels"))
    }
  }

  // ----------------------------------------------------------- build_tpch

  final class BuildTpch extends Workload {
    val name = "build_tpch"
    private var in: Inputs.Tpch = _
    private var stats: Map[(String, String), Long] = Map.empty
    def setup(spark: SparkSession, seed: Long, dir: String): Unit =
      in = Inputs.tpch(spark, seed, dir, Inputs.TpchSize(1.0))
    def inputFiles: Seq[Inputs.FileStat] = in.files
    def run(spark: SparkSession, out: String, t: Tracer): Unit =
      stats = buildChain(spark, in.spec, out, t)._3
    def check(spark: SparkSession, out: String): Seq[String] =
      checkGraph(in.facts, "TpchGraph-1.0", out, stats, in.facts)
    override def probes(spark: SparkSession, scratch: String,
        t: Tracer): Unit = pipelineProbes(spark, in.spec, scratch, t)
  }

  // ------------------------------------------------------ build_harmonize

  final class BuildHarmonize extends Workload {
    val name = "build_harmonize"
    private var in: Inputs.Harmonize = _
    private var stats: Map[(String, String), Long] = Map.empty
    def setup(spark: SparkSession, seed: Long, dir: String): Unit =
      in = Inputs.harmonize(spark, seed, dir)
    def inputFiles: Seq[Inputs.FileStat] = in.files

    /** The full build, then the seeded delta merged into the staged
      * Account table and the edge table rebuilt and swapped in place. */
    def run(spark: SparkSession, out: String, t: Tracer): Unit = {
      val (cfg, _, s) = buildChain(spark, in.spec, out, t)
      stats = s
      t.span("GraphBuilder.upsert") {
        val base = s"$out/${cfg.database.outputStem}"
        GraphBuilder.upsertStagedNodes(spark, out, cfg.database, "Account",
          spark.read.parquet(in.deltaPath), "account_id")
        GraphBuilder.replaceStagedTable(spark,
          s"$base/relationships/ACCOUNT_USES_VENDOR",
          RelPipeline.foreignKeyEdges(
            spark.read.parquet(s"$base/nodes/Account"), "vendor_ref",
            "account_id", spark.read.parquet(s"$base/nodes/Vendor"),
            "vendor_id", "vendor_id"))
      }
    }

    def check(spark: SparkSession, out: String): Seq[String] = {
      val staged = Inputs.GraphFacts(
        in.facts.nodes.updated("Account", in.mergedAfterDelta.size.toLong),
        Map("ACCOUNT_USES_VENDOR" -> in.edgesAfterDelta))
      val counts = checkGraph(in.facts, "HarmonizeGraph-1.0", out, stats,
        staged)
      // first source wins, then the delta fills what is still null; checked
      // on every 97th id
      val sample = in.mergedAfterDelta.keys.toSeq.sorted
        .grouped(97).map(_.head).toSeq
      val rows = spark.read.parquet(s"$out/HarmonizeGraph-1.0/nodes/Account")
        .filter(col("account_id").isin(sample: _*))
        .select(col("account_id"), col("name"),
          col("balance").cast("double"), col("vendor_ref"), col("tier"))
        .collect()
      val got = rows.map(r => r.getLong(0) -> Inputs.Account(
        Option(r.getString(1)), Option(r.get(2)).map(_.asInstanceOf[Double]),
        Option(r.get(3)).map(_.asInstanceOf[Long]), Option(r.getString(4))))
        .toMap
      val values = sample.flatMap(id =>
        expectEq(s"merged Account $id", got.get(id),
          in.mergedAfterDelta.get(id)))
      val distinctIds = spark.read
        .parquet(s"$out/HarmonizeGraph-1.0/nodes/Account")
        .agg(countDistinct(col("account_id"))).head().getLong(0)
      counts ++ values.take(3) ++
        expectEq("distinct merged ids", distinctIds,
          in.mergedAfterDelta.size.toLong)
    }

    override def probes(spark: SparkSession, scratch: String,
        t: Tracer): Unit = pipelineProbes(spark, in.spec, scratch, t)
  }

  // -------------------------------------------------------- analyze_graph

  /** `sccOnly` runs only stronglyConnectedComponents, to keep `analyze`
    * within the time budget: pageRank has no convergence loop, and the
    * min-label loop behind connectedComponents also runs inside curation's
    * Dedup. */
  final class AnalyzeGraph(sccOnly: Boolean = false) extends Workload {
    val name = "analyze_graph"
    private var in: Inputs.Tpch = _
    private var edgesPath: String = _
    private var expected: (Long, Long, Long) = _

    /** Generate the TPC-H tables and stage them the build_tpch way; the
      * chain reads the staged ORDER_CONTAINS_PART edges. */
    def setup(spark: SparkSession, seed: Long, dir: String): Unit = {
      in = Inputs.tpch(spark, seed, s"$dir/tpch", Inputs.TpchSize(0.25))
      val graph = GraphBuilder.build(spark, GraphConfig.fromFile(in.spec))
      graph.copy(nodes = Map.empty,
        relationships = graph.relationships.filter(_._1 == "ORDER_CONTAINS_PART"))
        .writeStaging(s"$dir/staged")
      edgesPath = s"$dir/staged/TpchGraph-1.0/relationships/ORDER_CONTAINS_PART"
      expected = Oracle.components(in.edges)
    }
    def inputFiles: Seq[Inputs.FileStat] = Seq(Inputs.FileStat(
      "ORDER_CONTAINS_PART", in.edges.length.toLong,
      Inputs.dirBytes(new File(edgesPath))))

    def run(spark: SparkSession, out: String, t: Tracer): Unit = {
      val edges = spark.read.parquet(edgesPath)
      def save(df: DataFrame, sink: String): Unit =
        df.write.mode("overwrite").parquet(s"$out/$sink")
      if (!sccOnly) {
        t.span("GraphOps.pagerank")(save(GraphOps.pageRank(edges), "pagerank"))
        t.span("GraphOps.components")(
          save(GraphOps.connectedComponents(edges), "components"))
      }
      t.span("GraphOps.scc")(
        save(GraphOps.stronglyConnectedComponents(edges), "scc"))
    }

    def check(spark: SparkSession, out: String): Seq[String] = {
      val (vertices, comps, sccs) = expected
      def distinct(sink: String, c: String) =
        spark.read.parquet(s"$out/$sink").agg(count(lit(1)),
          countDistinct(col(c))).head()
      val pageRankAndComponents =
        if (sccOnly) Nil
        else {
          val pr = spark.read.parquet(s"$out/pagerank")
            .agg(count(lit(1)), sum(col("rank"))).head()
          val cc = distinct("components", "component")
          expectEq("pagerank rows", pr.getLong(0), vertices).toSeq ++
            (if (math.abs(pr.getDouble(1) - 1.0) < 1e-6) None
             else Some(s"pagerank sum ${pr.getDouble(1)} is not 1")) ++
            expectEq("components rows", cc.getLong(0), vertices) ++
            expectEq("components", cc.getLong(1), comps)
        }
      val scc = distinct("scc", "scc")
      pageRankAndComponents ++
        expectEq("scc rows", scc.getLong(0), vertices) ++
        expectEq("sccs", scc.getLong(1), sccs)
    }
  }

  // -------------------------------------------------------- curate_corpus

  final class CurateCorpus extends Workload {
    val name = "curate_corpus"
    private var in: Inputs.Corpus = _
    def setup(spark: SparkSession, seed: Long, dir: String): Unit =
      in = Inputs.corpus(spark, seed, dir)
    def inputFiles: Seq[Inputs.FileStat] = in.files

    def run(spark: SparkSession, out: String, t: Tracer): Unit =
      t.span("Curation.curate") {
        val (corpus, report) = Curation.curateCorpus(
          spark.read.parquet(in.docsPath), "text", "doc_id",
          spark.read.parquet(in.benchPath), "text", "doc_id",
          minWords = Inputs.MinWords,
          contaminationShingle = Inputs.ContaminationShingle,
          quotaGroupCol = Some("lang"), quotaPerGroup = in.quota)
        corpus.write.mode("overwrite").parquet(s"$out/corpus")
        report.write.mode("overwrite").parquet(s"$out/report")
      }

    def check(spark: SparkSession, out: String): Seq[String] = {
      val report = spark.read.parquet(s"$out/report")
        .select("doc_id", "stage").collect()
        .map(r => r.getLong(0) -> r.getString(1))
      val keptIds = spark.read.parquet(s"$out/corpus").select("doc_id")
        .collect().map(_.getLong(0)).toSeq
      val keptSet = keptIds.toSet
      val byStage = report.groupBy(_._2).map { case (k, v) => k -> v.length }
      val perLang = keptIds.groupBy(in.langs).map { case (k, v) => k -> v.size }
      expectEq("report rows", report.length, in.docIds.length).toSeq ++
        expectEq("report ids", report.map(_._1).toSet, in.docIds.toSet) ++
        expectEq("kept in report", byStage.getOrElse("kept", 0), keptIds.size) ++
        expectEq("corpus ids", keptSet,
          report.filter(_._2 == "kept").map(_._1).toSet) ++
        in.exactGroups.filter(_.count(keptSet) > 1).take(3)
          .map(g => s"exact copies kept: ${g.filter(keptSet)}") ++
        in.contaminated.filter(keptSet).take(3)
          .map(id => s"contaminated doc $id kept") ++
        perLang.filter(_._2 > in.quota)
          .map { case (l, n) => s"lang $l kept $n > quota ${in.quota}" }
    }

    override def probes(spark: SparkSession, scratch: String,
        t: Tracer): Unit = {
      val docs = spark.read.parquet(in.docsPath)
      val bench = spark.read.parquet(in.benchPath)
      t.span("Dedup.dedupedRows")(Dedup.dedupedRows(docs, "text", "doc_id",
        ckpt = Checkpointer.Local).write.format("noop").mode("overwrite").save())
      t.span("Decontaminate.decontaminate")(Decontaminate.decontaminate(
        docs, "text", "doc_id", bench, "text", "doc_id",
        Inputs.ContaminationShingle).write.format("noop").mode("overwrite")
        .save())
    }

    override def counts(out: String): Map[String, Double] = Map(
      "Curation.docs_in" -> in.docIds.length.toDouble,
      "Curation.docs_kept" -> parquetRows(s"$out/corpus").toDouble)
  }

  // -------------------------------------------------------------- analyze

  /** The analysis half of the pipeline in one chain: strongly connected
    * components over the staged edges, then corpus curation. */
  final class Analyze extends Workload {
    val name = "analyze"
    private val graph = new AnalyzeGraph(sccOnly = true)
    private val corpus = new CurateCorpus
    def setup(spark: SparkSession, seed: Long, dir: String): Unit = {
      graph.setup(spark, seed, s"$dir/graph")
      corpus.setup(spark, seed, s"$dir/corpus")
    }
    def inputFiles: Seq[Inputs.FileStat] = graph.inputFiles ++ corpus.inputFiles
    def run(spark: SparkSession, out: String, t: Tracer): Unit = {
      graph.run(spark, s"$out/graph", t)
      corpus.run(spark, s"$out/corpus", t)
    }
    def check(spark: SparkSession, out: String): Seq[String] =
      graph.check(spark, s"$out/graph") ++ corpus.check(spark, s"$out/corpus")
    override def probes(spark: SparkSession, scratch: String,
        t: Tracer): Unit = corpus.probes(spark, scratch, t)
    override def counts(out: String): Map[String, Double] =
      corpus.counts(s"$out/corpus")
    /** The second run of the chain is still a few to 25% slower than the
      * ones after it, by a margin that varies from process to process; two
      * warm-up runs keep it out of the timed pass. */
    override def warmups: Int = 2
    override def timedRuns: Int = 1
  }

  // --------------------------------------------------------------- oracle

  /** Graph facts computed in plain Scala from the generated edge list:
    * vertex count, weakly connected components (union-find) and strongly
    * connected components (iterative Tarjan). Self-loops count as edges
    * of their vertex only. */
  object Oracle {
    def components(edges: Array[(Long, Long)]): (Long, Long, Long) = {
      val ids = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
      val index = ids.zipWithIndex.toMap
      val n = ids.length
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
        r
      }
      val adj = Array.fill(n)(mutable.ArrayBuffer[Int]())
      edges.foreach { case (a, b) =>
        val (i, j) = (index(a), index(b))
        parent(find(i)) = find(j)
        if (i != j) adj(i) += j
      }
      val weak = (0 until n).map(find).distinct.size
      // Tarjan with an explicit stack
      val low = new Array[Int](n)
      val num = Array.fill(n)(-1)
      val onStack = new Array[Boolean](n)
      val stack = mutable.Stack[Int]()
      var counter = 0
      var sccs = 0
      for (root <- 0 until n if num(root) < 0) {
        val work = mutable.Stack[(Int, Int)]((root, 0))
        while (work.nonEmpty) {
          val (v, i) = work.pop()
          if (i == 0) {
            num(v) = counter; low(v) = counter; counter += 1
            stack.push(v); onStack(v) = true
          }
          if (i < adj(v).length) {
            work.push((v, i + 1))
            val w = adj(v)(i)
            if (num(w) < 0) work.push((w, 0))
            else if (onStack(w)) low(v) = math.min(low(v), num(w))
          } else {
            if (low(v) == num(v)) {
              var w = -1
              while (w != v) { w = stack.pop(); onStack(w) = false }
              sccs += 1
            }
            if (work.nonEmpty) {
              val (u, _) = work.top
              low(u) = math.min(low(u), low(v))
            }
          }
        }
      }
      (n.toLong, weak.toLong, sccs.toLong)
    }
  }
}
