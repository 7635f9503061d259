package perfbench

/** Per-layer metrics of one traced iteration, read from the spans the
  * workloads open around their library calls. A layer a workload never
  * calls reads 0. */
object Layers {

  val Algos: Seq[String] = Seq("pagerank", "components", "scc")

  /** Every per-layer metric the traced pass reports, with its unit, apart
    * from the trace's own wall time and overhead. */
  val names: Seq[(String, String)] = Seq(
    "config.parse_ms" -> "ms",
    "sources.schema_ms" -> "ms",
    "sources.schema_jobs" -> "count",
    "sources.scan_bytes" -> "bytes",
    "sources.scan_amplification" -> "ratio",
    "plans.mergeFields_ms" -> "ms",
    "plans.analysis_ms" -> "ms",
    "plans.optimization_ms" -> "ms",
    "plans.planning_ms" -> "ms",
    "plans.exchanges" -> "count",
    "plans.broadcast_joins" -> "count",
    "plans.sort_merge_joins" -> "count",
    "GraphBuilder.build_ms" -> "ms",
    "GraphBuilder.stage_ms" -> "ms",
    "GraphBuilder.csv_ms" -> "ms",
    "GraphBuilder.stats_ms" -> "ms",
    "GraphBuilder.upsert_ms" -> "ms",
    "GraphBuilder.jobs" -> "count",
    "GraphBuilder.recompute_ratio" -> "ratio",
    "NodePipeline.write_ms" -> "ms",
    "NodePipeline.rows_in" -> "count",
    "NodePipeline.rows_out" -> "count",
    "NodePipeline.shuffle_bytes" -> "bytes",
    "RelPipeline.write_ms" -> "ms",
    "RelPipeline.edges_out" -> "count",
    "RelPipeline.shuffle_bytes" -> "bytes") ++
    Algos.flatMap(a => Seq(
      s"GraphOps.${a}_ms" -> "ms",
      s"GraphOps.${a}_jobs" -> "count",
      s"GraphOps.${a}_driver_gap_ms" -> "ms",
      s"GraphOps.${a}_shuffle_bytes" -> "bytes")) ++ Seq(
    "Checkpointer.count" -> "count",
    "Checkpointer.bytes" -> "bytes",
    "Curation.curate_ms" -> "ms",
    "Curation.jobs" -> "count",
    "Curation.shuffle_bytes" -> "bytes",
    "Curation.docs_in" -> "count",
    "Curation.docs_kept" -> "count",
    "Dedup.dedupedRows_ms" -> "ms",
    "Decontaminate.decontaminate_ms" -> "ms",
    "spark.jobs" -> "count",
    "spark.tasks" -> "count",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.executor_run_ms" -> "ms",
    "spark.gc_ms" -> "ms",
    "spark.driver_gap_ms" -> "ms")

  private val BuildSteps = Seq("GraphBuilder.build", "GraphBuilder.stage",
    "GraphBuilder.csv", "GraphBuilder.stats")

  def metrics(tr: Trace, it: Int, wl: Workload): Map[String, Double] = {
    def sp(names: String*) = names.flatMap(tr.named(it, _))
    def ms(names: String*) = tr.ms(sp(names: _*))
    def c(names: String*) = tr.totals(tr.ids(sp(names: _*)))
    def jobs(names: String*) = tr.jobCount(tr.ids(sp(names: _*))).toDouble
    val root = sp("iteration")
    val chainIds = tr.ids(root)
    val chain = tr.totals(chainIds)
    val qs = tr.queriesIn(chainIds)
    val blocks = tr.blocksIn(chainIds)
    val stageShuffle = c("GraphBuilder.stage").shuffleWrite
    val scanBytes = root.map(_.bytesRead).sum
    val m = Map[String, Double](
      "config.parse_ms" -> ms("config.parse"),
      "sources.schema_ms" -> ms("sources.schema"),
      "sources.schema_jobs" -> jobs("GraphBuilder.build"),
      "sources.scan_bytes" -> scanBytes.toDouble,
      "sources.scan_amplification" ->
        scanBytes.toDouble / math.max(wl.sourceBytes, 1L),
      "plans.mergeFields_ms" -> ms("plans.mergeFields"),
      "plans.analysis_ms" -> qs.map(_.analysisMs).sum.toDouble,
      "plans.optimization_ms" -> qs.map(_.optimizationMs).sum.toDouble,
      "plans.planning_ms" -> qs.map(_.planningMs).sum.toDouble,
      "plans.exchanges" -> qs.map(_.exchanges).sum.toDouble,
      "plans.broadcast_joins" -> qs.map(_.broadcastJoins).sum.toDouble,
      "plans.sort_merge_joins" -> qs.map(_.sortMergeJoins).sum.toDouble,
      "GraphBuilder.build_ms" -> ms("GraphBuilder.build"),
      "GraphBuilder.stage_ms" -> ms("GraphBuilder.stage"),
      "GraphBuilder.csv_ms" -> ms("GraphBuilder.csv"),
      "GraphBuilder.stats_ms" -> ms("GraphBuilder.stats"),
      "GraphBuilder.upsert_ms" -> ms("GraphBuilder.upsert"),
      "GraphBuilder.jobs" -> jobs(BuildSteps :+ "GraphBuilder.upsert": _*),
      "GraphBuilder.recompute_ratio" ->
        (if (stageShuffle == 0) 0.0
         else c(BuildSteps: _*).shuffleWrite.toDouble / stageShuffle),
      "NodePipeline.write_ms" -> ms("NodePipeline.write"),
      "NodePipeline.rows_in" -> c("NodePipeline.write").inRecords.toDouble,
      "NodePipeline.rows_out" -> c("NodePipeline.write").outRecords.toDouble,
      "NodePipeline.shuffle_bytes" ->
        c("NodePipeline.write").shuffleWrite.toDouble,
      "RelPipeline.write_ms" -> ms("RelPipeline.write"),
      "RelPipeline.edges_out" -> c("RelPipeline.write").outRecords.toDouble,
      "RelPipeline.shuffle_bytes" ->
        c("RelPipeline.write").shuffleWrite.toDouble,
      "Checkpointer.count" -> blocks.map(_.rdd).distinct.size.toDouble,
      "Checkpointer.bytes" -> blocks.map(_.bytes).sum.toDouble,
      "Curation.curate_ms" -> ms("Curation.curate"),
      "Curation.jobs" -> jobs("Curation.curate"),
      "Curation.shuffle_bytes" -> c("Curation.curate").shuffleWrite.toDouble,
      "Dedup.dedupedRows_ms" -> ms("Dedup.dedupedRows"),
      "Decontaminate.decontaminate_ms" -> ms("Decontaminate.decontaminate"),
      "spark.jobs" -> tr.jobCount(chainIds).toDouble,
      "spark.tasks" -> chain.tasks.toDouble,
      "spark.shuffle_write_bytes" -> chain.shuffleWrite.toDouble,
      "spark.spill_bytes" -> chain.spill.toDouble,
      "spark.executor_run_ms" -> chain.runMs.toDouble,
      "spark.gc_ms" -> chain.gcMs.toDouble,
      "spark.driver_gap_ms" -> tr.driverGapMs(root))
    m ++ Algos.flatMap { a =>
      val s = sp(s"GraphOps.$a")
      Seq(s"GraphOps.${a}_ms" -> tr.ms(s),
        s"GraphOps.${a}_jobs" -> tr.jobCount(tr.ids(s)).toDouble,
        s"GraphOps.${a}_driver_gap_ms" -> tr.driverGapMs(s),
        s"GraphOps.${a}_shuffle_bytes" ->
          tr.totals(tr.ids(s)).shuffleWrite.toDouble)
    }
  }

  /** Per span name in iteration `it`: calls, total and self ms, jobs. */
  def spanSummary(tr: Trace, it: Int): Seq[Map[String, Any]] =
    tr.spans.filter(_.iter == it).groupBy(_.name).toSeq
      .sortBy(_._2.head.id).map { case (n, ss) =>
        Map("name" -> n, "calls" -> ss.size, "ms" -> ss.map(_.ms).sum,
          "self_ms" -> ss.map(tr.selfMs).sum,
          "jobs" -> tr.jobCount(tr.ids(ss.toSeq)))
      }
}
