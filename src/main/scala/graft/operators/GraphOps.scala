package graft.operators

import graft.Checkpointer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over built relationship tables — the queries the
  * reference defers to Neo4j after export (`neo4j-admin import`, then
  * Cypher), runnable in-engine on the same `(start_id, end_id)` frames
  * [[RelPipeline]] produces. Everything is joins + aggregations, so
  * Catalyst/AQE plan it like any relational workload.
  *
  * Scale notes (100 TB): [[degrees]] is one partial-aggregated groupBy on
  * the edge table (map-side combine — shuffle rows are (id, count), not
  * edges). [[kHop]] is `hops` iterations of frontier ⋈ edges; the frontier
  * is usually ≪ edges, so AQE broadcasts it and the edge table never
  * shuffles. Frontier dedup per round keeps the join input minimal, and
  * `localCheckpoint` truncates lineage so iteration depth never compounds
  * the plan.
  *
  * Every iterative operator takes a [[graft.Checkpointer]] for its
  * per-round lineage truncation. The default ([[Checkpointer.Local]]) is
  * executor-local block storage — fast, but non-fault-tolerant (an
  * executor loss mid-run fails the job) and released only when the
  * referencing Datasets are garbage-collected. Multi-hour cluster runs
  * should pass [[Checkpointer.Reliable]] after
  * `sparkContext.setCheckpointDir` to a fault-tolerant path.
  */
object GraphOps {

  import RelPipeline.{StartId, EndId}

  /** `ckpt(df)` and its row count, observed on the checkpoint's own job
    * ([[graft.Checkpointer.observed]]) instead of a count query. */
  private def ckptCount(ckpt: Checkpointer, df: DataFrame)
      : (DataFrame, Long) = {
    val (c, row) = ckpt.observed(df, count(lit(1)))
    (c, row.getLong(0))
  }

  /** Per-node degree over an edge table: `out`, `in`, or `total`
    * (undirected) degree. One hash aggregation. */
  def degrees(edges: DataFrame, direction: String = "out"): DataFrame =
    direction match {
      case "out" =>
        edges.groupBy(col(StartId).as("id"))
          .agg(count(lit(1)).as("degree"))
      case "in" =>
        edges.groupBy(col(EndId).as("id"))
          .agg(count(lit(1)).as("degree"))
      case "total" =>
        edges.select(col(StartId).as("id"))
          .unionAll(edges.select(col(EndId).as("id")))
          .groupBy(col("id"))
          .agg(count(lit(1)).as("degree"))
      case other =>
        throw new IllegalArgumentException(
          s"direction must be out | in | total, got '$other'")
    }

  /** Connected components over an edge table (edge direction ignored):
    * each node labelled with the smallest node id in its component —
    * the graph-surface entry point for [[Dedup.connectedComponents]]'
    * min-label propagation + pointer jumping (O(log diameter) rounds).
    * Output: (`id`, `component`); isolated endpoints label themselves. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25,
      ckpt: Checkpointer = Checkpointer.Local): DataFrame = {
    val vertices = edges.select(col(StartId).as("id"))
      .unionAll(edges.select(col(EndId).as("id"))).distinct()
    val pairs = edges.select(col(StartId).as("id_a"), col(EndId).as("id_b"))
    Dedup.connectedComponents(vertices, "id", pairs, maxIter, ckpt)
      .select(col("id"), col("comp").as("component"))
  }

  /** PageRank over a directed edge table — power iteration with the
    * standard damping model and dangling-mass redistribution:
    *
    *   rank'(v) = (1−d)/N + d·( Σ_{u→v} rank(u)/outdeg(u) + dangling/N )
    *
    * where `dangling` is the total rank mass sitting on nodes with no
    * out-edges (without the redistribution term, mass leaks every
    * iteration and ranks stop summing to 1).
    *
    * Scale notes (100 TB edge table): each iteration is one equi-join of
    * the rank vector (|V| rows — small relative to edges) against the edge
    * table plus a partial-aggregated groupBy on the destination — AQE
    * broadcasts the rank side when it fits, so the edge table never
    * re-shuffles across iterations. The dangling sum is a 1-row aggregate
    * on the rank vector, folded back in as a broadcast crossJoin so each
    * iteration is ONE job (the checkpoint), not a scalar-collect job plus
    * the rank job. Per-iteration checkpoints truncate the lineage so plan
    * depth stays constant; the edge/degree tables are checkpointed once up
    * front so they are not re-derived each round. Skewed in-degree (a
    * celebrity node) is a groupBy — map-side combine absorbs it.
    *
    * With `weightCol`, transition probability follows edge weight instead
    * of being uniform over out-edges: rank flows u→v in proportion
    * w(u,v)/Σ_w(u,·) (weights must be positive — a vertex whose outgoing
    * weights sum to zero would divide by zero). Unweighted keeps the
    * exact original expression (count-based out-degree), so existing
    * results are bit-identical.
    *
    * Returns (`id`, `rank`); ranks sum to 1 over the node set (all
    * endpoints of `edges`, plus `nodes` if supplied for isolated
    * vertices). */
  def pageRank(edges: DataFrame, damping: Double = 0.85,
      iterations: Int = 10, nodes: Option[DataFrame] = None,
      ckpt: Checkpointer = Checkpointer.Local,
      weightCol: Option[String] = None): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(damping >= 0 && damping < 1, "damping must be in [0, 1)")
    pageRankRounds(edges, damping, iterations, nodes, ckpt, weightCol,
      (n, nNodes) => n.withColumn("rank", lit(1.0 / nNodes)))
  }

  /** Shared body of [[pageRank]] and [[incrementalPageRank]]: edge /
    * node-set / out-degree prep plus `iterations` damped power rounds,
    * starting from `init(nodeSet, nNodes)`. The per-round expression is
    * the ONE definition both entries execute, so a warm start differs
    * from a cold start only in its initial vector — never in arithmetic
    * association (the oracles replay the rounds verbatim). */
  private def pageRankRounds(edges: DataFrame, damping: Double,
      iterations: Int, nodes: Option[DataFrame], ckpt: Checkpointer,
      weightCol: Option[String],
      init: (DataFrame, Double) => DataFrame): DataFrame = {
    val e = ckpt(edges.select(
      col(StartId).as("src") +: col(EndId).as("dst") +:
        weightCol.map(w => col(w).cast("double").as("_w")).toSeq: _*))
    val endpoints = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id")))
    val (n, nCount) = ckptCount(ckpt, nodes.fold(endpoints)(extra =>
        endpoints.unionAll(extra.select(col(extra.columns.head).as("id"))))
      .distinct())
    val nNodes = nCount.toDouble
    // out-"degree": edge count unweighted, outgoing weight sum weighted.
    // A null or non-positive weight sum would silently turn ranks into
    // NaN (0/0) or leak mass (null flow rows vanish from the sum while
    // the node still isn't dangling) — fail the job with a pointed error
    // instead, at the single materialization of the degree table.
    val deg = ckpt(e.groupBy("src").agg(
        weightCol.fold(count(lit(1)).as("_deg"))(_ =>
          sum(col("_w")).as("_deg")))
      .select(col("src"),
        (if (weightCol.isEmpty) col("_deg")
         else when(col("_deg").isNotNull && col("_deg") > 0, col("_deg"))
           .otherwise(raise_error(concat(
             lit("pageRank: outgoing weight sum must be positive, got "),
             col("_deg").cast("string"), lit(" for src="),
             col("src").cast("string"))))).as("_deg")))
    var ranks = ckpt(init(n, nNodes))
    var i = 0
    while (i < iterations) {
      // rank mass on dangling nodes (no out-edges) — redistributed
      // uniformly. A 1-row aggregate carried into the plan as a broadcast
      // crossJoin, not collected to the driver.
      val dangling = ranks.join(deg, ranks("id") === deg("src"), "left_anti")
        .agg(coalesce(sum("rank"), lit(0.0)).as("_dangling"))
      val flow = weightCol
        .fold(col("rank") / col("_deg"))(_ =>
          col("rank") * col("_w") / col("_deg"))
      val inflow = ranks
        .join(e, ranks("id") === e("src"))
        .join(deg, Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(flow).as("_in"))
      ranks = ckpt(n.join(inflow, Seq("id"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("id"),
          (lit((1.0 - damping) / nNodes) +
            lit(damping) * (coalesce(col("_in"), lit(0.0)) +
              col("_dangling") / lit(nNodes))).as("rank")))
      i += 1
    }
    ranks
  }

  /** Incremental PageRank — warm-start maintenance after an edge delta,
    * closing the one analytics family ([[pageRank]] / q_g3) that had no
    * maintenance story: instead of re-iterating from the uniform vector
    * on every graph change, resume the power iteration from the STORED
    * scores of the pre-delta graph. PageRank's iteration map is a
    * contraction with factor `damping`, so the error after k warm
    * rounds is `damping^k · ||r_stored − r*_new||₁` — for a local edge
    * delta the stored vector is already near the new fixed point and a
    * couple of rounds land inside tolerance, where a cold start pays
    * the full `damping^k · ||uniform − r*||₁` schedule (the spec
    * asserts both: strictly closer at every k, and convergence to the
    * fresh-run fixed point).
    *
    * Warm-start vector on the new node set (all endpoints of `edges`,
    * plus `nodes` if supplied): a surviving node keeps its stored rank,
    * a NEW node (no stored row) enters at the uniform 1/N share, a
    * dropped node's mass vanishes with it — then the vector is
    * renormalized to total mass 1 in one broadcast fold, so the
    * dangling/reset algebra sees the same invariant a cold start
    * guarantees. Rounds then run the exact [[pageRank]] per-round
    * expression ([[pageRankRounds]] is shared), so `iterations = k`
    * here is bit-replayable by the same unrolled-SQL oracle scheme as
    * q_g3 seeded from the stored vector.
    *
    * `iterations = 0` returns just the renormalized carry-forward
    * (useful as the no-op branch of a maintenance policy).
    *
    * Scale notes (100 TB edge table): identical per-round shape to
    * [[pageRank]] (one rank⋈edges join + dst groupBy per round, 1-row
    * dangling fold, AQE-broadcast rank side); the warm start adds ONE
    * |V|-sized left join against the stored scores and a 1-row
    * normalization fold. The win at scale is fewer rounds over the
    * unchanged edge table, not a cheaper round. */
  def incrementalPageRank(edges: DataFrame, prevRanks: DataFrame,
      damping: Double = 0.85, iterations: Int = 2,
      nodes: Option[DataFrame] = None,
      ckpt: Checkpointer = Checkpointer.Local,
      weightCol: Option[String] = None): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    require(damping >= 0 && damping < 1, "damping must be in [0, 1)")
    val prev = prevRanks.select(
      col(prevRanks.columns.head).cast("long").as("id"),
      col(prevRanks.columns(1)).cast("double").as("_prev"))
    pageRankRounds(edges, damping, iterations, nodes, ckpt, weightCol,
      (n, nNodes) => {
        val seeded = n.join(prev, Seq("id"), "left")
          .select(col("id"),
            coalesce(col("_prev"), lit(1.0 / nNodes)).as("rank"))
        // renormalize to mass 1 — a 1-row broadcast fold, same shape as
        // the dangling term (no driver collect)
        val total = seeded.agg(sum("rank").as("_total"))
        seeded.crossJoin(broadcast(total))
          .select(col("id"), (col("rank") / col("_total")).as("rank"))
      })
  }

  /** A persisted PageRank score store — the serving-store discipline
    * applied to the rank vector (the grid standard: every maintained
    * store carries its derivation IDENTITY and commits atomically).
    * It is a [[FrameVersions]] store:
    *
    *   `<dir>/_v<n>/scores`        immutable per-version (id, rank) set
    *   `<dir>/_v<n>/meta`          one row: the damping factor
    *   `<dir>/_commits/<n>_<tag>`  empty marker — the COMMIT point
    *
    * The identity matters because a warm start under a different
    * damping silently converges to the WRONG fixed point — same class
    * as serving a rotated ANN index without its basis record:
    * [[saveRankStore]] refuses a damping that disagrees with the
    * latest committed meta, and [[incrementalPageRankFromStore]] takes
    * its damping FROM the store, so a caller cannot misalign it.
    *
    * A crash anywhere before the marker leaves the store at v<n>
    * exactly; a partial `_v<n+1>` is invisible and rewrites
    * idempotently. `tag` carries the streaming twin's batch id
    * (batch-mode saves use "-"), which is what makes its redelivery
    * check exact. */
  case class RankStore(scores: DataFrame, damping: Double,
      version: Long, tag: String)

  /** The latest version of the rank store at `dir`, refusing the
    * per-version `scores/v<n>` layout that rank stores used before
    * they committed through [[FrameVersions]]. */
  private def rankVersion(spark: org.apache.spark.sql.SparkSession,
      dir: String): FrameVersions.Version = {
    val v = FrameVersions.latest(spark, dir)
    require(v.n == 0L || v.has("meta"),
      s"the rank store at $dir is in the scores/v<n> layout; rank " +
        "stores now commit scores and meta together under _v<n>/ — " +
        "rebuild it with saveRankStore into a fresh directory")
    v
  }

  /** Commit `scores` as the next version of the rank store at `dir`.
    * Returns the committed version number. */
  def saveRankStore(spark: org.apache.spark.sql.SparkSession,
      dir: String, scores: DataFrame, damping: Double,
      tag: String = "-"): Long = {
    require(damping >= 0 && damping < 1, "damping must be in [0, 1)")
    val prev = rankVersion(spark, dir)
    if (prev.n >= 1) {
      val stored = prev.read("meta").head().getAs[Double]("damping")
      require(stored == damping,
        s"saveRankStore: the store at $dir carries damping=$stored " +
          s"but the save declared damping=$damping — a mixed-damping " +
          "chain would warm-start toward the wrong fixed point; " +
          "build a fresh store for a new damping")
    }
    FrameVersions.commit(spark, dir, Seq(
      "scores" -> scores.select(
        col(scores.columns.head).cast("long").as("id"),
        col(scores.columns(1)).cast("double").as("rank")),
      "meta" -> spark.range(1).select(lit(damping).as("damping"))), tag)
  }

  /** Latest committed version of the rank store — fails fast on a
    * storeless dir (a blind warm start from nothing is the bug the
    * identity exists to prevent). */
  def loadRankStore(spark: org.apache.spark.sql.SparkSession,
      dir: String): RankStore = {
    val v = rankVersion(spark, dir)
    require(v.n >= 1,
      s"loadRankStore: no rank store at $dir (no committed version) — " +
        "saveRankStore a converged pageRank first")
    RankStore(v.read("scores"),
      v.read("meta").head().getAs[Double]("damping"), v.n, v.tag)
  }

  /** [[incrementalPageRank]] off the persisted store: load the latest
    * committed scores, warm-start on `edges` under the STORE'S OWN
    * damping (the caller cannot misalign the identity), and return
    * the new scores — the q_x3j/q_x2t stored-path discipline: this
    * must reproduce the in-memory warm start exactly. */
  def incrementalPageRankFromStore(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      edges: DataFrame, iterations: Int = 2,
      nodes: Option[DataFrame] = None,
      ckpt: Checkpointer = Checkpointer.Local,
      weightCol: Option[String] = None): DataFrame = {
    val store = loadRankStore(spark, dir)
    incrementalPageRank(edges, store.scores, store.damping, iterations,
      nodes, ckpt, weightCol)
  }

  /** Personalized PageRank: like [[pageRank]], but the (1−d) reset mass
    * and the dangling mass return to the SEED distribution (uniform over
    * `seeds`) instead of to all nodes —
    *
    *   rank'(v) = (1−d)·s(v) + d·( Σ_{u→v} rank(u)/outdeg(u) + dangling·s(v) )
    *
    * with s(v) = 1/|seeds| on seeds, 0 elsewhere. Ranks measure proximity
    * to the seed set (the "related items" / recommendation primitive);
    * they still sum to 1. Initial vector = s. Same per-iteration plan
    * shape and scale behaviour as [[pageRank]] — the seed indicator is one
    * extra column on the node table, joined once. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      damping: Double = 0.85, iterations: Int = 10,
      ckpt: Checkpointer = Checkpointer.Local): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(damping >= 0 && damping < 1, "damping must be in [0, 1)")
    val e = ckpt(edges.select(col(StartId).as("src"), col(EndId).as("dst")))
    val n = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id")))
      .distinct()
    val (seedSet, nSeeds) = ckptCount(ckpt,
      seeds.select(col(seeds.columns.head).as("id")).distinct())
    require(nSeeds > 0, "seeds must be non-empty")
    // node table with the reset weight s(v), checkpointed once
    val ns = ckpt(n.join(seedSet.withColumn("_s", lit(1.0 / nSeeds)),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("_s"), lit(0.0)).as("_s")))
    val deg = ckpt(e.groupBy("src").agg(count(lit(1)).as("_deg")))
    var ranks = ckpt(ns.select(col("id"), col("_s").as("rank")))
    var i = 0
    while (i < iterations) {
      // dangling mass returns to the seed distribution — folded in as a
      // 1-row broadcast, same one-job-per-iteration shape as [[pageRank]]
      val dangling = ranks.join(deg, ranks("id") === deg("src"), "left_anti")
        .agg(coalesce(sum("rank"), lit(0.0)).as("_dangling"))
      val inflow = ranks
        .join(e, ranks("id") === e("src"))
        .join(deg, Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("rank") / col("_deg")).as("_in"))
      ranks = ckpt(ns.join(inflow, Seq("id"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("id"),
          (lit(1.0 - damping) * col("_s") +
            lit(damping) * (coalesce(col("_in"), lit(0.0)) +
              col("_dangling") * col("_s"))).as("rank")))
      i += 1
    }
    ranks
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) over the DIRECTED edge
    * set — the classic dual of PageRank for link-structured corpora:
    * a good hub points at good authorities, a good authority is pointed
    * at by good hubs. L1-normalized power iteration:
    *
    *   auth'(v) = Σ_{u→v} hub(u)   then auth ← auth' / Σ auth'
    *   hub'(u)  = Σ_{u→v} auth(v)  then hub  ← hub'  / Σ hub'
    *
    * (L1 rather than Kleinberg's L2 norm: the induced RANKING is
    * identical — both are scalar rescalings of the same iterate — and
    * an L1 sum is reproducible in portable SQL without a sqrt.) Nodes
    * with no in-edges have auth 0; no out-edges, hub 0.
    *
    * Scale notes (100 TB edge table): each half-step is one equi-join of
    * the score vector against the edge list plus a partial-agg groupBy —
    * the same shuffle shape as a [[pageRank]] round, twice per
    * iteration. The normalizer is a 1-row aggregate folded back in as a
    * broadcast crossJoin (never collected). Score state is one row per
    * node per iteration, checkpointed via `ckpt` so the lineage stays
    * flat on deep runs.
    *
    * Returns (`id`, `hub`, `auth`). */
  def hits(edges: DataFrame, iterations: Int = 10,
      nodes: Option[DataFrame] = None,
      ckpt: Checkpointer = Checkpointer.Local): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val e = ckpt(edges.select(col(StartId).as("src"), col(EndId).as("dst")))
    val endpoints = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id")))
    val n = ckpt(nodes.fold(endpoints)(extra =>
        endpoints.unionAll(extra.select(col(extra.columns.head).as("id"))))
      .distinct())
    var scores = ckpt(n.select(col("id"), lit(1.0).as("hub"),
      lit(1.0).as("auth")))
    var i = 0
    while (i < iterations) {
      val authRaw = scores.join(e, scores("id") === e("src"))
        .groupBy(col("dst").as("id")).agg(sum("hub").as("_a"))
      val authNorm = authRaw.agg(sum("_a").as("_an"))
      val auth = n.join(authRaw, Seq("id"), "left")
        .crossJoin(broadcast(authNorm))
        .select(col("id"),
          (coalesce(col("_a"), lit(0.0)) / col("_an")).as("auth"))
      val hubRaw = auth.join(e, auth("id") === e("dst"))
        .groupBy(col("src").as("id")).agg(sum("auth").as("_h"))
      val hubNorm = hubRaw.agg(sum("_h").as("_hn"))
      scores = ckpt(n.join(hubRaw, Seq("id"), "left")
        .crossJoin(broadcast(hubNorm))
        .join(auth, Seq("id"))
        .select(col("id"),
          (coalesce(col("_h"), lit(0.0)) / col("_hn")).as("hub"),
          col("auth")))
      i += 1
    }
    scores
  }

  /** Per-vertex triangle counts over an UNDIRECTED graph (edge direction
    * in the input is ignored; parallel edges and self-loops are dropped).
    *
    * Degree-ordered ("compact-forward") enumeration: every edge is
    * oriented from its lower-(degree, id) endpoint to the higher, wedges
    * are generated only between a vertex's out-neighbours, and a wedge
    * closes iff its (ordered) third side exists in the oriented edge set —
    * so each triangle is found exactly once.
    *
    * Scale notes (100 TB edge table): naive wedge generation explodes on
    * hubs (Σ deg² — a celebrity vertex alone can emit 10¹² wedges). The
    * degree orientation caps out-degree at O(√m), making the wedge volume
    * O(m^1.5) worst case and far less on real skewed graphs — this is the
    * standard distributed triangle algorithm. Joins are plain equi-joins
    * (AQE handles residual skew); the oriented edge list is checkpointed
    * once and reused by both sides of the wedge join. */
  def triangleCounts(edges: DataFrame,
      ckpt: Checkpointer = Checkpointer.Local): DataFrame = {
    // canonical undirected edge list: a < b, dedup, no self-loops
    val canon = edges.select(
        least(col(StartId), col(EndId)).as("a"),
        greatest(col(StartId), col(EndId)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = canon.select(col("a").as("id"))
      .unionAll(canon.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("_d"))
    // orient low-(deg, id) → high-(deg, id); carry the dst's degree so the
    // wedge join can order out-neighbours without another lookup
    val oriented = canon
      .join(deg.withColumnRenamed("id", "a").withColumnRenamed("_d", "_da"),
        Seq("a"))
      .join(deg.withColumnRenamed("id", "b").withColumnRenamed("_d", "_db"),
        Seq("b"))
      .select(
        when(col("_da") < col("_db") ||
            (col("_da") === col("_db") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst"), col("_db").as("_dd")))
          .otherwise(
            struct(col("b").as("src"), col("a").as("dst"), col("_da").as("_dd")))
          .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e._dd").as("_dd"))
    val orientedCk = ckpt(oriented)
    val x = orientedCk.alias("x")
    val y = orientedCk.alias("y")
    // wedges (u; v, w) with v before w in (deg, id) order — the closing
    // edge, if present, is oriented exactly v → w
    val wedges = x.join(y, col("x.src") === col("y.src") &&
        (col("x._dd") < col("y._dd") ||
          (col("x._dd") === col("y._dd") && col("x.dst") < col("y.dst"))))
      .select(col("x.src").as("u"), col("x.dst").as("v"),
        col("y.dst").as("w"))
    val closing = orientedCk.select(col("src").as("v"), col("dst").as("w"))
    val triangles = wedges.join(closing, Seq("v", "w"))
    triangles
      .select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
  }

  /** Local clustering coefficient: `c(v) = 2·tri(v) / (deg(v)·(deg(v)−1))`
    * over the undirected simple graph — how close each node's
    * neighborhood is to a clique (1 = clique member, 0 = star center).
    * Nodes with degree < 2 get 0. Composes [[triangleCounts]] (degree-
    * oriented wedge join, O(m^1.5) bound) with the degree aggregate —
    * no new shuffle shapes; the division is a narrow projection.
    *
    * @return (`id`, `degree`, `n_triangles`, `clustering`). */
  def clusteringCoefficients(edges: DataFrame,
      ckpt: Checkpointer = Checkpointer.Local): DataFrame = {
    val canon = edges.select(
        least(col(StartId), col(EndId)).as("a"),
        greatest(col(StartId), col(EndId)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = canon.select(col("a").as("id"))
      .unionAll(canon.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    deg.join(triangleCounts(edges, ckpt), Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") < 2, lit(0.0))
          .otherwise(lit(2.0) * coalesce(col("n_triangles"), lit(0L))
            / (col("degree") * (col("degree") - 1)))
          .as("clustering"))
  }

  /** K-core decomposition membership: the nodes of the maximal subgraph
    * in which every node has degree ≥ `k` (undirected; direction,
    * parallel edges and self-loops ignored) — the standard
    * dense-region / spam-farm / community-scaffold filter.
    *
    * Iterative peeling: drop every node with current degree < k, recount
    * degrees on the surviving subgraph, repeat to fixpoint. The result is
    * unique (the k-core is well-defined), so the iteration order doesn't
    * matter — only the number of rounds does, and each round is one
    * degree groupBy + two semi-joins on the shrinking edge set. Lineage
    * is truncated per round with the supplied [[graft.Checkpointer]].
    *
    * Scale notes (100 TB): the edge set only ever SHRINKS, so per-round
    * cost is bounded by the current core candidate, not the input; rounds
    * are bounded by the peeling depth (small on real graphs — hubs
    * survive, fringes fall off in the first rounds). The convergence
    * probe is an exact count; a peel still shrinking after `maxIter`
    * rounds fails rather than return a superset of the core.
    *
    * @return one-column DataFrame `id` of k-core members (empty when the
    *         graph has no k-core). */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 100,
      ckpt: Checkpointer = Checkpointer.Local): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxIter >= 1, "maxIter must be >= 1")
    val canon = edges.select(
        least(col(StartId), col(EndId)).as("a"),
        greatest(col(StartId), col(EndId)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    var (e, curEdges) = ckptCount(ckpt, canon)
    var prevEdges = -1L
    var i = 0
    while (curEdges != prevEdges && curEdges > 0 && i < maxIter) {
      val deg = e.select(col("a").as("id"))
        .unionAll(e.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("_d"))
      val keep = deg.filter(col("_d") >= k).select("id")
      val (kept, n) = ckptCount(ckpt, e
        .join(keep.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("id", "b"), Seq("b"), "left_semi"))
      e = kept
      prevEdges = curEdges
      curEdges = n
      i += 1
    }
    require(curEdges == prevEdges || curEdges == 0,
      s"kCore did not reach the peeling fixpoint in $maxIter rounds " +
        "(long path-like fringes peel two nodes per round) — raise " +
        "maxIter")
    e.select(col("a").as("id")).unionAll(e.select(col("b").as("id")))
      .distinct()
  }

  /** k-truss decomposition — the edge-level strengthening of [[kCore]]:
    * the maximal subgraph in which every EDGE participates in at least
    * `k − 2` triangles among surviving edges (Cohen 2008). Communities
    * found by trusses are denser and less star-polluted than k-cores (a
    * hub with many degree-1 fans survives any k-core but no 3-truss),
    * which is why truss peeling is the standard spam-subgraph and
    * cohesive-community filter.
    *
    * Iterative peeling to the unique fixpoint: count each edge's
    * triangle support on the current edge set, drop edges below k − 2,
    * repeat. Triangles are enumerated once per round in canonical
    * a < b < c orientation — edges (a,b) ⋈ (a,c) on the shared lower
    * endpoint, closed by a third join probing (b,c) — so each triangle
    * is produced exactly once and credits its three edges via one
    * unionAll + groupBy.
    *
    * Scale notes (100 TB): the edge set only SHRINKS, so per-round cost
    * is bounded by the current truss candidate. The (a,b)⋈(a,c) wedge
    * join is the classic skew point (a hub of degree d yields d² wedge
    * rows) — AQE's skew-join split handles moderate hubs, and peeling
    * itself removes fan-edges in the first rounds, collapsing hub
    * degrees exactly where wedges explode. Edge lineage is truncated
    * per round with the supplied [[graft.Checkpointer]]; the
    * convergence probe is an exact count, and a peel still shrinking
    * after `maxIter` rounds fails rather than return a superset.
    *
    * @return surviving canonical edges (`a` < `b`), the k-truss edge
    *         set (empty when none). */
  def kTruss(edges: DataFrame, k: Int, maxIter: Int = 100,
      ckpt: Checkpointer = Checkpointer.Local): DataFrame = {
    require(k >= 3, "k must be >= 3 (k-truss is defined on triangles)")
    require(maxIter >= 1, "maxIter must be >= 1")
    val canon = edges.select(
        least(col(StartId), col(EndId)).as("a"),
        greatest(col(StartId), col(EndId)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    var (e, curEdges) = ckptCount(ckpt, canon)
    var prevEdges = -1L
    var i = 0
    while (curEdges != prevEdges && curEdges > 0 && i < maxIter) {
      val e1 = e.select(col("a"), col("b"))
      val e2 = e.select(col("a"), col("b").as("c"))
      val wedges = e1.join(e2, Seq("a")).filter(col("b") < col("c"))
      val tri = wedges.join(
        e.select(col("a").as("b"), col("b").as("c")), Seq("b", "c"),
        "left_semi")
      val support = tri.select(col("a"), col("b"))
        .unionAll(tri.select(col("a"), col("c").as("b")))
        .unionAll(tri.select(col("b").as("a"), col("c").as("b")))
        .groupBy("a", "b").agg(count(lit(1)).as("_sup"))
      val (kept, n) = ckptCount(ckpt, e.join(
        support.filter(col("_sup") >= k - 2).select("a", "b"),
        Seq("a", "b"), "left_semi"))
      e = kept
      prevEdges = curEdges
      curEdges = n
      i += 1
    }
    require(curEdges == prevEdges || curEdges == 0,
      s"kTruss did not reach the peeling fixpoint in $maxIter rounds " +
        "— raise maxIter")
    e
  }

  /** Maximal independent set by Luby's algorithm (Luby 1986) with a
    * DETERMINISTIC priority — the distributed-coordination primitive
    * (conflict-free task scheduling, graph coloring seeds, landmark
    * selection). Each round, every still-active node whose priority is a
    * strict minimum among its active neighbors joins the set; it and its
    * neighbors then leave the graph. Priority is
    * [[graft.functions.PortableHash.hash48]](id, seed) — a seeded
    * content hash, not an RNG — so reruns, any partitioning, and the SQL
    * oracle all select the identical set, and changing `seed` yields a
    * different (still valid) MIS.
    *
    * Edge direction is ignored; self-loops are dropped. Nodes with no
    * surviving edge (and any extra ids in `nodes`) have no neighbors, so
    * they are selected in round 1.
    *
    * Scale notes (100 TB edge table): a round is one adjacency ⋈ active
    * equi-join + a partial-agg neighbor-min groupBy + two anti-joins —
    * never a candidate explosion; Luby terminates in O(log n) rounds in
    * expectation (each round removes a constant fraction of edges), and
    * per-round state is one row per still-active node, checkpointed.
    * Loop control reads one scalar count per round. A priority TIE
    * between neighbors (probability ≤ m/2^48) could stall a round; that
    * stall is detected and thrown, never returned as a silent non-
    * maximal set.
    *
    * @return (`id`, `mis_round` — the 1-based round the member was
    *         selected); members only. */
  def maximalIndependentSet(edges: DataFrame, seed: Long = 42L,
      maxRounds: Int = 40, nodes: Option[DataFrame] = None,
      ckpt: Checkpointer = Checkpointer.Local): DataFrame = {
    require(maxRounds >= 1, "maxRounds must be >= 1")
    val e0 = edges.select(col(StartId).as("src"), col(EndId).as("dst"))
    val sym = ckpt(e0
      .unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct())
    val endpoints = sym.select(col("src").as("id"))
    val n = nodes.fold(endpoints: DataFrame)(extra =>
      endpoints.unionAll(extra.select(col(extra.columns.head).as("id"))))
      .distinct()
    var (active, activeCount) = ckptCount(ckpt, n.select(col("id"),
      graft.functions.PortableHash.hash48(col("id"), seed).as("_p")))
    val spark = edges.sparkSession
    import spark.implicits._
    var out = spark.emptyDataset[(Long, Long)].toDF("id", "mis_round")
    var round = 1
    while (activeCount > 0) {
      if (round > maxRounds) throw new IllegalStateException(
        s"maximalIndependentSet: $activeCount nodes still undecided " +
          s"after maxRounds=$maxRounds — a neighbor priority tie " +
          "(p≈m/2^48) or too-low maxRounds; change seed or raise it")
      // min active-neighbor priority per active node (inactive srcs are
      // dropped by the left join from `active` below)
      val nbrMin = sym
        .join(active.select(col("id").as("dst"), col("_p").as("_pd")),
          Seq("dst"))
        .groupBy(col("src").as("id")).agg(min("_pd").as("_m"))
      val (selected, selCount) = ckptCount(ckpt,
        active.join(nbrMin, Seq("id"), "left")
          .filter(col("_m").isNull || col("_p") < col("_m"))
          .select("id"))
      if (selCount == 0) throw new IllegalStateException(
        s"maximalIndependentSet: round $round selected nothing with " +
          s"$activeCount nodes active — neighbor priority tie " +
          "(probability ≤ m/2^48); change seed")
      out = out.unionAll(
        selected.select(col("id"), lit(round.toLong).as("mis_round")))
      val removed = selected
        .unionAll(sym.join(selected.withColumnRenamed("id", "src"),
          Seq("src"), "left_semi").select(col("dst").as("id")))
      val (left, nLeft) = ckptCount(ckpt,
        active.join(removed.distinct(), Seq("id"), "left_anti"))
      active = left
      activeCount = nLeft
      round += 1
    }
    out
  }

  /** Community detection by synchronous label propagation (LPA): every
    * node starts labelled with its own id; each round, every node adopts
    * the most frequent label among its neighbors, ties broken toward the
    * SMALLEST label — a total order, so every round is deterministic and
    * partitioning-independent (the classic async-LPA nondeterminism is
    * traded for a fixed `iters` round count; synchronous LPA can
    * oscillate on bipartite structures, which a fixed round count also
    * resolves deterministically).
    *
    * Scale notes (100 TB): each round is ONE equi-join (labels ⋈
    * adjacency — AQE broadcasts the label side when it is small) and two
    * partial aggregates: the (node, label) count, and the argmax as
    * `min(struct(-count, label))` — both map-side combinable; neither
    * the adjacency nor any candidate set is ever quadratic. Lineage is
    * truncated per round with the supplied [[graft.Checkpointer]].
    *
    * @return (`id`, `community`) for every edge endpoint; nodes in the
    *         same converged label share a community. */
  def labelPropagation(edges: DataFrame, iters: Int = 5,
      ckpt: Checkpointer = Checkpointer.Local): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val canon = edges.select(
        least(col(StartId), col(EndId)).as("a"),
        greatest(col(StartId), col(EndId)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val adj = ckpt(canon.select(col("a").as("_src"), col("b").as("_dst"))
      .unionAll(canon.select(col("b").as("_src"), col("a").as("_dst"))))
    var labels = adj.select(col("_dst").as("id")).distinct()
      .select(col("id"), col("id").as("community"))
    for (_ <- 1 to iters) {
      val counts = adj
        .join(labels.withColumnRenamed("id", "_src"), Seq("_src"))
        .groupBy(col("_dst").as("id"), col("community"))
        .agg(count(lit(1)).as("_c"))
      labels = ckpt(counts
        .groupBy("id")
        .agg(min(struct((-col("_c")).as("_nc"), col("community")))
          .as("_w"))
        .select(col("id"), col("_w.community").as("community")))
    }
    labels
  }

  /** Per-seed BFS hop distances: for every (reachable node, seed) pair
    * within `maxHops`, the exact hop distance — the primitive under
    * sampled centrality estimators ([[harmonicCentrality]]) and
    * "distance-to-landmark" features. Unlike [[kHop]] (which collapses
    * seeds into one frontier), state is keyed `(id, seed)` so each seed's
    * distance field survives.
    *
    * Scale notes (100 TB): state is one row per (node, seed) pair — the
    * reason sampled centrality uses a BOUNDED seed set; with `s` seeds
    * the state is at most `s·|V|`, never edge-sized times seeds. Each
    * round is frontier ⋈ adjacency (AQE broadcasts the shrinking
    * frontier) plus a distinct and an anti-join, all keyed (id, seed);
    * the edge table never re-shuffles (it is checkpointed once). BFS
    * first-reach minimality makes per-round dedup exact.
    *
    * @return (`id`, `seed`, `d`) with `d = 0` for the seeds themselves;
    *         pairs farther than `maxHops` (or unreachable) are absent. */
  def seedDistances(edges: DataFrame, seeds: DataFrame, maxHops: Int,
      ckpt: Checkpointer = Checkpointer.Local,
      directed: Boolean = false): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    val fwd = edges.select(col(StartId).as("src"), col(EndId).as("dst"))
    val both = if (directed) fwd else fwd.unionAll(
      edges.select(col(EndId).as("src"), col(StartId).as("dst")))
    val adj = ckpt(both.filter(col("src") =!= col("dst")).distinct())
    var dist = ckpt(seeds.select(col(seeds.columns.head).as("id")).distinct()
      .select(col("id"), col("id").as("seed"), lit(0).as("d")))
    var frontier = dist
    var i = 0
    while (i < maxHops && !frontier.isEmpty) {
      frontier = ckpt(frontier.join(adj, frontier("id") === adj("src"))
        .select(col("dst").as("id"), col("seed"), (col("d") + 1).as("d"))
        .distinct()
        .join(dist, Seq("id", "seed"), "left_anti"))
      dist = ckpt(dist.unionAll(frontier))
      i += 1
    }
    dist
  }

  /** Harmonic centrality from a seed set: `Σ_seeds 1/d(seed, v)` over
    * seeds at finite nonzero distance — the centrality variant that is
    * well-defined on disconnected graphs (unreachable seeds contribute
    * 0, not ∞). With sampled seeds this is the standard estimator
    * (rescale by |V|/|seeds| for the exact-expectation form); `maxHops`
    * bounds the state (distant seeds contribute ≤ 1/maxHops each, so
    * truncation error is small and explicit).
    *
    * @return (`id`, `harmonic`, `n_reached`) for every node reached by
    *         at least one other seed. */
  def harmonicCentrality(edges: DataFrame, seeds: DataFrame,
      maxHops: Int = 10, ckpt: Checkpointer = Checkpointer.Local,
      directed: Boolean = false): DataFrame =
    seedDistances(edges, seeds, maxHops, ckpt, directed)
      .filter(col("d") > 0)
      .groupBy("id")
      .agg(sum(lit(1.0) / col("d")).as("harmonic"),
        count(lit(1)).as("n_reached"))

  /** Degree assortativity: the Pearson correlation of endpoint degrees
    * over the undirected edge list — do hubs attach to hubs (> 0, social
    * graphs) or to leaves (< 0, hub-and-spoke / star topologies)? The
    * one-number structure diagnostic that tells you whether hub-capping
    * (e.g. [[linkPrediction]]'s `maxHubDegree`) will bite.
    *
    * Computed from exact integer moments (each edge contributes both
    * orientations, the standard symmetrization): one degree groupBy, one
    * broadcast-degree join back, one 1-row aggregate — the corpus of
    * edges never shuffles twice. Returns one row (`r`, `n_edges`,
    * `n_nodes`); `r` is null for degree-regular graphs (zero variance).
    */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val canon = edges.select(
        least(col(StartId), col(EndId)).as("a"),
        greatest(col(StartId), col(EndId)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val nbr = canon.select(col("a").as("u"), col("b").as("v"))
      .unionAll(canon.select(col("b").as("u"), col("a").as("v")))
    val deg = nbr.groupBy(col("u").as("id")).agg(count(lit(1)).as("d"))
    val pairs = nbr
      .join(deg.withColumnsRenamed(Map("id" -> "u", "d" -> "du")), Seq("u"))
      .join(deg.withColumnsRenamed(Map("id" -> "v", "d" -> "dv")), Seq("v"))
    // Moment sums in decimal(38,0), not long: a single du*dv product fits
    // a long (degrees are bounded by |V|), but the SUM over edges wraps
    // silently in non-ANSI mode once hub degrees reach ~1e9 at 100 TB
    // scale. The Pearson formula then runs in double over the exact sums
    // (values < 2^53 at any plausible scale once divided out).
    val dec = "decimal(38,0)"
    val m = pairs.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("du").cast(dec)).cast("double").as("sx"),
      sum(col("dv").cast(dec)).cast("double").as("sy"),
      sum((col("du") * col("dv")).cast(dec)).cast("double").as("sxy"),
      sum((col("du") * col("du")).cast(dec)).cast("double").as("sxx"),
      sum((col("dv") * col("dv")).cast(dec)).cast("double").as("syy"))
    val denom =
      sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
        (col("n") * col("syy") - col("sy") * col("sy")))
    m.select(
      when(denom === 0.0, lit(null).cast("double"))
        .otherwise((col("n") * col("sxy") - col("sx") * col("sy")) / denom)
        .as("r"),
      (col("n") / 2).cast("long").as("n_edges"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"))))
      .select(col("r"), col("n_edges"), col("n_nodes"))
  }

  /** Per-seed eccentricity (bounded): the farthest BFS distance each
    * seed observes within `maxHops`, plus how many nodes it reached —
    * the sampled diameter/radius estimator (true eccentricity when the
    * BFS exhausts inside the cap, a lower bound otherwise; max over
    * seeds lower-bounds the graph diameter). One groupBy over the
    * [[seedDistances]] state. */
  def eccentricity(edges: DataFrame, seeds: DataFrame,
      maxHops: Int = 10, ckpt: Checkpointer = Checkpointer.Local,
      directed: Boolean = false): DataFrame =
    seedDistances(edges, seeds, maxHops, ckpt, directed)
      .groupBy("seed")
      .agg(max(col("d")).cast("long").as("eccentricity"),
        count(when(col("d") > 0, 1)).as("n_reached"))

  /** Closeness centrality over the same sampled-seed BFS as
    * [[harmonicCentrality]]: for each node, `n_reached / Σ d` over the
    * seeds it reaches within `maxHops` (0 seeds reached → node absent —
    * closeness of an isolated node is undefined, not 0). Unlike the
    * harmonic form this is the classic Bavelas measure; the harmonic
    * form is preferred on disconnected graphs, both are offered. Same
    * scale shape: state bounded by |seeds|·|V|, one groupBy at the end;
    * the division is a single correctly-rounded double op, so results
    * reproduce bit-for-bit on any engine. */
  def closenessCentrality(edges: DataFrame, seeds: DataFrame,
      maxHops: Int = 10, ckpt: Checkpointer = Checkpointer.Local,
      directed: Boolean = false): DataFrame =
    seedDistances(edges, seeds, maxHops, ckpt, directed)
      .filter(col("d") > 0)
      .groupBy("id")
      .agg(sum(col("d")).cast("long").as("sum_dist"),
        count(lit(1)).as("n_reached"))
      .withColumn("closeness",
        col("n_reached").cast("double") / col("sum_dist"))

  /** Sampled betweenness centrality (truncated Brandes): how often each
    * node sits INSIDE the shortest paths from the sampled seeds — the
    * broker/bottleneck measure the degree/closeness family can't see.
    * For every seed, a layered BFS carries σ (shortest-path counts,
    * exact integers); the backward sweep accumulates dependencies
    * δ(v) = Σ_{w ∈ next layer, v→w} σ(v)/σ(w) · (1 + δ(w)), and
    * betweenness(v) = Σ_seeds δ_s(v) over non-seed v (rescale by
    * |V|/|seeds| for the expectation form; `maxHops` truncation is the
    * standard k-bounded variant).
    *
    * Scale notes (100 TB): identical state discipline to
    * [[seedDistances]] — per-round state is (node, seed) rows, never
    * edge-sized × seeds; forward and backward are each ≤ `maxHops`
    * rounds of one frontier⋈adjacency join + one partial-agg groupBy
    * (AQE broadcasts the layer side); the adjacency is checkpointed
    * once. σ sums are exact longs; only δ is floating.
    *
    * @return (`id`, `betweenness`, `n_seeds` — seeds whose BFS reached
    *         the node at d ≥ 1); every reached non-seed node gets a row
    *         (0.0 when never interior to a path). */
  def betweennessCentrality(edges: DataFrame, seeds: DataFrame,
      maxHops: Int = 6, ckpt: Checkpointer = Checkpointer.Local,
      directed: Boolean = false): DataFrame = {
    require(maxHops >= 1, "maxHops must be >= 1")
    val fwd = edges.select(col(StartId).as("src"), col(EndId).as("dst"))
    val both = if (directed) fwd else fwd.unionAll(
      edges.select(col(EndId).as("src"), col(StartId).as("dst")))
    val adj = ckpt(both.filter(col("src") =!= col("dst")).distinct())
    val seed0 = ckpt(seeds.select(col(seeds.columns.head).as("id")).distinct()
      .select(col("id"), col("id").as("seed"), lit(1L).as("sigma")))
    val layers = scala.collection.mutable.ArrayBuffer(seed0)
    var reached = seed0.select("id", "seed")
    var continue = true
    var i = 0
    while (continue && i < maxHops) {
      val cur = layers.last
      val nxt = ckpt(cur.join(adj, cur("id") === adj("src"))
        .select(col("dst").as("id"), col("seed"), col("sigma"))
        .join(reached, Seq("id", "seed"), "left_anti")
        .groupBy("id", "seed").agg(sum(col("sigma")).as("sigma")))
      if (nxt.isEmpty) continue = false
      else {
        layers += nxt
        reached = ckpt(reached.unionByName(nxt.select("id", "seed")))
        i += 1
      }
    }
    val dMax = layers.length - 1
    // backward dependency sweep: δ of the deepest layer is 0; each
    // shallower layer pulls from its successors' (σ, δ)
    var deltaNext = layers(dMax).select(col("id"), col("seed"),
      lit(0.0).as("delta"))
    val contribs = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var d = dMax - 1
    while (d >= 1) {
      val wSide = layers(d + 1)
        .join(deltaNext, Seq("id", "seed"), "left")
        .select(col("id").as("_wid"), col("seed").as("_wseed"),
          col("sigma").as("_wsigma"),
          coalesce(col("delta"), lit(0.0)).as("_wdelta"))
      val v = layers(d)
      val dNew = ckpt(v.join(adj, v("id") === adj("src"))
        .join(wSide, col("dst") === col("_wid") &&
          v("seed") === col("_wseed"))
        .groupBy(v("id").as("id"), v("seed").as("seed"))
        .agg(sum(col("sigma").cast("double") / col("_wsigma") *
          (lit(1.0) + col("_wdelta"))).as("delta")))
      if (d >= 1) contribs += dNew
      deltaNext = dNew
      d -= 1
    }
    // every reached non-seed node gets a row, 0.0 when never interior
    val base = reached.join(seed0.select(col("id"), col("seed")),
        Seq("id", "seed"), "left_anti")
      .select(col("id"), col("seed"), lit(0.0).as("delta"))
    (base +: contribs.toSeq).reduce(_ unionByName _)
      .groupBy("id", "seed").agg(sum(col("delta")).as("delta"))
      .groupBy("id")
      .agg(sum(col("delta")).as("betweenness"),
        count(lit(1)).as("n_seeds"))
  }

  /** Common-neighbor link prediction over an UNDIRECTED graph (direction
    * ignored, parallel edges and self-loops dropped): for every
    * NON-ADJACENT pair sharing at least `minCommon` neighbors, the
    * common-neighbor count and the Adamic–Adar score Σ_z 1/ln(deg(z)) —
    * the "people you may know" / related-items primitive, the second
    * most common post-import graph ask after PageRank.
    *
    * Scale notes (100 TB edge table): pair candidates are generated per
    * common neighbor z (a neighbor-list self-join on z), so the volume is
    * Σ deg(z)² — a celebrity hub explodes it. `maxHubDegree` drops
    * neighbor lists of nodes above the cap BEFORE the join (standard
    * practice: a 10⁶-degree hub contributes 1/ln(10⁶) ≈ 0.07 per pair —
    * noise — at 10¹² wedge cost). The existing-edge exclusion is one
    * anti-join on the canonical edge list.
    *
    * @return (`id_a`, `id_b`, `common`, `adamic_adar`), id_a < id_b. */
  def linkPrediction(edges: DataFrame, minCommon: Int = 1,
      maxHubDegree: Option[Int] = None): DataFrame = {
    require(minCommon >= 1, "minCommon must be >= 1")
    val canon = edges.select(
        least(col(StartId), col(EndId)).as("a"),
        greatest(col(StartId), col(EndId)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val nbr = canon.select(col("a").as("z"), col("b").as("n"))
      .unionAll(canon.select(col("b").as("z"), col("a").as("n")))
    val deg = nbr.groupBy("z").agg(count(lit(1)).as("_d"))
    val degKept = maxHubDegree.fold(deg)(cap => deg.filter(col("_d") <= cap))
    // one degree join BEFORE the self-join does double duty: the hub cap
    // prunes neighbor lists so a hub's deg² wedges are never generated,
    // and each wedge row already carries its z's degree — no second join
    // against the (much larger) expanded wedge table
    val nbrD = nbr.join(degKept, Seq("z"))
    val x = nbrD.alias("x")
    val y = nbrD.alias("y")
    // wedge u–z–v (u < v): every common neighbor z contributes one row
    val scores = x.join(y, col("x.z") === col("y.z") &&
        col("x.n") < col("y.n"))
      .select(col("x.n").as("id_a"), col("y.n").as("id_b"),
        col("x._d").as("_d"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("common"),
        sum(lit(1.0) / log(col("_d"))).as("adamic_adar"))
      .filter(col("common") >= minCommon)
    // keep non-adjacent pairs only — predicting links that already exist
    // is vacuous
    scores.join(canon,
        scores("id_a") === canon("a") && scores("id_b") === canon("b"),
        "left_anti")
  }

  /** Nodes reachable from `seeds` in EXACTLY 1..`hops` directed steps,
    * with the minimum hop count at which each node is first reached —
    * BFS as iterated joins. Seed nodes themselves are emitted with hop 0.
    *
    * @param seeds one-column DataFrame of starting node ids (column name
    *              irrelevant; first column is used).
    */
  def kHop(edges: DataFrame, seeds: DataFrame, hops: Int,
      ckpt: Checkpointer = Checkpointer.Local): DataFrame = {
    require(hops >= 0, "hops must be >= 0")
    val e = edges.select(col(StartId), col(EndId))
    var reached = ckpt(
      seeds.select(col(seeds.columns.head).as("id")).distinct()
        .withColumn("hop", lit(0)))
    var frontier = reached
    var h = 1
    while (h <= hops && !frontier.isEmpty) {
      // expand the PREVIOUS frontier only, then keep first-reach rows
      val next = ckpt(frontier.join(e, frontier("id") === e(StartId))
        .select(col(EndId).as("id")).distinct()
        .join(reached.select("id"), Seq("id"), "left_anti")
        .withColumn("hop", lit(h)))
      reached = ckpt(reached.unionByName(next))
      frontier = next
      h += 1
    }
    reached
  }

  /** DETERMINISTIC random walks (the DeepWalk/node2vec corpus-generation
    * primitive, p = q = 1): one walk per seed, `walkLength` steps, where
    * the step from node u at time t follows the out-neighbor ranked
    * `H(seed, walk_id, t, u) mod outdeg(u)` — a seeded content hash
    * ([[graft.functions.PortableHash.hash48]]), NOT an RNG, so the same
    * inputs give the same walks on any cluster layout, reruns are
    * reproducible, and the whole trajectory set is ANSI-SQL-rebuildable
    * (the `q_g17_random_walks` oracle unrolls the steps). Walks stop
    * early at sink nodes (no out-edges) — symmetrize the edge table for
    * node2vec-style undirected corpora.
    *
    * Scale notes (100 TB): the adjacency ranks/degrees are ONE window
    * pass over the deduplicated edge table (rank and degree share the
    * same partition — one shuffle), checkpointed once and re-joined each
    * step; per-step state is exactly one row per live walk, so each round
    * is a walk-set ⋈ edges equi-join that AQE broadcast-sizes. Step
    * count is the bound, never |V|.
    *
    * @return (`walk_id` = seed id, `step` 0-based, `node`) — step 0 is
    *         the seed itself. */
  def randomWalks(edges: DataFrame, seeds: DataFrame, walkLength: Int,
      seed: Long = 42L,
      ckpt: Checkpointer = Checkpointer.Local): DataFrame = {
    require(walkLength >= 1, "walkLength must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val bySrc = Window.partitionBy(col("src")).orderBy(col("dst"))
    val adj = ckpt(edges.select(col(StartId).as("src"), col(EndId).as("dst"))
      .distinct()
      .withColumn("_r", (row_number().over(bySrc) - 1).cast("long"))
      .withColumn("_deg",
        count(lit(1)).over(Window.partitionBy(col("src"))).cast("long")))
    var cur = ckpt(seeds.select(col(seeds.columns.head).as("walk_id"))
      .distinct()
      .select(col("walk_id"), col("walk_id").as("node")))
    var out = cur.withColumn("step", lit(0L))
    for (t <- 1 to walkLength) {
      val choice = graft.functions.PortableHash.hash48(
        concat_ws(":", col("walk_id"), lit(t), col("node")), seed)
      cur = ckpt(cur.join(adj, cur("node") === adj("src"))
        .filter(col("_r") === pmod(choice, col("_deg")))
        .select(col("walk_id"), col("dst").as("node")))
      out = out.unionByName(cur.withColumn("step", lit(t.toLong)))
    }
    out
  }

  /** SECOND-ORDER biased walks (node2vec, Grover & Leskovec 2016): the
    * step from node u, having arrived from s, weights each out-neighbor
    * x by its relation to s —
    *
    *   `returnWeight`   x = s            (node2vec's 1/p)
    *   `commonWeight`   s→x edge exists  (distance 1 from s)
    *   `exploreWeight`  otherwise        (node2vec's 1/q)
    *
    * Weights are INTEGERS (the (1/p, 1, 1/q) triple up to scale — any
    * positive rationals reduce to this), so the choice is exact
    * cumulative-range arithmetic: neighbor ranges ordered by dst, pick =
    * H(seed, walk, t, u) mod Σweights ([[graft.functions.PortableHash]]
    * — content hash, not RNG). Same determinism story as
    * [[randomWalks]]: rerun-, partitioning-, and oracle-reproducible.
    * Step 1 has s = the seed itself, so every neighbor scores
    * `commonWeight` (≡ uniform — node2vec's uniform first step). Walks
    * stop at sinks; symmetrize the edges for undirected corpora.
    *
    * Scale notes (100 TB): per step, candidates = one walk-set ⋈ edges
    * equi-join (Σ outdeg of live-walk nodes rows, never |V|²); the
    * s-adjacency test is a second equi-join against the same edge table
    * on (prev, dst) — no neighbor-set materialization per node; the
    * cumulative ranges are one per-walk window over each node's
    * neighbors. State per step is one row per live walk, checkpointed.
    *
    * @return (`walk_id` = seed id, `step` 0-based, `node`). */
  def biasedRandomWalks(edges: DataFrame, seeds: DataFrame,
      walkLength: Int, returnWeight: Long = 1L, commonWeight: Long = 4L,
      exploreWeight: Long = 2L, seed: Long = 42L,
      ckpt: Checkpointer = Checkpointer.Local): DataFrame = {
    require(walkLength >= 1, "walkLength must be >= 1")
    require(returnWeight > 0 && commonWeight > 0 && exploreWeight > 0,
      "all three weights must be positive")
    import org.apache.spark.sql.expressions.Window
    val e = ckpt(edges.select(col(StartId).as("src"), col(EndId).as("dst"))
      .filter(col(StartId) =!= col(EndId)).distinct())
    var cur = ckpt(seeds.select(col(seeds.columns.head).as("walk_id"))
      .distinct()
      .select(col("walk_id"), col("walk_id").as("node"),
        col("walk_id").as("prev")))
    var out = cur.select(col("walk_id"), col("node"))
      .withColumn("step", lit(0L))
    val byWalk = Window.partitionBy(col("walk_id"))
    for (t <- 1 to walkLength) {
      val cand = cur.join(e, cur("node") === e("src"))
        .select(col("walk_id"), col("node"), col("prev"), col("dst"))
      val marked = cand
        .join(e.select(col("src").as("prev"), col("dst"),
          lit(1).as("_adj")), Seq("prev", "dst"), "left")
        .select(col("walk_id"), col("node"), col("prev"), col("dst"),
          when(col("dst") === col("prev"), lit(returnWeight))
            .when(col("_adj").isNotNull, lit(commonWeight))
            .otherwise(lit(exploreWeight)).as("_w"))
      val ranged = marked
        .withColumn("_cum", sum("_w").over(byWalk.orderBy(col("dst"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("_tot", sum("_w").over(byWalk))
      val pick = pmod(graft.functions.PortableHash.hash48(
        concat_ws(":", col("walk_id"), lit(t), col("node")), seed),
        col("_tot"))
      cur = ckpt(ranged
        .filter(pick >= col("_cum") - col("_w") && pick < col("_cum"))
        .select(col("walk_id"), col("dst").as("node"),
          col("node").as("prev")))
      out = out.unionByName(cur.select(col("walk_id"), col("node"))
        .withColumn("step", lit(t.toLong)))
    }
    out
  }

  /** Multi-source WEIGHTED shortest paths — Bellman-Ford as iterated
    * min-distance relaxation over the edge table (the join shape [[kHop]]
    * uses, carrying a distance instead of a hop count). The canonical
    * post-import Cypher workload the reference defers to Neo4j
    * (`graph_db_builder.py:126-128`), in-engine.
    *
    * Each round relaxes EVERY edge: dist'(v) = min(dist(v), min over u→v
    * of dist(u) + w(u,v)), starting from dist = 0 on the seeds, until a
    * fixpoint (distances and the reachable set both stop changing) or
    * `maxIter`. Unreachable nodes are absent from the output (no
    * infinities). With `weightCol = None` every edge costs 1 and the
    * result is BFS hop distance as a double.
    *
    * Scale notes (100 TB edge table): each iteration is one equi-join of
    * the distance vector (≤ |V| rows) against the edges plus a
    * partial-aggregated min-groupBy on the destination — the same
    * AQE-broadcasts-the-small-side shape as [[pageRank]], so the edge
    * table never re-shuffles. Rounds are bounded by the weighted-path hop
    * diameter, not |V|; the fixpoint probe is a 2-scalar aggregate.
    * Distances only ever decrease and each is a min over exact per-path
    * sums, so the fixpoint (count, sum) compare is exact, not
    * tolerance-based.
    *
    * Negative edge weights relax correctly (Bellman-Ford), but a
    * reachable negative cycle never converges — `maxIter` then bounds the
    * work and the result is the best distance found within that many
    * hops.
    *
    * Paths are reconstructable: `via` is the predecessor on a shortest
    * path — set in the earliest round that achieves the node's final
    * distance, smallest qualifying predecessor id on within-round ties,
    * and never replaced by later equal-cost candidates (strict-
    * improvement updates keep the pointer graph acyclic). Deterministic
    * on any cluster; seeds point at themselves. Walking `via` backwards
    * from any node therefore terminates at a seed (absent an unconverged
    * negative cycle), without storing per-node path arrays (which would
    * be quadratic on long paths).
    *
    * @param seeds one-column DataFrame of source node ids.
    * @return (`id`, `dist`, `via`) for every node reachable from any
    *         seed; seeds themselves at distance 0 with `via = id`. */
  def shortestPaths(edges: DataFrame, seeds: DataFrame,
      weightCol: Option[String] = None, maxIter: Int = 50,
      ckpt: Checkpointer = Checkpointer.Local): DataFrame = {
    require(maxIter >= 1, "maxIter must be >= 1")
    val w = weightCol.map(c => col(c).cast("double")).getOrElse(lit(1.0))
    val e = ckpt(edges.select(col(StartId).as("src"), col(EndId).as("dst"),
      w.as("_w")))
    var dist = ckpt(seeds.select(col(seeds.columns.head).as("id")).distinct()
      .select(col("id"), lit(0.0).as("dist"), col("id").as("via")))
    var prev = Option.empty[(Long, Any)]
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // min over struct(dist, via): lexicographic, so the winner is the
      // minimum distance with the smallest predecessor breaking ties
      val relaxed = dist.join(e, dist("id") === e("src"))
        .groupBy(col("dst").as("id"))
        .agg(min(struct((col("dist") + col("_w")).as("dist"),
          col("src").as("via"))).as("_c"))
      // full outer: newly reached nodes enter, settled nodes keep their
      // distance; nothing ever stores an infinity. The current best must
      // be NULL (not a struct of nulls — that compares non-null) when the
      // row only exists on the relaxed side. The predecessor updates ONLY
      // on a STRICT distance improvement — an equal-distance candidate
      // from a later round must not replace it, or two equal-cost nodes
      // can end up as each other's `via` (a reconstruction cycle, the
      // classic Bellman-Ford predecessor pitfall with zero/negative
      // edges). Strict improvement keeps the via graph acyclic: every
      // pointer was set when its target already held a strictly smaller
      // final distance.
      val curBest = when(col("dist").isNotNull,
        struct(col("dist"), col("via")))
      // distances only decrease and the node set only grows, so an
      // unchanged (count, sum) is a fixpoint — observed on the round's
      // own checkpoint, no probe query (SCALE.md "Iteration and fault
      // tolerance")
      val (relaxedDist, probe) = ckpt.observed(
        dist.join(relaxed, Seq("id"), "full_outer")
          .select(col("id"),
            when(curBest.isNull, col("_c"))
              .when(col("_c").isNull, curBest)
              .when(col("_c.dist") < col("dist"), col("_c"))
              .otherwise(curBest).as("_b"))
          .select(col("id"), col("_b.dist").as("dist"),
            col("_b.via").as("via")),
        count(lit(1)), sum(col("dist")))
      dist = relaxedDist
      val cur = (probe.getLong(0), probe.get(1))
      converged = prev.contains(cur)
      prev = Some(cur)
      i += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"shortestPaths stopped at maxIter=$maxIter without reaching a " +
          "fixpoint — distances beyond that relaxation depth are upper " +
          "bounds, not shortest. Raise maxIter (weighted hop diameter), " +
          "or check for a reachable negative cycle.")
    dist
  }

  /** Newman modularity of a node partition: per community `c`,
    * `q_c = m_c/m − (d_c/(2m))²` where `m_c` counts intra-community
    * edges, `d_c` sums member degrees, and `m` is the undirected edge
    * count; the partition's modularity `Q = Σ q_c`. The quality score
    * for [[labelPropagation]] / [[connectedComponents]] output — "are
    * these communities denser than a degree-preserving random rewiring
    * would make them?" (Q ≈ 0 random, 0.3+ strong structure).
    *
    * All moments (`m_c`, `d_c`, `m`, community sizes) are exact integer
    * aggregates; `q_c` is the only floating step, two divisions per
    * community at the very end. Nodes absent from `communities` are
    * excluded (inner join) — pass a total labeling for whole-graph Q.
    *
    * Scale notes (100 TB): two groupBys over the canonicalized edge
    * list (degree, intra-edge count) plus one membership join; the
    * 1-row global `m` broadcasts via crossJoin exactly like
    * [[degreeAssortativity]]'s moment row. Degree sums accumulate in
    * decimal(38,0) — `d_c` is bounded by 2m, but non-ANSI long sums
    * wrap silently and this is the op that runs right after a
    * trillion-edge community detection.
    *
    * @return one row per community: (`community`, `n_nodes`, `m_in`,
    *         `d_tot`, `q_c`) */
  def modularity(edges: DataFrame, communities: DataFrame,
      idCol: String = "id", commCol: String = "community"): DataFrame = {
    val canon = edges.select(
        least(col(StartId), col(EndId)).as("a"),
        greatest(col(StartId), col(EndId)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val comm = communities.select(col(idCol).as("_cid"),
      col(commCol).as("_comm"))
    val labeled = canon
      .join(comm.withColumnsRenamed(Map("_cid" -> "a", "_comm" -> "_ca")),
        Seq("a"))
      .join(comm.withColumnsRenamed(Map("_cid" -> "b", "_comm" -> "_cb")),
        Seq("b"))
    val mRow = canon.agg(count(lit(1)).as("_m"))
    val inEdges = labeled.filter(col("_ca") === col("_cb"))
      .groupBy(col("_ca").as(commCol)).agg(count(lit(1)).as("m_in"))
    val deg = canon.select(col("a").as("id"))
      .unionAll(canon.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("_d"))
    val dTot = deg
      .join(comm.withColumnRenamed("_cid", "id"), Seq("id"))
      .groupBy(col("_comm").as(commCol))
      .agg(count(lit(1)).as("n_nodes"),
        sum(col("_d").cast("decimal(38,0)")).cast("long").as("d_tot"))
    val twoM = lit(2.0) * col("_m").cast("double")
    dTot.join(inEdges, Seq(commCol), "left")
      .na.fill(0L, Seq("m_in"))
      .crossJoin(broadcast(mRow))
      .select(col(commCol), col("n_nodes"), col("m_in"), col("d_tot"),
        (col("m_in").cast("double") / col("_m").cast("double") -
          (col("d_tot").cast("double") / twoM) *
          (col("d_tot").cast("double") / twoM)).as("q_c"))
  }

  /** Modularity-greedy community detection (the Louvain local-move
    * phase): every node starts in its own community; each round, every
    * gated node moves to the neighbor community with the best modularity
    * gain. The gain comparison is EXACT integer arithmetic — moving `i`
    * to community `c` beats moving it to `c'` iff
    * `2m·k_{i→c} − k_i·Σ_c > 2m·k_{i→c'} − k_i·Σ_c'` (the common
    * `ΔQ` terms cancel), with `Σ_c` the community's total degree after
    * removing `i`, all in decimal(38,0) — so the partition is
    * rerun-identical and oracle-rebuildable, no floating point until
    * [[modularity]] scores the result. Staying put is itself a candidate
    * (score of the current community with `i` removed), ties break
    * toward the SMALLEST community id — a total order.
    *
    * Synchronous moves can oscillate (two adjacent nodes swapping
    * communities forever), so each round only HALF the nodes may move:
    * node `i` is gated on `(md5₄₈("seed:i") + round) % 2 == 0` — the
    * same engine-portable [[graft.functions.PortableHash]] priority as
    * the G19 MIS tier, so rounds unroll in plain SQL and every engine
    * replays the identical move sequence. Self-loops (present after
    * [[louvainCoarsen]]) ride along with their node: they add to `m` and
    * contribute 2w to the node's degree, but never to `k_{i→c}`, so they
    * shift every candidate's score equally and cannot distort a move.
    *
    * Scale notes (100 TB): each round is one labels ⋈ adjacency join
    * plus three map-side-combinable aggregates — `k_{i→c}` (edge-keyed),
    * `Σ_c` (node-keyed), and the per-node argmax `min(struct(-score,
    * community))`; the 1-row `m` folds in as a broadcast crossJoin
    * ([[modularity]]'s idiom). Nothing is ever quadratic in nodes and
    * the adjacency is checkpointed once. Lineage truncates per round via
    * `ckpt`.
    *
    * @param edges      (`start_id`, `end_id`) [+ `weightCol`]; direction
    *                   ignored, parallel edges' weights sum, self-loops
    *                   allowed (coarsened input)
    * @param rounds     fixed synchronous move rounds (each node is gated
    *                   in every other round, so `rounds = 4` gives every
    *                   node two move opportunities)
    * @param weightCol  optional integer edge-weight column (defaults to
    *                   weight 1 — the level-0 simple graph)
    * @return (`id`, `community`) for every edge endpoint */
  def louvain(edges: DataFrame, rounds: Int = 4, seed: Long = 42L,
      weightCol: Option[String] = None,
      ckpt: Checkpointer = Checkpointer.Local,
      schedule: String = "",
      initLabels: Option[DataFrame] = None): DataFrame = {
    // 'u' rounds let EVERY node move (fast coalescing, but adjacent
    // nodes can swap); 'g' rounds gate on md5-48 parity (slower,
    // oscillation-free). Empirically "ugug" reaches the same Q as
    // twice as many all-gated rounds (SCALE.md louvain note). The
    // plain `rounds` form is all-gated.
    val sched =
      if (schedule.nonEmpty) schedule else "g" * rounds
    require(sched.nonEmpty && sched.forall(c => c == 'u' || c == 'g'),
      s"schedule must be nonempty over {u, g}, got '$sched'")
    val dec = "decimal(38,0)"
    // Unweighted input is a SIMPLE graph (parallel edges collapse, the
    // [[labelPropagation]]/[[modularity]] convention); with `weightCol`
    // parallel edges' weights sum — the coarsened-graph semantics.
    // canon materializes ONCE: pairs/selfs/deg/m all derive from it,
    // and m folds into EVERY round — an unmaterialized canon would
    // re-execute the upstream graph build per round (measured 16×
    // at sf0.1 before this ckpt).
    val canon = ckpt(weightCol match {
      case Some(wc) => edges.select(
          least(col(StartId), col(EndId)).as("a"),
          greatest(col(StartId), col(EndId)).as("b"),
          col(wc).cast(dec).as("_w"))
        .groupBy("a", "b").agg(sum("_w").as("_w"))
      case None => edges.select(
          least(col(StartId), col(EndId)).as("a"),
          greatest(col(StartId), col(EndId)).as("b"))
        .distinct()
        .select(col("a"), col("b"), lit(1).cast(dec).as("_w"))
    })
    val pairs = canon.filter(col("a") =!= col("b"))
    val selfs = canon.filter(col("a") === col("b"))
      .select(col("a").as("id"), col("_w"))
    // adj derives narrowly from the materialized canon (two projected
    // passes per use) — cheaper than a second edge-sized
    // materialization at these stage counts.
    val adj = pairs.select(col("a").as("_src"), col("b").as("_dst"),
        col("_w"))
      .unionAll(pairs.select(col("b").as("_src"), col("a").as("_dst"),
        col("_w")))
    // degree: incident pair weights + 2× self-loop weight (the
    // convention under which louvainCoarsen preserves Q exactly).
    // Labels CARRY the degree so rounds never re-join it.
    val deg = adj.select(col("_src").as("id"), col("_w"))
      .unionAll(selfs.select(col("id"), (col("_w") * 2).as("_w")))
      .groupBy("id").agg(sum("_w").as("_k"))
    // 2m (total edge weight) folds into every round's score. It used
    // to ride as a checkpointed 1-row frame re-broadcast by a
    // crossJoin in EVERY round (one broadcast-exchange build job per
    // round, pure overhead at any scale — the value is a constant of
    // the invocation). One bounded driver fetch (a single decimal
    // cell, the localize discipline) makes it a LITERAL: same eager
    // job the checkpoint already paid, zero per-round jobs, and the
    // score projection loses a join operator. Cast back to the
    // aggregate's exact decimal(38,0) so every downstream arithmetic
    // type — and therefore every rounded result — is unchanged.
    val mLit = lit(canon.agg(sum("_w").as("_m")).head().getDecimal(0))
      .cast(dec)
    // Default seed: every node its own community. `initLabels` starts
    // the moves from a caller-supplied partition instead — the Leiden
    // aggregated-phase seed, where each supernode begins in the
    // community its parts came from rather than alone.
    var labels = ckpt(initLabels match {
      case Some(init) => deg
        .join(init.select(col("id"), col("community").as("_ic")),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("_ic"), col("id")).as("community"),
          col("_k"))
      case None => deg.select(col("id"), col("id").as("community"),
        col("_k"))
    })
    for (round <- 0 until sched.length) {
      val isGated = sched.charAt(round) == 'g'
      // In a gated round only the parity half can move — filter FIRST
      // so the edge join, scoring, and argmax all run on half the
      // data; the ungated half passes through via the final union.
      def gate(c: org.apache.spark.sql.Column) =
        if (!isGated) lit(true)
        else pmod(graft.functions.PortableHash.hash48(c, seed) +
          lit(round.toLong), lit(2L)) === 0
      val gated = if (isGated) labels.filter(gate(col("id"))) else labels
      // Σ_c: total degree per community (over ALL members; the score
      // subtracts k_i when c is i's own community).
      val tot = labels.groupBy("community").agg(sum("_k").as("_tot"))
      // k_{i→c} for gated nodes: incoming weight per neighbor
      // community, with a zero-weight stay row unioned BEFORE the one
      // aggregation so staying always competes (isolated-in-community
      // nodes have no kin row for their own label).
      val gatedAdj =
        if (isGated) adj.filter(gate(col("_dst"))) else adj
      val cand = gatedAdj
        .join(labels.select(col("id").as("_src"), col("community")),
          Seq("_src"))
        .select(col("_dst").as("id"), col("community"), col("_w"))
        .unionAll(gated.select(col("id"), col("community"),
          lit(0).cast(dec).as("_w")))
        .groupBy("id", "community").agg(sum("_w").as("_kic"))
      // Join ORDER matters for the exchange count when tot is too big
      // to broadcast (100 TB): community-keyed join FIRST, id-keyed
      // join LAST, so the final groupBy("id") reuses the id exchange
      // the gated join just established instead of re-shuffling the
      // candidate table a third time (§2.4 shared-exchange discipline;
      // inner equi-joins commute, result unchanged).
      val scored = cand
        .join(tot, Seq("community"))
        .join(gated.select(col("id"), col("community").as("_cur"),
          col("_k")), Seq("id"))
        .select(col("id"), col("community"), col("_k"),
          (mLit * 2 * col("_kic") - col("_k") *
            (col("_tot") - when(col("community") === col("_cur"),
              col("_k")).otherwise(lit(0).cast(dec)))).as("_s"))
      val best = scored.groupBy("id")
        .agg(min(struct((-col("_s")).as("_ns"), col("community")))
          .as("_b"), max("_k").as("_k"))
        .select(col("id"), col("_b.community").as("community"),
          col("_k"))
      labels = ckpt(
        if (isGated) best.unionAll(labels.filter(!gate(col("id"))))
        else best)
    }
    labels.select(col("id"), col("community"))
  }

  /** Community contraction (the Louvain coarsening phase): collapse a
    * labeled graph into its community supergraph — one node per
    * community, inter-community edge weights summed, intra-community
    * weight (internal pair edges + member self-loops) folded into a
    * self-loop per supernode. Under [[louvain]]'s degree convention
    * (self-loop counts twice) the coarse graph has the SAME modularity
    * landscape as the fine one, so `louvain(coarsen(...))` is the
    * classic multi-level pass; join the returned labels back through
    * the fine labels to project communities down.
    *
    * Scale notes (100 TB): two membership equi-joins (labels broadcast
    * when small, shuffle-hash otherwise) and one groupBy on the
    * re-keyed edge list — strictly cheaper than any [[louvain]] round
    * on the same input.
    *
    * @return (`start_id`, `end_id`, `weight`) with
    *         `start_id <= end_id`; self-loops carry intra weight */
  def louvainCoarsen(edges: DataFrame, labels: DataFrame,
      weightCol: Option[String] = None): DataFrame = {
    val dec = "decimal(38,0)"
    // Same input convention as [[louvain]]: unweighted = simple graph.
    val canon = weightCol match {
      case Some(wc) => edges.select(
          least(col(StartId), col(EndId)).as("a"),
          greatest(col(StartId), col(EndId)).as("b"),
          col(wc).cast(dec).as("_w"))
      case None => edges.select(
          least(col(StartId), col(EndId)).as("a"),
          greatest(col(StartId), col(EndId)).as("b"))
        .distinct()
        .select(col("a"), col("b"), lit(1).cast(dec).as("_w"))
    }
    val comm = labels.select(col("id"), col("community"))
    canon
      .join(comm.withColumnsRenamed(
        Map("id" -> "a", "community" -> "_ca")), Seq("a"))
      .join(comm.withColumnsRenamed(
        Map("id" -> "b", "community" -> "_cb")), Seq("b"))
      .select(least(col("_ca"), col("_cb")).as(StartId),
        greatest(col("_ca"), col("_cb")).as(EndId), col("_w"))
      .groupBy(StartId, EndId).agg(sum("_w").as("weight"))
  }

  /** The classic two-phase Louvain: [[louvain]] local moves on the
    * input graph, [[louvainCoarsen]] into the community supergraph,
    * weighted local moves there, then labels projected back down — the
    * coarse phase merges whole communities, which single-level gated
    * moves reach only slowly (one node per round crosses a boundary).
    * On the co-occurrence benchmark graph the default 4+4 alternating
    * schedule scores whole-graph Q 0.502 at sf0.01 / 0.495 at sf0.1 —
    * past sync-LPA's 0.452 / 0.473 (`q_g23b` pins the ordering) and
    * equal to 8+8 all-gated rounds at half the cost.
    *
    * Scale notes (100 TB): the coarse graph is communities-sized —
    * orders of magnitude smaller than the input — so the second phase
    * is nearly free; the projection is one equi-join on the fine
    * community key (AQE broadcasts the coarse labels). Total cost ≈
    * `fineRounds` louvain rounds + one coarsen.
    *
    * @return (`id`, `community`) — community ids are coarse-phase
    *         labels (fine community ids that survived the merge) */
  def louvainMultiLevel(edges: DataFrame, fineRounds: Int = 4,
      coarseRounds: Int = 4, seed: Long = 42L,
      weightCol: Option[String] = None,
      ckpt: Checkpointer = Checkpointer.Local): DataFrame = {
    // Alternating ungated/gated rounds ("ugug…"): the ungated rounds
    // coalesce singleton communities fast, the gated rounds converge
    // without swap oscillation — measured equal-Q to 2× all-gated
    // rounds at half the cost (SCALE.md louvain note).
    def sched(n: Int): String =
      (0 until n).map(i => if (i % 2 == 0) 'u' else 'g').mkString
    val fine = ckpt(louvain(edges, fineRounds, seed, weightCol, ckpt,
      schedule = sched(fineRounds)))
    // The coarse graph is ALWAYS weighted (inter-community edge weights
    // sum on coarsening), so the second phase runs weighted regardless
    // of whether the fine level was.
    val coarse = louvainCoarsen(edges, fine, weightCol)
    val up = louvain(coarse, coarseRounds, seed, Some("weight"), ckpt,
        schedule = sched(coarseRounds))
      .select(col("id").as("_cid"), col("community").as("_c2"))
    fine.join(up, fine("community") === up("_cid"))
      .select(col("id"), col("_c2").as("community"))
  }

  /** Leiden refinement pass (Traag, Waltman & van Eck 2019's
    * connectivity guarantee, as a standalone operator): split every
    * INTERNALLY DISCONNECTED community into its connected parts.
    * Plain Louvain can strand one: when a community's articulation
    * node moves out, the members it used to connect keep the shared
    * label with no path between them — the defect the Leiden paper is
    * about. The split is exact min-label connected components
    * ([[Dedup.connectedComponents]]'s pointer-jumping) restricted to
    * INTRA-community edges, so parts never cross community boundaries
    * and each part's new community id is its minimum member node id.
    *
    * Splitting a disconnected community never lowers modularity: its
    * internal edge count is unchanged (no intra edges between the
    * parts — they are disconnected) while the Σd_tot² penalty strictly
    * decreases ((d₁+d₂)² > d₁²+d₂²), so Q strictly increases whenever
    * the pass changes anything.
    *
    * Scale notes (100 TB): two membership equi-joins restrict the edge
    * list (labels broadcast when small), then O(log diameter)
    * pointer-jumping rounds of two shuffles each over intra edges
    * only — strictly cheaper than one Louvain round on the same graph.
    *
    * Takes no `weightCol`: connectivity splitting is weight-blind —
    * only edge PRESENCE matters to connected parts, and the
    * modularity-monotonicity argument holds verbatim with weighted
    * degrees ((d₁+d₂)² > d₁²+d₂² for positive weighted d) — so
    * weighted pipelines pass their edge frame through unchanged and
    * the extra column is simply not read.
    *
    * @return (`id`, `community`) — connected-part labels (min member) */
  def leidenRefine(edges: DataFrame, labels: DataFrame,
      ckpt: Checkpointer = Checkpointer.Local): DataFrame = {
    val canon = edges.select(
        least(col(StartId), col(EndId)).as("a"),
        greatest(col(StartId), col(EndId)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val lab = labels.select(col("id"), col("community"))
    val intra = canon
      .join(lab.withColumnsRenamed(
        Map("id" -> "a", "community" -> "_ca")), Seq("a"))
      .join(lab.withColumnsRenamed(
        Map("id" -> "b", "community" -> "_cb")), Seq("b"))
      .filter(col("_ca") === col("_cb"))
      .select(col("a").as("id_a"), col("b").as("id_b"))
    Dedup.connectedComponents(lab.select(col("id")), "id", intra,
        ckpt = ckpt)
      .select(col("id"), col("comp").as("community"))
  }

  /** Louvain with the Leiden connectivity guarantee:
    * [[louvainMultiLevel]] followed by one [[leidenRefine]] pass, so
    * the returned partition (a) has every community internally
    * connected and (b) scores modularity ≥ the plain two-level result
    * BY CONSTRUCTION — refining a partition either changes nothing or
    * strictly raises Q (see [[leidenRefine]]), never lowers it.
    *
    * Why refine AFTER the pipeline rather than between the phases (the
    * paper's placement): mid-pipeline refinement re-seeds the
    * aggregated phase and the outcome is graph-dependent under a fixed
    * synchronous round budget — measured on the q_g23 co-occurrence
    * graph it WON at sf0.01 (Q 0.5046 vs 0.5031 post-refined, seeded
    * all-gated coarse schedule via [[louvain]]'s `initLabels`) but
    * LOST at sf0.001 (0.473 vs 0.499), because the refined supergraph
    * walks a different move trajectory with no monotonicity promise.
    * The post-pipeline composition is the one with a theorem: never
    * worse than [[louvainMultiLevel]], always connected. Callers who
    * want the paper's placement can compose
    * `leidenRefine → louvainCoarsen → louvain(initLabels) → project`
    * from the public pieces.
    *
    * Scale notes (100 TB): [[louvainMultiLevel]]'s cost plus one
    * refinement (O(log diameter) pointer-jump rounds over intra-
    * community edges — cheaper than one Louvain round).
    *
    * @return (`id`, `community`) with every community internally
    *         connected; community ids are minimum member node ids */
  def leiden(edges: DataFrame, fineRounds: Int = 4,
      coarseRounds: Int = 4, seed: Long = 42L,
      weightCol: Option[String] = None,
      ckpt: Checkpointer = Checkpointer.Local): DataFrame =
    leidenRefine(edges,
      ckpt(louvainMultiLevel(edges, fineRounds, coarseRounds, seed,
        weightCol, ckpt)),
      ckpt)

  /** Delta-local incremental community maintenance — the arrival-time
    * answer to "edges landed; which labels change?": re-run seeded
    * gated Louvain moves ONLY on the subgraph within `hops` of the
    * delta's endpoints, leaving every other node's stored label
    * untouched. The seed discipline is [[louvain]]'s `initLabels`
    * (each region node starts in its stored community; unseen nodes
    * start singleton), so a delta that lands inside existing
    * communities is a move-round fixpoint and changes nothing, while
    * a genuinely new cluster coalesces locally.
    *
    * The locality is an explicit approximation: moves are scored on
    * the INDUCED region subgraph, so region-boundary edges don't pull
    * — the standard local-refinement trade. Raise `hops` to widen the
    * blast radius toward full recompute; periodic full [[leiden]]
    * runs remain the consolidation story (same discipline as ANN
    * index retrain after [[graft.operators.Similarity.updateIndex]]
    * drift).
    *
    * Scale notes (100 TB): cost scales with the DELTA NEIGHBORHOOD,
    * never the corpus — `hops` BFS rounds (frontier-sized equi-joins)
    * + `rounds` Louvain rounds over the region subgraph + two
    * membership joins; the stored labels frame is touched only by one
    * anti-join and one left join. This is the streaming-twin
    * discipline applied to community labels
    * ([[graft.streaming.StreamingIngest.streamingCommunitiesCdc]]'s
    * per-trigger add step).
    *
    * @param allEdges   the FULL accumulated edge set (old ∪ delta)
    * @param deltaEdges the newly arrived edges (its endpoints seed
    *                   the region)
    * @param prevLabels stored (`id`, `community`) from the previous
    *                   run
    * @param rounds     gated move rounds; the default 4 gives every
    *                   node two move opportunities — a mutually-best
    *                   pair that swap-oscillates through its first
    *                   opportunity needs the second to coalesce (the
    *                   spec's planted {0,0,1}-parity triangle)
    * @return (`id`, `community`) for prevLabels ∪ region nodes */
  def incrementalCommunities(allEdges: DataFrame, deltaEdges: DataFrame,
      prevLabels: DataFrame, rounds: Int = 4, hops: Int = 2,
      seed: Long = 42L, weightCol: Option[String] = None,
      ckpt: Checkpointer = Checkpointer.Local): DataFrame = {
    require(hops >= 1, "hops must be >= 1")
    require(rounds >= 1, "rounds must be >= 1")
    val dec = "decimal(38,0)"
    // Same input convention as louvain: unweighted = simple graph,
    // weighted = parallel edge weights sum.
    val canon = ckpt(weightCol match {
      case Some(wc) => allEdges.select(
          least(col(StartId), col(EndId)).as("a"),
          greatest(col(StartId), col(EndId)).as("b"),
          col(wc).cast(dec).as("_w"))
        .groupBy("a", "b").agg(sum("_w").as("_w"))
      case None => allEdges.select(
          least(col(StartId), col(EndId)).as("a"),
          greatest(col(StartId), col(EndId)).as("b"))
        .distinct()
    })
    val sym = canon.select(col("a").as(StartId), col("b").as(EndId))
      .unionAll(canon.select(col("b").as(StartId), col("a").as(EndId)))
    val seeds = deltaEdges.select(col(StartId).as("id"))
      .unionAll(deltaEdges.select(col(EndId).as("id"))).distinct()
    val region = ckpt(kHop(sym, seeds, hops, ckpt).select("id"))
    val sub = canon
      .join(region.withColumnRenamed("id", "a"), Seq("a"))
      .join(region.withColumnRenamed("id", "b"), Seq("b"))
    val subEdges = weightCol match {
      case Some(_) => sub.select(col("a").as(StartId),
        col("b").as(EndId), col("_w"))
      case None => sub.select(col("a").as(StartId), col("b").as(EndId))
    }
    val prev = prevLabels.select(col("id"), col("community"))
    val relabeled = louvain(subEdges, rounds, seed,
      weightCol = weightCol.map(_ => "_w"), ckpt = ckpt,
      schedule = "g" * rounds, initLabels = Some(prev))
    // Region nodes with no induced edge (all neighbors outside) never
    // reach louvain — they keep their stored label, or start singleton
    // if brand new.
    val kept = prev.join(region, Seq("id"), "left_anti")
    val regionOut = region
      .join(relabeled.withColumnRenamed("community", "_new"),
        Seq("id"), "left")
      .join(prev.withColumnRenamed("community", "_old"), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("_new"), col("_old"), col("id")).as("community"))
    kept.unionByName(regionOut)
  }

  /** Decremental community maintenance under edge DELETIONS — the
    * takedown twin of [[incrementalCommunities]], completing the
    * maintenance grid for community labels (the [[decrementalScc]] /
    * [[graft.operators.Funnel.deleteIntervals]] discipline): on
    * delete, the TOUCHED communities — those holding an endpoint of a
    * deleted edge — re-derive from remaining-edge ground truth, while
    * every other node keeps its stored label verbatim.
    *
    * Unlike the SCC side there is no refinement theorem to lean on
    * (modularity partitions are not monotone under deletion), so the
    * re-derivation is the honest one: the touched communities'
    * members re-run `rounds` GATED Louvain move rounds from SINGLETON
    * seeds over their induced remaining subgraph. Singleton seeds —
    * not stored labels — because a deletion can DISCONNECT a stored
    * community, and seeded moves would leave both halves sharing a
    * label with zero connecting edges (the phantom-community bug
    * [[leidenRefine]] exists to kill); rebuilt from singletons, each
    * connected cluster coalesces separately. Members left with no
    * induced remaining edge become singletons (their community
    * dissolved around them — they stand alone until the next
    * maintenance round or the periodic full [[leiden]]
    * consolidation, the same story as the incremental side). Node
    * rows persist: deleting an EDGE never deletes a node's label row
    * (contrast [[decrementalScc]], whose vertex-set contract follows
    * the edge table).
    *
    * The locality is the same explicit approximation as the
    * incremental side, one step tighter: moves are scored on the
    * subgraph INDUCED on the touched communities' members, so
    * boundary edges into untouched communities don't pull. Deletes of
    * edges whose endpoints are unknown to `prevLabels` are no-ops; a
    * "deleted" edge still present in `remainingEdges` costs work but
    * never correctness (ground truth wins).
    *
    * Scale notes (100 TB): the touched-community frame is delta-sized
    * and broadcast into both membership joins; `remainingEdges` — the
    * one corpus-sized input — is scanned ONCE and immediately
    * filtered to the members' induced subgraph (with a
    * community-bucketed edge store this is partition pruning); the
    * Louvain rounds run on that subgraph only; the stored labels
    * frame is touched by one semi-join and one anti-join. This is
    * [[graft.streaming.StreamingIngest.streamingCommunitiesCdc]]'s
    * per-trigger delete step.
    *
    * @param remainingEdges the post-delete edge table — ground truth
    * @param deletedEdges   the (`start_id`, `end_id`) rows removed
    *                       (endpoints select the touched communities)
    * @param prevLabels     stored (`id`, `community`)
    * @param rounds         gated move rounds for the rebuild (the
    *                       [[incrementalCommunities]] default: two
    *                       move opportunities per node)
    * @return (`id`, `community`) for every prevLabels node */
  def decrementalCommunities(remainingEdges: DataFrame,
      deletedEdges: DataFrame, prevLabels: DataFrame, rounds: Int = 4,
      seed: Long = 42L, weightCol: Option[String] = None,
      ckpt: Checkpointer = Checkpointer.Local): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val dec = "decimal(38,0)"
    val prev = prevLabels.select(col("id"), col("community"))
    val delIds = deletedEdges.select(col(StartId).as("id"))
      .unionAll(deletedEdges.select(col(EndId).as("id"))).distinct()
    // Touched communities: stored communities of the deleted-edge
    // endpoints (inner join — unknown endpoints are no-ops).
    val tc = delIds.join(prev, Seq("id"))
      .select("community").distinct().localCheckpoint()
    val members = ckpt(prev.join(broadcast(tc), Seq("community"),
      "left_semi"))
    // Same input convention as louvain: unweighted = simple graph,
    // weighted = parallel edge weights sum. ONE pass over the
    // corpus-sized remaining table, then induced on the members.
    val canon = weightCol match {
      case Some(wc) => remainingEdges.select(
          least(col(StartId), col(EndId)).as("a"),
          greatest(col(StartId), col(EndId)).as("b"),
          col(wc).cast(dec).as("_w"))
        .groupBy("a", "b").agg(sum("_w").as("_w"))
      case None => remainingEdges.select(
          least(col(StartId), col(EndId)).as("a"),
          greatest(col(StartId), col(EndId)).as("b"))
        .distinct()
    }
    val mem = members.select("id")
    val sub = ckpt(canon
      .join(mem.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
      .join(mem.withColumnRenamed("id", "b"), Seq("b"), "left_semi"))
    val subEdges = weightCol match {
      case Some(_) => sub.select(col("a").as(StartId),
        col("b").as(EndId), col("_w"))
      case None => sub.select(col("a").as(StartId), col("b").as(EndId))
    }
    val relabeled = louvain(subEdges, rounds, seed,
      weightCol = weightCol.map(_ => "_w"), ckpt = ckpt,
      schedule = "g" * rounds)
    // the anti/semi-joins move their key first — restore (id,
    // community) order for positional consumers before the union
    val kept = prev.join(broadcast(tc), Seq("community"), "left_anti")
      .select("id", "community")
    val membersOut = mem
      .join(relabeled.withColumnRenamed("community", "_new"),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("_new"), col("id")).as("community"))
    kept.unionByName(membersOut)
  }

  /** Continuous-MLE power-law exponent of the degree distribution:
    * `alpha = 1 + n / Σ ln(d_i/dMin)` over nodes with degree ≥ `dMin`
    * (Clauset–Shalizi–Newman's estimator), with standard error
    * `(alpha−1)/√n`. The one-number tail diagnostic that says whether
    * hub-capping / skew-salting will matter downstream: alpha ≤ 2.5
    * means the hubs own the graph.
    *
    * The log-sum is accumulated EXACTLY: terms collapse onto the tiny
    * distinct-degree histogram first, each `ln` is integerized to 1e9
    * per term, and the weighted sum runs in decimal(38,0) — so the
    * result is independent of partition/merge order (a raw double sum
    * over a million nodes is not).
    *
    * Scale notes (100 TB): one degree groupBy (map-side combined), one
    * groupBy onto the distinct-degree histogram (thousands of rows at
    * any scale), one 1-row aggregate. Nothing edge-sized shuffles twice.
    *
    * @return one row: (`n_nodes`, `d_min`, `alpha`, `alpha_se`); alpha
    *         is null when every degree equals `dMin` (zero log-mass). */
  /** FUSED forward/backward min-label propagation — F(v) = least id
    * with a directed path TO v (labels flow src → dst), B(v) = least
    * id v has a path to (labels flow dst → src) — computed in ONE
    * loop over one (`id`, `f`, `b`) frame, ONE message pass per round.
    *
    * Each round every node v takes the minimum label its messages
    * carry, all read through ONE join of the messages' `from` ids
    * against the checkpointed labels and ONE `groupBy(to).min`:
    *
    *  - hop messages along each live edge (F: src → dst carrying
    *    f(src); B: dst → src carrying b(dst));
    *  - pointer-jump messages from f(v) and b(v) to v, carrying f(f(v))
    *    and b(b(v)) — one message when f(v) = b(v). A node's jump
    *    message is also its self message: f(f(v)) ≤ f(v), since every
    *    label is the id of a node of the same class whose own label is
    *    at most its id, and at a root (f(v) = v) the message IS v's own
    *    label. So no node is ever dropped and no label ever rises.
    *
    * Both jumps come from a single `explode` over the label frame, so
    * the map-side partial aggregate combines them per node (separate
    * union children would ship each one through the shuffle). The new
    * label is min(hop labels, f(f(v))). At a round that changes
    * nothing, f(v) ≤ f(u) along every edge u → v and f(v) is a reacher
    * of v, so f(v) is the least reacher (the same argument gives B),
    * reached in O(log diameter) rounds as in
    * [[Dedup.connectedComponents]].
    *
    * Labels are per-node non-increasing, so an unchanged sum certifies
    * a direction's fixpoint; a CONVERGED direction is frozen (its hop
    * messages drop out of later rounds, its jumps are no-ops) while the
    * other finishes. The sums, and the number of nodes whose F and B
    * differ, are observed on the round's own checkpoint
    * ([[graft.Checkpointer.observed]]): one Spark SQL execution per
    * round, no probe query. `nodes` must be cheap to read twice (a
    * checkpointed frame or a filter over one): the first round reads
    * its initial labels straight from it. Returns (`id`, `f`, `b`) and
    * the count of nodes with f ≠ b. */
  private def fbMinProp(nodes: DataFrame, edges: DataFrame,
      maxIter: Int, ckpt: Checkpointer): (DataFrame, Long) = {
    var labels = nodes.select(col("id"), col("id").as("f"),
      col("id").as("b"))
    var split = 0L
    var prevF = Option.empty[Any]
    var prevB = Option.empty[Any]
    var fDone = false
    var bDone = false
    var i = 0
    while (!(fDone && bDone) && i < maxIter) {
      val edgeMsgs = Seq(
          Option.when(!fDone)(labelMsg(col("src"), col("dst"), true, false)),
          Option.when(!bDone)(labelMsg(col("dst"), col("src"), false, true)))
        .flatten
      val jumps =
        when(col("f") === col("b"),
          array(labelMsg(col("f"), col("id"), true, true)))
          .otherwise(array(labelMsg(col("f"), col("id"), true, false),
            labelMsg(col("b"), col("id"), false, true)))
      val msgs = edges.select(explode(array(edgeMsgs: _*)).as("_m"))
        .unionAll(labels.select(explode(jumps).as("_m")))
        .select("_m.*")
      // LEFT join: a null id's jump message finds no label and keeps
      // its (null) row
      val (next, sums) = ckpt.observed(
        msgs.join(labels.select(col("id").as("from"), col("f").as("_lf"),
            col("b").as("_lb")), Seq("from"), "left")
          .groupBy(col("to").as("id"))
          .agg(min(when(col("_toF"), col("_lf"))).as("f"),
            min(when(col("_toB"), col("_lb"))).as("b")),
        sum(col("f")), sum(col("b")), count_if(col("f") =!= col("b")))
      val (curF, curB) = (sums.get(0), sums.get(1))
      split = sums.getLong(2)
      fDone = fDone || prevF.contains(curF)
      bDone = bDone || prevB.contains(curB)
      prevF = Some(curF)
      prevB = Some(curB)
      labels = next
      i += 1
    }
    // Fail fast on truncated propagation (mirrors the outer maxRounds
    // guard in stronglyConnectedComponents): an unconverged F/B frame can
    // carry DIFFERENT labels for members of one SCC, and the (F, B) pair
    // split would then sever that SCC permanently — the outer
    // nRemaining == 0 check still passes, silently returning wrong
    // labels. Reachable via Analyze's scc mode with a small --max-iter
    // or adversarially deep graphs.
    require(fDone && bDone,
      s"min-label propagation did not converge in $maxIter iterations — " +
        "raise maxIter (graph diameter exceeds 2^maxIter after jumps)")
    (labels, split)
  }

  /** One min-label message of [[fbMinProp]]'s round: the label of
    * `from` goes to `to`, for the F and/or the B direction. */
  private def labelMsg(from: org.apache.spark.sql.Column,
      to: org.apache.spark.sql.Column, toF: Boolean, toB: Boolean) =
    struct(from.as("from"), to.as("to"), lit(toF).as("_toF"),
      lit(toB).as("_toB"))

  /** Strongly connected components over a DIRECTED edge table: each
    * node labelled with the smallest node id in its SCC (its
    * mutual-reachability class). Data-parallel forward–backward split
    * (Fleischer/Hendrickson/Pinar's divide-and-conquer recast as label
    * propagation, the framing of Slota et al.'s Multistep): per outer
    * round, over edges internal to the current class partition,
    *
    *   F(v) = least id with a path to v   (forward [[fbMinProp]])
    *   B(v) = least id v has a path to    (backward — reversed edges;
    *          both directions run FUSED in one loop, sharing the
    *          checkpointed live adjacency: one message join, one
    *          groupBy and one checkpoint per iteration)
    *
    * F(v) = B(v) = m certifies v ↔ m, hence v ∈ SCC(m); and all of
    * SCC(m) shares both labels (mutually reachable nodes see the same
    * reacher and reachable sets within the class), so extraction takes
    * whole SCCs, never fragments. Each class's minimum id m has
    * F(m) = B(m) = m, so every round retires at least one SCC per
    * class. Survivors re-key their class by the (F, B) PAIR — equal
    * F AND equal B is necessary for two nodes to share an SCC (their
    * reacher/reachable sets coincide), so the split never separates an
    * SCC, while it shatters DAG-like residue: a pure path keeps
    * per-node distinct B, splits into singletons after round 1, and
    * finishes in round 2, where single-label coloring would grind
    * through n rounds. The pair is NOT sufficient (two parallel
    * branches r → v → s, r → w → s give v and w equal (F, B) but no
    * cycle — the spec pins this), which is exactly why extraction
    * demands F = B rather than trusting the pair as a final label.
    * Cross-class edges are dropped permanently — sound because classes
    * only ever refine and an SCC never spans two classes.
    *
    * Scale notes (100 TB edge table): everything is equi-joins and
    * partial-aggregated groupBys on the label frame (|V| rows, small
    * against edges) — AQE broadcasts label sides that fit. Driver-side
    * data is two scalar sums and one count per inner round, all
    * observed on checkpoints the rounds take anyway
    * ([[graft.Checkpointer.observed]]), so no probe query runs: every
    * inner round is ONE Spark SQL execution. Inner loops are
    * O(log diameter) via pointer jumping; outer rounds collapse on the
    * pair split (real graphs: a handful). The live edge set only
    * shrinks — each round's filter drops cross-class edges for good,
    * so late rounds run on the shrinking core, not the whole graph;
    * once it is empty, the remaining nodes are singleton SCCs and are
    * labelled without a propagation round.
    * Per-iteration checkpoints truncate lineage (measured stats via
    * [[org.apache.spark.sql.graft.CheckpointStats]] keep the planner's
    * broadcast decisions honest across rounds). Self-loops are dropped
    * up front (SCC-irrelevant); `maxRounds` guards adversarial
    * SCC-chain topologies with a fail-fast rather than silently
    * emitting unfinished labels.
    *
    * Output: (`id`, `scc`) over all edge endpoints. */
  def stronglyConnectedComponents(edges: DataFrame, maxRounds: Int = 20,
      maxIter: Int = 25,
      ckpt: Checkpointer = Checkpointer.Local): DataFrame = {
    require(maxRounds >= 1, "maxRounds must be >= 1")
    var (live, nLive) = ckptCount(ckpt, edges
      .select(col(StartId).as("src"), col(EndId).as("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    // vertex set from the UNFILTERED edges: a node whose only edge is
    // its self-loop must still label itself (F = B = id, round 1); a
    // null endpoint is no node
    var (remaining, nRemaining) = ckptCount(ckpt,
      edges.select(col(StartId).as("id"))
        .unionAll(edges.select(col(EndId).as("id")))
        .filter(col("id").isNotNull).distinct())
    val done = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var round = 0
    while (nRemaining > 0 && round < maxRounds) {
      if (nLive == 0) {
        // no live edge left: every remaining node is its own SCC, which
        // is what a propagation round would certify
        done += remaining.select(col("id"), col("id").as("scc"))
        nRemaining = 0
      } else {
        // ONE fused pass computes F and B over the shared live adjacency
        // (one checkpoint per iteration, max(k_f, k_b) iterations)
        val (fb, nSplit) = fbMinProp(remaining, live, maxIter, ckpt)
        done += fb.filter(col("f") === col("b"))
          .select(col("id"), col("f").as("scc"))
        val rest = fb.filter(col("f") =!= col("b"))
        remaining = rest.select("id")
        nRemaining = nSplit
        val (l, n) = ckptCount(ckpt, live
          .join(rest.withColumnsRenamed(
            Map("id" -> "src", "f" -> "_fs", "b" -> "_bs")), Seq("src"))
          .join(rest.withColumnsRenamed(
            Map("id" -> "dst", "f" -> "_fd", "b" -> "_bd")), Seq("dst"))
          .filter(col("_fs") === col("_fd") && col("_bs") === col("_bd"))
          .select("src", "dst"))
        live = l
        nLive = n
      }
      round += 1
    }
    require(nRemaining == 0,
      s"SCC did not converge in $maxRounds rounds ($nRemaining nodes " +
        "unresolved) — raise maxRounds (adversarial SCC-chain depth)")
    done.reduceOption(_ unionByName _)
      .getOrElse(remaining.select(col("id"), col("id").as("scc")))
  }

  /** Condensation of a directed graph under an SCC labelling (from
    * [[stronglyConnectedComponents]]): the quotient graph with one node
    * per SCC and a distinct edge per ordered pair of distinct SCCs that
    * any original edge connects. Always a DAG (a cycle between two
    * condensation nodes would make their SCCs one) — the structure
    * topological analyses run on after collapsing cycles.
    *
    * Scale: two equi-joins of the edge table against the label frame
    * (|V| rows — AQE broadcasts it when it fits) and a distinct on the
    * (scc, scc) pairs, which partial-aggregates map-side; intra-SCC
    * edges — the bulk of a cyclic graph — are filtered before the
    * shuffle. Output: (`src_scc`, `dst_scc`). */
  def condensation(edges: DataFrame, sccLabels: DataFrame): DataFrame = {
    val l = sccLabels.select(col("id"), col("scc"))
    edges.select(col(StartId).as("src"), col(EndId).as("dst"))
      .join(l.withColumnsRenamed(Map("id" -> "src", "scc" -> "src_scc")),
        Seq("src"))
      .join(l.withColumnsRenamed(Map("id" -> "dst", "scc" -> "dst_scc")),
        Seq("dst"))
      .filter(col("src_scc") =!= col("dst_scc"))
      .select(col("src_scc"), col("dst_scc")).distinct()
  }

  /** The updated state of an append-only SCC maintenance step: the new
    * full labelling and the new condensation, both EXACTLY what a full
    * recompute over (old ∪ delta) edges would produce. */
  final case class SccState(labels: DataFrame, quotient: DataFrame)

  /** Incremental SCC maintenance under APPEND-ONLY edge arrivals — the
    * [[incrementalCommunities]] discipline applied to G26, but here the
    * incremental result is EXACT, not a local approximation, by a
    * standard theorem: adding edges only ever MERGES SCCs (mutual
    * reachability is monotone in the edge set), and two old SCCs merge
    * iff their quotient nodes become mutually reachable in
    * (old condensation ∪ delta projected to old labels) — the old
    * condensation preserves reachability among old SCCs, and every new
    * path factors through it plus delta edges. So the maintenance step
    * runs [[stronglyConnectedComponents]] on a QUOTIENT-SIZED graph
    * (|old SCCs touched| + |delta| rows, not |V| + |E|) and composes:
    * new(v) = qLabel(old(v)). Labels stay "min node id in the SCC"
    * because the quotient SCC's min over old labels (each the min of
    * its members) and new node ids IS the global min — bit-identical
    * to the full recompute (the spec asserts it).
    *
    * Delta endpoints unseen in `prevLabels` enter as their own
    * quotient nodes (a brand-new node is its own SCC until proven
    * otherwise); old SCCs touching no quotient edge keep their label
    * verbatim via the left join. The returned quotient is the
    * condensation of the quotient problem under the new labels, which
    * equals the new full condensation (every inter-SCC edge of the
    * full graph projects into the quotient problem), so the state the
    * next delta needs is maintained without ever re-reading the
    * accumulated edge table — the whole point at 100 TB: per-batch
    * cost is condensation-sized + delta-sized, never corpus-sized.
    *
    * @param deltaEdges   newly arrived (`start_id`, `end_id`) rows
    * @param prevLabels   (`id`, `scc`) from the previous step
    * @param prevQuotient (`src_scc`, `dst_scc`) from the previous step
    * @return the new labels (all old ids + new delta endpoints) and
    *         the new condensation */
  def incrementalScc(deltaEdges: DataFrame, prevLabels: DataFrame,
      prevQuotient: DataFrame, maxRounds: Int = 20, maxIter: Int = 25,
      ckpt: Checkpointer = Checkpointer.Local): SccState = {
    val l = prevLabels.select(col("id"), col("scc"))
    val d = deltaEdges.select(col(StartId).as("src"), col(EndId).as("dst"))
    // Project delta endpoints onto old labels; unseen ids label
    // themselves (their own singleton quotient node).
    val proj = d
      .join(l.withColumnsRenamed(Map("id" -> "src", "scc" -> "_ss")),
        Seq("src"), "left")
      .join(l.withColumnsRenamed(Map("id" -> "dst", "scc" -> "_ds")),
        Seq("dst"), "left")
      .select(coalesce(col("_ss"), col("src")).as(StartId),
        coalesce(col("_ds"), col("dst")).as(EndId))
    val qEdges = ckpt(prevQuotient
      .select(col("src_scc").as(StartId), col("dst_scc").as(EndId))
      .unionAll(proj)
      .filter(col(StartId) =!= col(EndId)).distinct())
    val qLabels = ckpt(stronglyConnectedComponents(qEdges, maxRounds,
      maxIter, ckpt))
    // Compose old labels through the quotient result; untouched SCCs
    // (absent from the quotient problem) keep their label verbatim.
    val composedOld = l
      .join(qLabels.select(col("id").as("scc"), col("scc").as("_new")),
        Seq("scc"), "left")
      .select(col("id"), coalesce(col("_new"), col("scc")).as("scc"))
    // Brand-new nodes: delta endpoints with no previous label. The
    // left join + coalesce covers a node whose only delta edge is a
    // self-loop — it never reaches the (self-loop-filtered) quotient
    // problem but must still label itself, matching the full
    // recompute's unfiltered vertex set.
    val newNodes = d.select(col("src").as("id"))
      .unionAll(d.select(col("dst").as("id"))).distinct()
      .join(l.select("id"), Seq("id"), "left_anti")
      .join(qLabels.withColumnRenamed("scc", "_qs"), Seq("id"), "left")
      .select(col("id"), coalesce(col("_qs"), col("id")).as("scc"))
    val labels = ckpt(composedOld.unionByName(newNodes))
    SccState(labels, condensation(qEdges, qLabels))
  }

  /** Decremental SCC maintenance under edge DELETIONS — the takedown /
    * right-to-erasure twin of [[incrementalScc]], and EXACT by the
    * refinement theorem: deleting edges only ever SPLITS SCCs (mutual
    * reachability is monotone), and any post-delete cycle through a
    * node stays inside its old SCC — a cross-SCC detour would have
    * made those SCCs one BEFORE the delete (remaining ⊆ old edges) —
    * so the post-delete partition is computed exactly by re-running
    * [[stronglyConnectedComponents]] on the INTERNAL remaining edges
    * of the touched SCCs only. Labels stay "min node id in the SCC"
    * (each refined SCC is a subset of its old SCC), so the result is
    * bit-identical to a full recompute over `remainingEdges` — the
    * q_g26d discipline, on the delete side.
    *
    * Work is delta-proportional (the G25 region discipline): only
    * SCCs incident to a deleted edge are touched. Labels re-derive
    * only for SCCs that lost an INTERNAL edge (an inter-SCC delete
    * cannot change membership); the quotient rebuilds only for pairs
    * incident to ANY touched SCC — pairs between two untouched SCCs
    * survive verbatim (their witness edge cannot have been deleted:
    * deleted endpoints are touched by definition). Endpoints of
    * deleted edges that lose their LAST remaining edge leave the
    * labelling entirely, matching the full recompute's vertex set
    * (= endpoints of the remaining edges); only delete endpoints can
    * become isolated, so the check is delta-sized. Deletes of edges
    * unknown to `prevLabels` are no-ops, and a "deleted" edge still
    * present in `remainingEdges` costs work but never correctness —
    * the touched regions re-derive from remaining-edge ground truth.
    *
    * Scale notes (100 TB): the touched-SCC frames are delta-sized and
    * broadcast; the one corpus-sized input, `remainingEdges`, is
    * scanned ONCE and immediately filtered by two joins against the
    * touched-membership frame (broadcast when the touched region is
    * small; with an scc-bucketed edge store this is partition
    * pruning) — the FB-split then runs on the touched subgraph only.
    *
    * @param remainingEdges the post-delete edge table — ground truth
    * @param deletedEdges   the (`start_id`, `end_id`) rows removed
    * @param prevLabels     (`id`, `scc`) from the previous step
    * @param prevQuotient   (`src_scc`, `dst_scc`) from the previous step
    * @return the new labels and condensation, bit-identical to a full
    *         recompute over `remainingEdges` */
  def decrementalScc(remainingEdges: DataFrame, deletedEdges: DataFrame,
      prevLabels: DataFrame, prevQuotient: DataFrame,
      maxRounds: Int = 20, maxIter: Int = 25,
      ckpt: Checkpointer = Checkpointer.Local): SccState = {
    val l = prevLabels.select(col("id"), col("scc"))
    val del = deletedEdges
      .select(col(StartId).as("src"), col(EndId).as("dst")).distinct()
    // Old SCCs of the deleted endpoints (inner: unknown ids are no-ops).
    val delLab = del
      .join(l.withColumnsRenamed(Map("id" -> "src", "scc" -> "_ss")),
        Seq("src"))
      .join(l.withColumnsRenamed(Map("id" -> "dst", "scc" -> "_ds")),
        Seq("dst"))
      .localCheckpoint()
    // tInt: SCCs that lost an internal edge (membership may split);
    // tAll: every SCC incident to a delete (quotient pairs may vanish).
    val tInt = delLab.filter(col("_ss") === col("_ds"))
      .select(col("_ss").as("scc")).distinct().localCheckpoint()
    val tAll = delLab.select(col("_ss").as("scc"))
      .unionAll(delLab.select(col("_ds").as("scc")))
      .distinct().localCheckpoint()
    // Members of touched SCCs, then the remaining edges incident to
    // them (the ONE pass over the corpus-sized table), old SCCs kept.
    val touched = ckpt(l.join(broadcast(tAll), Seq("scc"), "left_semi"))
    val rem = remainingEdges
      .select(col(StartId).as("src"), col(EndId).as("dst"))
    val eT = ckpt(rem
      .join(touched.withColumnsRenamed(Map("id" -> "src", "scc" -> "_ss")),
        Seq("src"), "left")
      .join(touched.withColumnsRenamed(Map("id" -> "dst", "scc" -> "_ds")),
        Seq("dst"), "left")
      .filter(col("_ss").isNotNull || col("_ds").isNotNull))
    // Re-split: SCC over the internal remaining edges of tInt SCCs
    // (exact by the refinement theorem). Members with no internal edge
    // left become their own singletons via the coalesce.
    val intEdges = eT
      .filter(col("_ss") === col("_ds"))
      .join(broadcast(tInt.withColumnRenamed("scc", "_ss")), Seq("_ss"))
      .select(col("src").as(StartId), col("dst").as(EndId))
    val subLabels =
      stronglyConnectedComponents(intEdges, maxRounds, maxIter, ckpt)
    val splitMembers = l.join(broadcast(tInt), Seq("scc"), "left_semi")
    val relabeled = splitMembers.select("id")
      .join(subLabels.withColumnRenamed("scc", "_ns"), Seq("id"), "left")
      .select(col("id"), coalesce(col("_ns"), col("id")).as("scc"))
    val kept = l.join(broadcast(tInt), Seq("scc"), "left_anti")
      .select("id", "scc")
    // Delete endpoints with no remaining incident edge leave the vertex
    // set (every remaining edge of a delete endpoint is in eT, so the
    // anti-join is complete and delta-sized).
    val isolated = delLab.select(col("src").as("id"))
      .unionAll(delLab.select(col("dst").as("id"))).distinct()
      .join(eT.select(col("src").as("id"))
        .unionAll(eT.select(col("dst").as("id"))).distinct(),
        Seq("id"), "left_anti")
      .localCheckpoint()
    val labels = ckpt(kept.unionByName(relabeled)
      .join(broadcast(isolated), Seq("id"), "left_anti"))
    // Quotient: pairs fully outside the touched set survive verbatim;
    // everything incident to it rebuilds from the remaining edges under
    // the NEW labels. The two sides are disjoint (labels are min member
    // ids, so a refined label never equals an untouched SCC's label).
    val keptQ = prevQuotient.select(col("src_scc"), col("dst_scc"))
      .join(broadcast(tAll.withColumnRenamed("scc", "src_scc")),
        Seq("src_scc"), "left_anti")
      .join(broadcast(tAll.withColumnRenamed("scc", "dst_scc")),
        Seq("dst_scc"), "left_anti")
    val rebuiltQ = condensation(
      eT.select(col("src").as(StartId), col("dst").as(EndId)), labels)
    // the anti-joins move their key first — restore canonical order for
    // positional consumers before the union
    SccState(labels, ckpt(keptQ.select("src_scc", "dst_scc")
      .unionByName(rebuiltQ)))
  }

  /** Topological levels / longest-path depth over a DAG — the query
    * users collapse cycles FOR: run it on [[condensation]]'s output and
    * each SCC's level is its dependency depth (build staging, pipeline
    * waves, "how far downstream is this cycle cluster"). `level(v)` =
    * length of the longest path ending at v (sources are level 0), so
    * equal-level nodes can execute as one parallel wave and max(level)
    * is the DAG's critical-path length.
    *
    * Iterated max-relaxation (the Bellman-Ford shape on −1 weights):
    * per round, every node takes `max(level, 1 + max incoming level)`;
    * levels only grow and are bounded by depth, so an unchanged
    * sum(level) certifies the fixpoint — the same single-column
    * convergence probe as the propagation kernels. Rounds = DAG depth
    * (condensation DAGs are shallow — depth is the longest
    * inter-cluster chain, a handful in real dependency graphs).
    *
    * A CYCLE would relax forever (its levels climb every round), so
    * hitting `maxIter` unconverged fail-fasts with the standard
    * truncation contract — which doubles as a cheap acyclicity check:
    * feeding a non-condensed cyclic graph throws instead of looping.
    *
    * Scale notes (100 TB): per round, one equi-join of the edge table
    * against the node-sized level frame (AQE broadcasts it when it
    * fits) and one map-side-combinable max groupBy; per-round
    * checkpoints truncate lineage; driver traffic is the one scalar
    * probe per round.
    *
    * Input: the quotient edge frame (`src_scc`, `dst_scc`) from
    * [[condensation]]. Output: (`scc`, `level`). */
  def topologicalLevels(dagEdges: DataFrame, maxIter: Int = 100,
      ckpt: Checkpointer = Checkpointer.Local): DataFrame = {
    require(maxIter >= 1, "maxIter must be >= 1")
    val e = dagEdges.select(col("src_scc").as("src"),
      col("dst_scc").as("dst"))
    var levels = ckpt(e.select(col("src").as("scc"))
      .unionAll(e.select(col("dst").as("scc"))).distinct()
      .select(col("scc"), lit(0L).as("level")))
    var prevSum = Option.empty[Any]
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val incoming = e
        .join(levels.withColumnsRenamed(
          Map("scc" -> "src", "level" -> "_sl")), Seq("src"))
        .groupBy(col("dst").as("scc"))
        .agg(max(col("_sl") + 1).as("_in"))
      val (relaxed, probe) = ckpt.observed(
        levels.join(incoming, Seq("scc"), "left")
          .select(col("scc"),
            greatest(col("level"), coalesce(col("_in"), col("level")))
              .as("level")),
        sum(col("level")))
      levels = relaxed
      val curSum = probe.get(0)
      converged = prevSum.contains(curSum)
      prevSum = Some(curSum)
      i += 1
    }
    require(converged,
      s"topologicalLevels did not converge in $maxIter iterations — " +
        "the input has a cycle (not a condensation DAG) or its depth " +
        "exceeds maxIter")
    levels
  }

  /** Exact per-node reachable-descendant counts over a DAG — the
    * impact-analysis query on [[condensation]]'s output ("how many
    * downstream cycle clusters break if this one changes"). Computes
    * the full transitive closure by PATH DOUBLING — reach' = reach ∪
    * (reach ⋈ reach) — so rounds are O(log depth), not O(depth), with
    * an unchanged pair count certifying the fixpoint. Output:
    * (`scc`, `n_desc`) for every node of the quotient edge frame,
    * self excluded; sinks report 0. `reverse = true` counts ancestors
    * instead (upstream blast radius).
    *
    * Converges on any edge frame (a cyclic graph's closure is still
    * finite), but it materializes the closure PAIR SET — that is
    * output complexity, not waste, and the intended input is the SCC
    * quotient: millions of rows when the raw graph is billions. For
    * node-level reachability questions on the raw 100 TB graph use
    * [[landmarkReachability]] — 64 sources per pass, Long-per-node
    * state, no pair materialization. */
  def descendantCounts(dagEdges: DataFrame, reverse: Boolean = false,
      maxIter: Int = 30,
      ckpt: Checkpointer = Checkpointer.Local): DataFrame = {
    require(maxIter >= 1, "maxIter must be >= 1")
    val e0 = dagEdges.select(col("src_scc").as("a"),
      col("dst_scc").as("b"))
    val e = if (reverse) e0.select(col("b").as("a"), col("a").as("b"))
      else e0
    val nodes = e.select(col("a").as("scc"))
      .unionAll(e.select(col("b").as("scc"))).distinct()
    var reach = ckpt(e.filter(col("a") =!= col("b")).distinct())
    var prev = -1L
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val hops = reach.select(col("a").as("_mid"), col("b").as("_c"))
      val (doubled, cur) = ckptCount(ckpt, reach.unionAll(
          reach.join(hops, reach("b") === hops("_mid"))
            .select(col("a"), col("_c").as("b")))
        .filter(col("a") =!= col("b")).distinct())
      reach = doubled
      converged = cur == prev
      prev = cur
      i += 1
    }
    require(converged,
      s"descendantCounts did not converge in $maxIter doubling rounds " +
        "— the closure is still growing (depth > 2^maxIter is not " +
        "plausible; check the input)")
    nodes
      .join(reach.groupBy(col("a").as("scc"))
        .agg(count(lit(1)).as("_n")), Seq("scc"), "left")
      .select(col("scc"), coalesce(col("_n"), lit(0L)).as("n_desc"))
  }

  /** Multi-source reachability in ONE propagation — the bit-parallel
    * BFS trick: up to 64 landmark sources get bit positions (rank by
    * landmark id — deterministic), every node carries a 64-bit mask of
    * "which landmarks reach me" (a landmark reaches itself, the
    * BFS-source convention), and each round ORs masks forward along
    * edges. 64 BFSs for the price of one: per round, one equi-join of
    * the edge table against the node-sized mask frame (AQE broadcasts
    * it when it fits) plus a map-side-combinable BIT_OR groupBy. Set
    * bits only ever grow and are bounded by 64·|V|, so an unchanged
    * sum(bit_count) certifies the fixpoint; cycles are fine (masks are
    * monotone). Output: (`id`, `reach_mask`, `n_landmarks`) for every
    * node of the edge frame.
    *
    * The landmark frame is collected to the driver for bit assignment
    * — bounded by the bit width (≤ 64 rows), not the data; 65+
    * distinct landmarks fail fast before anything large moves. At
    * 100 TB this answers "which of these 64 hub/root/seed nodes
    * reaches each of N billion nodes" in O(diameter) rounds with one
    * Long of state per node — the building block for landmark-label
    * distance oracles and lineage audits, where per-source BFS would
    * cost 64 separate traversals. */
  def landmarkReachability(edges: DataFrame, landmarks: DataFrame,
      maxIter: Int = 50,
      ckpt: Checkpointer = Checkpointer.Local): DataFrame = {
    require(maxIter >= 1, "maxIter must be >= 1")
    val ids = landmarks.select(col("id").cast("long").as("id"))
      .distinct().orderBy("id").limit(65)
      .collect().map(_.getLong(0))
    require(ids.nonEmpty && ids.length <= 64,
      s"landmarks must be 1..64 distinct ids (got ${
        if (ids.length > 64) "65+" else "0"})")
    val spark = edges.sparkSession
    import spark.implicits._
    val lm = ids.zipWithIndex
      .map { case (id, b) => (id, 1L << b) }.toSeq.toDF("id", "_bit")
    val vertices = edges.select(col(StartId).as("id"))
      .unionAll(edges.select(col(EndId).as("id"))).distinct()
    var masks = ckpt(vertices.join(broadcast(lm), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("_bit"), lit(0L)).as("reach_mask")))
    var prev = Option.empty[Any]
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val incoming = edges
        .select(col(StartId).as("src"), col(EndId).as("id"))
        .join(masks.withColumnsRenamed(
          Map("id" -> "src", "reach_mask" -> "_m")), Seq("src"))
        .groupBy("id").agg(expr("bit_or(_m)").as("_in"))
      val (grown, probe) = ckpt.observed(
        masks.join(incoming, Seq("id"), "left")
          .select(col("id"), col("reach_mask")
            .bitwiseOR(coalesce(col("_in"), lit(0L))).as("reach_mask")),
        sum(expr("bit_count(reach_mask)")))
      masks = grown
      val cur = probe.get(0)
      converged = prev.contains(cur)
      prev = Some(cur)
      i += 1
    }
    require(converged,
      s"landmarkReachability did not converge in $maxIter rounds — " +
        "graph diameter exceeds maxIter; results would be truncated")
    masks.select(col("id"), col("reach_mask"),
      expr("bit_count(reach_mask)").cast("long").as("n_landmarks"))
  }

  def powerLawFit(edges: DataFrame, dMin: Long = 1L): DataFrame = {
    require(dMin >= 1L, "dMin must be >= 1")
    val canon = edges.select(
        least(col(StartId), col(EndId)).as("a"),
        greatest(col(StartId), col(EndId)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = canon.select(col("a").as("id"))
      .unionAll(canon.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    val hist = deg.filter(col("d") >= dMin)
      .groupBy("d").agg(count(lit(1)).as("n_d"))
    val lnE9 = floor(
      log(col("d").cast("double") / lit(dMin.toDouble)) * lit(1e9) +
        lit(0.5)).cast("decimal(38,0)")
    val m = hist.agg(
      sum(col("n_d").cast("decimal(38,0)")).cast("long").as("n_nodes"),
      sum(col("n_d").cast("decimal(38,0)") * lnE9).as("_s_e9"))
    m.select(col("n_nodes"), lit(dMin).as("d_min"),
        when(col("_s_e9") === 0, lit(null).cast("double"))
          .otherwise(lit(1.0) + col("n_nodes").cast("double") /
            (col("_s_e9").cast("double") / lit(1e9))).as("alpha"))
      .withColumn("alpha_se",
        (col("alpha") - lit(1.0)) / sqrt(col("n_nodes").cast("double")))
  }

  /** Bridges of an UNDIRECTED graph — the cut-edge QC query users
    * collapse cycles for (run it on [[condensation]]'s output treated
    * undirected, or any small derived graph): an edge whose removal
    * disconnects its endpoints — the single points of failure in a
    * dependency/connectivity structure. Exact, by the definition
    * itself: per candidate edge {a,b}, propagate reachability from `a`
    * through every edge EXCEPT {a,b}; the edge is a bridge iff `b` is
    * never reached. Deterministic — no spanning tree, no randomized
    * XOR trick.
    *
    * Scale notes: the probe-keyed state is (edge, node) — |E|·|V|
    * worst case, so this is an OUTPUT-COMPLEXITY operator intended for
    * the SCC quotient / QC-sized graphs (hundreds of thousands of
    * rows), not a raw 100 TB edge table; per round ONE join of the
    * state against the symmetric adjacency + distinct (partial-agg),
    * rounds = diameter, per-round checkpoints, sum-stable count probe
    * with the standard fail-fast on `maxIter`.
    *
    * @return the bridge edges as canonical pairs (`a` < `b`) */
  def bridges(edges: DataFrame, maxIter: Int = 50,
      ckpt: Checkpointer = Checkpointer.Local): DataFrame = {
    val canon = ckpt(edges.select(
        least(col(StartId), col(EndId)).as("a"),
        greatest(col(StartId), col(EndId)).as("b"))
      .filter(col("a") =!= col("b")).distinct())
    val adj = ckpt(canon.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(canon.select(col("b").as("src"), col("a").as("dst"))))
    var (reach, n) = ckptCount(ckpt, canon.withColumn("node", col("a")))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val step = reach.join(adj, col("node") === col("src"))
        .filter(!(least(col("src"), col("dst")) === col("a") &&
          greatest(col("src"), col("dst")) === col("b")))
        .select(col("a"), col("b"), col("dst").as("node"))
      val (nxt, m) = ckptCount(ckpt, reach.unionByName(step).distinct())
      converged = m == n
      n = m
      reach = nxt
      i += 1
    }
    require(converged,
      s"bridges did not converge in $maxIter rounds — raise maxIter " +
        "(graph diameter exceeds the bound)")
    canon.join(
      reach.filter(col("node") === col("b")).select("a", "b"),
      Seq("a", "b"), "left_anti")
  }

  /** Articulation points (cut vertices) of an UNDIRECTED graph — the
    * node twin of [[bridges]]: a node whose removal disconnects its
    * component. Exact by definition: per candidate node `c` (degree
    * ≥ 2 — a leaf can never cut), propagate reachability from c's
    * MINIMUM neighbor through every node EXCEPT `c`; `c` is an
    * articulation point iff some neighbor of `c` is never reached
    * (the neighbors fall into ≥ 2 components without `c`).
    *
    * Same output-complexity contract as [[bridges]] ((candidate,
    * node) state — run it on quotient-sized graphs), same per-round
    * shape and fail-fast.
    *
    * @return one `id` row per articulation point */
  def articulationPoints(edges: DataFrame, maxIter: Int = 50,
      ckpt: Checkpointer = Checkpointer.Local): DataFrame = {
    val canon = ckpt(edges.select(
        least(col(StartId), col(EndId)).as("a"),
        greatest(col(StartId), col(EndId)).as("b"))
      .filter(col("a") =!= col("b")).distinct())
    val adj = ckpt(canon.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(canon.select(col("b").as("src"), col("a").as("dst"))))
    val nbrs = adj.select(col("src").as("c"), col("dst").as("node"))
    val cand = nbrs.groupBy("c").agg(
        countDistinct(col("node")).as("_d"), min(col("node")).as("node"))
      .filter(col("_d") >= 2).drop("_d")
    var (reach, n) = ckptCount(ckpt, cand)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val step = reach.join(adj, col("node") === col("src"))
        .filter(col("dst") =!= col("c"))
        .select(col("c"), col("dst").as("node"))
      val (nxt, m) = ckptCount(ckpt, reach.unionByName(step).distinct())
      converged = m == n
      n = m
      reach = nxt
      i += 1
    }
    require(converged,
      s"articulationPoints did not converge in $maxIter rounds — " +
        "raise maxIter (graph diameter exceeds the bound)")
    nbrs.join(cand.select("c"), Seq("c"), "left_semi")
      .join(reach, Seq("c", "node"), "left_anti")
      .select(col("c").as("id")).distinct()
  }

  /** k-round neighborhood feature aggregation (message passing) — the
    * graph-augmented training-data prep step the structural tier never
    * covered: each round, every node replaces its feature vector with
    * an aggregate (`sum`/`max`/`min`/`mean`) of its neighbors' CURRENT
    * values — `in` pulls along edge direction (src→dst), `out` against
    * it, `both` over the symmetrized edge set. After k rounds each
    * node's columns summarize its k-hop neighborhood (the GCN/
    * GraphSAGE aggregation shape, without the learned weights).
    *
    * Semantics (oracle-replayable): a node with NO contributing
    * neighbor in a round gets NULL that round (standard SQL aggregate
    * over an empty group), and NULL values never contribute (SQL
    * aggregates skip them) — so the whole operator unrolls to k
    * exact join+GROUP BY layers. Keep features integral (long) when
    * bit-reproducibility across engines matters: `sum`/`max`/`min`
    * stay in exact BIGINT arithmetic through every round; `mean`
    * divides per round in double (use sum + a final degree division
    * when an exact mean is wanted — one float op, oracle-safe).
    *
    * Scale notes (100 TB): per round, ONE equi-join of the edge table
    * against the node-sized feature frame (AQE broadcasts it when it
    * fits) and one map-side-combinable groupBy on the destination —
    * the [[landmarkReachability]] shape with arithmetic instead of
    * BIT_OR; the vertex set rides a left join so feature-less rounds
    * keep every node; per-round checkpoints truncate lineage. Rounds
    * are bounded (k ≤ 16) — this is a feature builder, not a fixpoint.
    *
    * @return (`id`, one `<feat>_r<k>` column per input feature) */
  def neighborAgg(edges: DataFrame, features: DataFrame, idCol: String,
      featCols: Seq[String], rounds: Int = 1, direction: String = "in",
      agg: String = "sum",
      ckpt: Checkpointer = Checkpointer.Local): DataFrame = {
    require(rounds >= 1 && rounds <= 16,
      s"rounds must be in [1, 16] (got $rounds)")
    require(featCols.nonEmpty, "need at least one feature column")
    val aggFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      agg match {
        case "sum" => sum
        case "max" => max
        case "min" => min
        case "mean" => avg
        case other => throw new IllegalArgumentException(
          s"agg must be sum|max|min|mean (got $other)")
      }
    val fwd = edges.select(col(StartId).as("src"), col(EndId).as("dst"))
    val msg = direction match {
      case "in" => fwd
      case "out" => fwd.select(col("dst").as("src"), col("src").as("dst"))
      case "both" => fwd.unionAll(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      case other => throw new IllegalArgumentException(
        s"direction must be in|out|both (got $other)")
    }
    val names = featCols.map(f => f -> s"_graft_$f").toMap
    var cur = ckpt(features.select(
      (col(idCol).as("id") +:
        featCols.map(f => col(f).as(names(f)))): _*))
    val vertices = cur.select("id")
    for (_ <- 1 to rounds) {
      val agged = msg
        .join(cur.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(aggFn(col(names(featCols.head))).as(names(featCols.head)),
          featCols.tail.map(f => aggFn(col(names(f))).as(names(f))): _*)
      cur = ckpt(vertices.join(agged, Seq("id"), "left"))
    }
    cur.select((col("id") +:
      featCols.map(f => col(names(f)).as(s"${f}_r$rounds"))): _*)
  }

  /** EXACT maintenance of a [[neighborAgg]] feature store under edge
    * CHANGES — adds, deletes, or both in one call, because message
    * passing has a LOCALITY THEOREM the other stores lack: the
    * round-r value of node v depends only on the base features of
    * v's ≤ r-step in-neighborhood, so an edge change can alter
    * round-r values ONLY for nodes within r−1 message-direction hops
    * of a changed edge's head. Recomputing exactly that forward
    * closure from ground truth — over its own r-step in-closure
    * subgraph — reproduces the full recompute BIT-IDENTICALLY (exact
    * integer features; the spec and oracle assert it), with no
    * append-only/delete-only asymmetry: pass `groundTruthEdges` =
    * the post-change edge table and `changedEdges` = whatever rows
    * were added, deleted, or both (a CDC trigger passes the union).
    *
    * The in-closure depth argument (why the sub-run is exact): a node
    * read at round k sits ≤ r−k reverse hops from the affected set,
    * so closing the reverse neighborhood to depth r covers every
    * (node, round) pair the affected outputs transitively read; the
    * outermost layer contributes only base features, which are ground
    * truth. Values the sub-run computes for too-deep nodes can be
    * wrong (their in-edges are cut) — they are never read and never
    * emitted (only affected rows replace stored ones).
    *
    * Scale notes (100 TB): the affected and closure frames are
    * change-neighborhood-sized and broadcast into the semi-joins; the
    * corpus-sized edge table is scanned twice (one forward closure,
    * one induced-subgraph cut — an edge store bucketed by dst prunes
    * both); the sub-run's `rounds` join+groupBy rounds touch only the
    * closure subgraph; the stored aggregate frame is touched by one
    * anti-join and one union. Cost scales with the CHANGED
    * NEIGHBORHOOD, never the graph.
    *
    * @param groundTruthEdges the post-change edge table
    * @param changedEdges     the added and/or deleted rows (heads
    *                         seed the affected closure)
    * @param features         the base feature table (`idCol`,
    *                         `featCols`) — same frame `prevAgg` was
    *                         built from
    * @param prevAgg          stored [[neighborAgg]] output
    *                         (`id`, `<f>_r<rounds>`...)
    * @return refreshed (`id`, `<f>_r<rounds>`...), bit-identical to
    *         [[neighborAgg]] over `groundTruthEdges` */
  def maintainNeighborAgg(groundTruthEdges: DataFrame,
      changedEdges: DataFrame, features: DataFrame, prevAgg: DataFrame,
      idCol: String, featCols: Seq[String], rounds: Int = 1,
      direction: String = "in", agg: String = "sum",
      ckpt: Checkpointer = Checkpointer.Local): DataFrame = {
    require(rounds >= 1 && rounds <= 16,
      s"rounds must be in [1, 16] (got $rounds)")
    def toMsg(e: DataFrame) = {
      val fwd = e.select(col(StartId).as("src"), col(EndId).as("dst"))
      direction match {
        case "in" => fwd
        case "out" => fwd.select(col("dst").as("src"),
          col("src").as("dst"))
        case "both" => fwd.unionAll(
          fwd.select(col("dst").as("src"), col("src").as("dst")))
        case other => throw new IllegalArgumentException(
          s"direction must be in|out|both (got $other)")
      }
    }
    val msg = ckpt(toMsg(groundTruthEdges))
    val heads = toMsg(changedEdges).select(col("dst").as("id")).distinct()
    // forward closure: nodes whose round-r value can change
    val affected = ckpt(kHop(
      msg.select(col("src").as(StartId), col("dst").as(EndId)),
      heads, rounds - 1, ckpt).select("id"))
    // reverse closure to depth r: everything the affected outputs read
    val closure = ckpt(kHop(
      msg.select(col("dst").as(StartId), col("src").as(EndId)),
      affected, rounds, ckpt).select("id"))
    val subEdges = msg
      .join(broadcast(closure.withColumnRenamed("id", "src")),
        Seq("src"), "left_semi")
      .join(broadcast(closure.withColumnRenamed("id", "dst")),
        Seq("dst"), "left_semi")
      .select(col("src").as(StartId), col("dst").as(EndId))
    val subFeatures = features
      .join(broadcast(closure.withColumnRenamed("id", idCol)),
        Seq(idCol), "left_semi")
    val sub = neighborAgg(subEdges, subFeatures, idCol, featCols,
      rounds, direction = "in", agg = agg, ckpt = ckpt)
    val outCols = featCols.map(f => s"${f}_r$rounds")
    // anti/semi joins move their key first — keep the stored column
    // order for positional consumers
    val kept = prevAgg
      .join(broadcast(affected), Seq("id"), "left_anti")
      .select((col("id") +: outCols.map(col)): _*)
    val refreshed = sub.join(broadcast(affected), Seq("id"), "left_semi")
      .select((col("id") +: outCols.map(col)): _*)
    kept.unionByName(refreshed)
  }
}
