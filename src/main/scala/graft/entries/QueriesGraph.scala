package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.config.GraphConfig
import graft.functions.{GraftFunctions => GF, VectorFunctions => VF}
import graft.operators._
import graft.streaming.StreamingIngest

/** graph analytics G1-G27 (degrees ... incremental SCC, condensation, landmark reachability) — one slice of the [[SparkEntry]] driver contract
  * (36 queries). Chunks moved verbatim from SparkEntry.scala;
  * the assembled `queries`/`oracleSql` maps are unchanged. */
private[graft] object QueriesGraph {
  import EntryData._
  import OracleCtes._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- G1: per-node degree over a built edge table (the first Cypher
    // query anyone runs post-import, in-engine instead) ----
    "q_g1_degrees" -> ((s, dir) =>
      GraphOps.degrees(
        RelPipeline.foreignKeyEdges(
          t(s, dir, "customer"), "c_custkey", "c_custkey",
          t(s, dir, "orders"), "o_custkey", "o_orderkey"),
        "out")
        .orderBy("id")),

    // ---- G2: k-hop reachability (BFS as iterated joins) across the
    // heterogeneous customer→order→part graph; node ids live in disjoint
    // ranges via type offsets ----
    "q_g2_khop" -> ((s, dir) => {
      val custOrder = RelPipeline.foreignKeyEdges(
        t(s, dir, "customer"), "c_custkey", "c_custkey",
        t(s, dir, "orders"), "o_custkey", "o_orderkey")
        .select(col("start_id"), (col("end_id") + 1000000000L).as("end_id"))
      val orderPart = RelPipeline.joinTableEdges(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        t(s, dir, "orders"), "o_orderkey",
        t(s, dir, "part"), "p_partkey")
        .select((col("start_id") + 1000000000L).as("start_id"),
          (col("end_id") + 2000000000L).as("end_id"))
      val seeds = t(s, dir, "customer")
        .filter(col("c_custkey") < 5).select("c_custkey")
      GraphOps.kHop(custOrder.unionByName(orderPart), seeds, hops = 2)
        .orderBy("hop", "id")
    }),

    // ---- G3: PageRank over a heterogeneous graph (customer→nation,
    // supplier→nation, nation→region; node ids namespaced by ×4+tag so key
    // spaces don't collide). 3 iterations so the oracle can unroll the
    // power iteration in plain SQL; dangling mass (regions have no
    // out-edges) redistributes uniformly. ----
    "q_g3_pagerank" -> ((s, dir) => {
      GraphOps.pageRank(heteroEdges(s, dir),
        damping = 0.85, iterations = 3)
        .select(col("id"), round(col("rank"), 8).as("rank"))
        .orderBy("id")
    }),

    // ---- G3d: incremental PageRank — warm-start maintenance after an
    // edge delta, the q_g3 family's missing maintenance row. Stored
    // scores = q_g3's exact 3-round run on the base graph; the delta
    // removes the supplier→nation edges for suppliers 0..9 (their nodes
    // DROP — nothing points at a supplier), adds customer→region edges
    // for customers < 20 (out-degree 1→2 on survivors) and part-keyed
    // edges from a fresh 1000000+ id space (NEW nodes enter at the
    // uniform share). Two warm rounds off the renormalized carry; the
    // oracle unrolls base rounds r1..r3 then warm rounds w1..w2 with
    // the identical round SQL (OracleCtes.pageRankRoundSql). ----
    "q_g3d_pagerank_incremental" -> ((s, dir) => {
      val stored = GraphOps.pageRank(heteroEdges(s, dir),
        damping = 0.85, iterations = 3)
      GraphOps.incrementalPageRank(g3MutatedEdges(s, dir), stored,
        damping = 0.85, iterations = 2)
        .select(col("id"), round(col("rank"), 8).as("rank"))
        .orderBy("id")
    }),

    // ---- G3e: the PERSISTED rank store round-trip — the q_x3j/q_x2t
    // stored-path discipline applied to q_g3d: save the base scores
    // WITH their damping identity, then warm-start OFF THE LOADED
    // STORE (incrementalPageRankFromStore takes damping from the
    // meta — the caller cannot misalign it). SHARES q_g3d's oracle
    // verbatim, so any loss or drift through the store — a dropped
    // version, a stale commit, a damping mix-up — hash-mismatches. ----
    "q_g3e_rankstore_roundtrip" -> ((s, dir) => {
      val storeDir = freshRankStoreDir()
      GraphOps.saveRankStore(s, storeDir,
        GraphOps.pageRank(heteroEdges(s, dir), damping = 0.85,
          iterations = 3), damping = 0.85): Unit
      GraphOps.incrementalPageRankFromStore(s, storeDir,
        g3MutatedEdges(s, dir), iterations = 2)
        .select(col("id"), round(col("rank"), 8).as("rank"))
        .orderBy("id")
    }),

    // ---- G17: deterministic random walks (DeepWalk corpus) over the
    // symmetrized hetero graph — every step choice is a seeded md5-48
    // hash mod out-degree, so the oracle replays the exact trajectories
    // step by step ----
    "q_g17_random_walks" -> ((s, dir) => {
      val e = heteroEdges(s, dir)
      val sym = e.unionByName(e.select(col("end_id").as("start_id"),
        col("start_id").as("end_id")))
      val seeds = t(s, dir, "customer").filter(col("c_custkey") < 40)
        .select((col("c_custkey").cast("long") * 4).as("id"))
      GraphOps.randomWalks(sym, seeds, walkLength = 4)
        .orderBy("walk_id", "step")
    }),

    // ---- G17b: node2vec second-order biased walks — weights (return 1,
    // common 4, explore 2) are exact integers, so the cumulative-range
    // choice is replayed verbatim by the oracle; step 1 degenerates to
    // uniform (prev = seed ⇒ every neighbor is "common") ----
    "q_g17b_node2vec_walks" -> ((s, dir) => {
      val e = heteroEdges(s, dir)
      val sym = e.unionByName(e.select(col("end_id").as("start_id"),
        col("start_id").as("end_id")))
      val seeds = t(s, dir, "customer").filter(col("c_custkey") < 40)
        .select((col("c_custkey").cast("long") * 4).as("id"))
      GraphOps.biasedRandomWalks(sym, seeds, walkLength = 4)
        .orderBy("walk_id", "step")
    }),

    // ---- G18: HITS hubs & authorities over the directed hetero graph —
    // 3 L1-normalized power iterations; the oracle unrolls each half-step
    // (auth sum, normalize, hub sum, normalize) as MATERIALIZED CTEs and
    // ROUND(_, 8) absorbs summation-order ulps, as with PageRank ----
    "q_g18_hits" -> ((s, dir) => {
      GraphOps.hits(heteroEdges(s, dir), iterations = 3)
        .select(col("id"), round(col("hub"), 8).as("hub"),
          round(col("auth"), 8).as("auth"))
        .orderBy("id")
    }),

    // ---- G19: Luby maximal independent set over the (symmetrized)
    // hetero graph — per-round strict-local-min selection on the
    // portable md5-48 priority, so the oracle replays every round
    // exactly; mis_round certifies the round structure too ----
    "q_g19_mis" -> ((s, dir) => {
      GraphOps.maximalIndependentSet(heteroEdges(s, dir), seed = 42L)
        .orderBy("id")
    }),

    // ---- G3b: personalized PageRank — reset and dangling mass return to
    // the seed distribution (customers 0..9); ranks measure proximity to
    // the seeds. Same unrolled-SQL oracle scheme as q_g3. ----
    "q_g3b_ppr" -> ((s, dir) => {
      val seeds = t(s, dir, "customer").filter(col("c_custkey") < 10)
        .select((col("c_custkey").cast("long") * 4).as("id"))
      GraphOps.personalizedPageRank(heteroEdges(s, dir), seeds,
        damping = 0.85, iterations = 3)
        .select(col("id"), round(col("rank"), 8).as("rank"))
        .orderBy("id")
    }),

    // ---- G5: connected components on the heterogeneous graph — every
    // region's customers/suppliers/nations form one component. The oracle
    // derives each node's component from the known structure (min id per
    // region group), checking the generic min-label propagation against
    // ground truth. ----
    "q_g5_components" -> ((s, dir) =>
      GraphOps.connectedComponents(heteroEdges(s, dir)).orderBy("id")),

    // ---- G26: strongly connected components on the cyclic hetero
    // graph (region→nation and nation→customer back-edges planted, so
    // each region core is one real SCC and the supplier/customer
    // fringe stays singleton). Oracle: full directed transitive
    // closure by recursive CTE, then scc(v) = min u with reach(v,u)
    // AND reach(u,v) — the definition itself, independent of the
    // engine's forward–backward split. ----
    "q_g26_scc" -> ((s, dir) =>
      GraphOps.stronglyConnectedComponents(sccEdges(s, dir))
        .orderBy("id")),

    // ---- G26b: the condensation DAG over those SCCs — every edge of
    // the quotient graph (cust/supp singletons feeding their region
    // core; intra-core edges collapse away). ----
    // Labels from the shared fixture cache — the row times the
    // condensation joins themselves.
    "q_g26b_condensation" -> ((s, dir) =>
      GraphOps.condensation(sccEdges(s, dir),
          fullSccState(s, dir).labels)
        .orderBy("src_scc", "dst_scc")),

    // ---- G26d: EXACT incremental SCC maintenance — the base graph
    // (everything but the nation→customer back-edges) is labelled and
    // condensed first, then the back-edges arrive as the delta and
    // incrementalScc merges the affected SCCs on the QUOTIENT-sized
    // problem only. Oracle: q_g26's full-graph closure-derived SCC —
    // the incremental result must be bit-identical to the full
    // recompute (the theorem, checked end-to-end at both SFs). ----
    // Base labels/condensation come from the per-process fixture
    // cache (EntryData.baseSccState) — the row times the incremental
    // MAINTENANCE step, not a rebuild of what q_g26_scc already
    // times; the composed result is unchanged (the oracle pins it).
    "q_g26d_incr_scc" -> ((s, dir) => {
      val natCust = t(s, dir, "customer")
        .filter(col("c_custkey") % 3 === 0)
        .select((col("c_nationkey").cast("long") * 4 + 2).as("start_id"),
          (col("c_custkey").cast("long") * 4).as("end_id"))
      val base = baseSccState(s, dir)
      val st = GraphOps.incrementalScc(natCust, base.labels,
        base.quotient)
      st.labels.orderBy("id")
    }),

    // ---- G26f: EXACT decremental SCC maintenance — the takedown twin
    // of G26d: the full cyclic graph is labelled and condensed first,
    // then half the nation→customer back-edges (c_custkey % 6 == 0)
    // and the region→nation back-edges of every fifth nation are
    // DELETED; decrementalScc re-splits only the touched SCCs'
    // internal subgraph (customers fall out of their region core to
    // singletons; the deleted nations carry their remaining customers
    // off as separate SCCs). Oracle: the full-graph closure SCC over
    // the post-delete edge set — the decremental result must be
    // bit-identical to the full recompute. ----
    "q_g26f_decr_scc" -> ((s, dir) => {
      val all = sccEdges(s, dir)
      val deleted = t(s, dir, "customer")
        .filter(col("c_custkey") % 6 === 0)
        .select((col("c_nationkey").cast("long") * 4 + 2).as("start_id"),
          (col("c_custkey").cast("long") * 4).as("end_id"))
        .unionByName(t(s, dir, "nation")
          .filter(col("n_nationkey") % 5 === 0)
          .select((col("n_regionkey").cast("long") * 4 + 3).as("start_id"),
            (col("n_nationkey").cast("long") * 4 + 2).as("end_id")))
      val remaining = all.join(deleted, Seq("start_id", "end_id"),
        "left_anti")
      // full-graph labels/condensation from the fixture cache — the
      // row times the decremental re-split only
      val full = fullSccState(s, dir)
      val st = GraphOps.decrementalScc(remaining, deleted, full.labels,
        full.quotient)
      st.labels.orderBy("id")
    }),

    // ---- G28: k-round neighborhood feature aggregation (message
    // passing) over the hetero graph — every node's integer features
    // (id % 97, id % 13) summed over in-neighbors for 2 rounds, the
    // GCN-shape training-prep step. Exact BIGINT arithmetic; nodes
    // with no contributing neighbor are NULL per round (presented as
    // −1 so both engines hash identically). Oracle: the 2-round
    // hand-unrolled LEFT JOIN + GROUP BY rebuild. ----
    "q_g28_neighbor_agg" -> ((s, dir) => {
      val e = heteroEdges(s, dir)
      val nodes = e.select(col("start_id").as("id"))
        .unionByName(e.select(col("end_id").as("id"))).distinct()
      val f = nodes.select(col("id"), (col("id") % 97).as("fv"),
        (col("id") % 13).as("fw"))
      GraphOps.neighborAgg(e, f, "id", Seq("fv", "fw"), rounds = 2)
        .select(col("id"), coalesce(col("fv_r2"), lit(-1L)).as("fv_r2"),
          coalesce(col("fw_r2"), lit(-1L)).as("fw_r2"))
        .orderBy("id")
    }),

    // ---- G28b: EXACT incremental maintenance of the G28 feature
    // store — the supplier→nation edges arrive as a delta on top of
    // the customer/nation base graph; only the delta heads' 1-hop
    // forward closure recomputes, over its own 2-step in-closure
    // subgraph, from ground truth. Oracle: q_g28's full-graph rebuild
    // verbatim — the maintained store must be bit-identical (exact
    // integer sums; the locality theorem, checked end-to-end). ----
    "q_g28b_neighbor_agg_incr" -> ((s, dir) => {
      val all = heteroEdges(s, dir)
      val delta = t(s, dir, "supplier").select(
        (col("s_suppkey").cast("long") * 4 + 1).as("start_id"),
        (col("s_nationkey").cast("long") * 4 + 2).as("end_id"))
      val base = all.join(delta, Seq("start_id", "end_id"), "left_anti")
      val nodes = all.select(col("start_id").as("id"))
        .unionByName(all.select(col("end_id").as("id"))).distinct()
      val f = nodes.select(col("id"), (col("id") % 97).as("fv"),
        (col("id") % 13).as("fw"))
      val prev = GraphOps.neighborAgg(base, f, "id", Seq("fv", "fw"),
        rounds = 2)
      GraphOps.maintainNeighborAgg(all, delta, f, prev, "id",
          Seq("fv", "fw"), rounds = 2)
        .select(col("id"), coalesce(col("fv_r2"), lit(-1L)).as("fv_r2"),
          coalesce(col("fw_r2"), lit(-1L)).as("fw_r2"))
        .orderBy("id")
    }),

    // ---- G28c: the delete twin — the supplier edges are REMOVED
    // from the full graph and the same primitive (ground truth =
    // remaining, changed = deleted) refreshes the store. Oracle: the
    // 2-round rebuild over the remaining edge set, full-graph vertex
    // set. ----
    "q_g28c_neighbor_agg_decr" -> ((s, dir) => {
      val all = heteroEdges(s, dir)
      val deleted = t(s, dir, "supplier").select(
        (col("s_suppkey").cast("long") * 4 + 1).as("start_id"),
        (col("s_nationkey").cast("long") * 4 + 2).as("end_id"))
      val remaining = all.join(deleted, Seq("start_id", "end_id"),
        "left_anti")
      val nodes = all.select(col("start_id").as("id"))
        .unionByName(all.select(col("end_id").as("id"))).distinct()
      val f = nodes.select(col("id"), (col("id") % 97).as("fv"),
        (col("id") % 13).as("fw"))
      val prev = GraphOps.neighborAgg(all, f, "id", Seq("fv", "fw"),
        rounds = 2)
      GraphOps.maintainNeighborAgg(remaining, deleted, f, prev, "id",
          Seq("fv", "fw"), rounds = 2)
        .select(col("id"), coalesce(col("fv_r2"), lit(-1L)).as("fv_r2"),
          coalesce(col("fw_r2"), lit(-1L)).as("fw_r2"))
        .orderBy("id")
    }),

    // ---- G26g: one CDC maintenance step — the exact composition the
    // streaming twin applies per trigger: start from the BASE graph's
    // labels (everything but the nation→customer back-edges), ADD
    // those back-edges through incrementalScc (merges the region
    // cores), then DELETE the g26f edge set through decrementalScc
    // (splits them back apart) — two exact steps, so the result must
    // be bit-identical to a full recompute over the effective edge
    // set. Oracle: q_g26f's closure SCC verbatim (same effective
    // set). ----
    "q_g26g_cdc_scc" -> ((s, dir) => {
      val natCust = t(s, dir, "customer")
        .filter(col("c_custkey") % 3 === 0)
        .select((col("c_nationkey").cast("long") * 4 + 2).as("start_id"),
          (col("c_custkey").cast("long") * 4).as("end_id"))
      val back = t(s, dir, "nation").select(
        (col("n_regionkey").cast("long") * 4 + 3).as("start_id"),
        (col("n_nationkey").cast("long") * 4 + 2).as("end_id"))
      val base = heteroEdges(s, dir).unionByName(back)
      val deleted = t(s, dir, "customer")
        .filter(col("c_custkey") % 6 === 0)
        .select((col("c_nationkey").cast("long") * 4 + 2).as("start_id"),
          (col("c_custkey").cast("long") * 4).as("end_id"))
        .unionByName(t(s, dir, "nation")
          .filter(col("n_nationkey") % 5 === 0)
          .select((col("n_regionkey").cast("long") * 4 + 3).as("start_id"),
            (col("n_nationkey").cast("long") * 4 + 2).as("end_id")))
      // starting state from the fixture cache — the row times ONLY
      // the two maintenance steps the CDC trigger actually pays
      val baseSt = baseSccState(s, dir)
      val afterAdd = GraphOps.incrementalScc(natCust, baseSt.labels,
        baseSt.quotient)
      val remaining = base.unionByName(natCust)
        .join(deleted, Seq("start_id", "end_id"), "left_anti")
      val st = GraphOps.decrementalScc(remaining, deleted,
        afterAdd.labels, afterAdd.quotient)
      st.labels.orderBy("id")
    }),

    // ---- G29: bridges (cut edges) — the undirected connectivity QC
    // query: a star of 10-cycles (orders keys mod 100; node 5 of block
    // 0 hubs to every other block's entry node), so each hub spoke is
    // a genuine bridge while the in-block cycle edges are not. Exact
    // by definition (per-edge avoid-that-edge reachability, the
    // output-complexity probe-keyed propagation); oracle replays the
    // definition as a recursive CTE over (edge, node) states. ----
    "q_g29_bridges" -> ((s, dir) => {
      val r = t(s, dir, "orders")
        .select((col("o_orderkey") % 100).cast("long").as("r"))
        .distinct()
      val blockBase = col("r") - (col("r") % 10)
      val cyc = r.select(col("r").as("start_id"),
        (blockBase + ((col("r") % 10) + 1) % 10).as("end_id"))
      val hub = r.filter(col("r") % 10 === 0 && col("r") >= 10)
        .select(lit(5L).as("start_id"), col("r").as("end_id"))
      GraphOps.bridges(cyc.unionByName(hub)).orderBy("a", "b")
    }),

    // ---- G29b: articulation points (cut vertices) over the same
    // star-of-cycles graph — the hub node and every block entry must
    // cut; in-cycle nodes must not. Oracle: the definition (per
    // candidate, avoid-that-node reachability from its min neighbor,
    // articulation iff some neighbor is unreached). ----
    "q_g29b_articulation" -> ((s, dir) => {
      val r = t(s, dir, "orders")
        .select((col("o_orderkey") % 100).cast("long").as("r"))
        .distinct()
      val blockBase = col("r") - (col("r") % 10)
      val cyc = r.select(col("r").as("start_id"),
        (blockBase + ((col("r") % 10) + 1) % 10).as("end_id"))
      val hub = r.filter(col("r") % 10 === 0 && col("r") >= 10)
        .select(lit(5L).as("start_id"), col("r").as("end_id"))
      GraphOps.articulationPoints(cyc.unionByName(hub)).orderBy("id")
    }),

    // ---- G26c: topological levels over the condensation DAG — the
    // analysis users collapse cycles FOR: each SCC's longest-path
    // depth from the sources (parallel execution waves / dependency
    // staging). Oracle: WITH RECURSIVE walk extension over the
    // closure-derived quotient edges, max walk length per node — the
    // definition, independent of the engine's max-relaxation rounds. ----
    // Quotient from the shared fixture cache — the row times the
    // topological-level relaxation, not a base SCC rebuild.
    "q_g26c_topo_levels" -> ((s, dir) =>
      GraphOps.topologicalLevels(fullSccState(s, dir).quotient)
        .orderBy("scc")),

    // ---- G26e: exact descendant counts over the condensation DAG —
    // the impact-analysis query users collapse cycles FOR ("how many
    // downstream cycle clusters break"): path-doubling transitive
    // closure on the quotient, O(log depth) rounds. Oracle: the g26
    // closure-derived quotient edges + recursive reachability count
    // per source — the definition. ----
    // Quotient from the shared fixture cache — the row times the
    // path-doubling closure, not a base SCC rebuild.
    "q_g26e_desc_counts" -> ((s, dir) =>
      GraphOps.descendantCounts(fullSccState(s, dir).quotient)
        .orderBy("scc")),

    // ---- G27: bit-parallel multi-source reachability — 64 landmark
    // BFSs as ONE mask propagation (bit i of reach_mask ⇔ landmark i
    // reaches the node; bit order = landmark id rank). Landmarks: the
    // 5 region nodes of the cyclic hetero graph. Oracle: recursive
    // closure from each landmark, mask rebuilt by summing 2^bit —
    // the definition, bit-exact. ----
    "q_g27_landmark_reach" -> ((s, dir) => {
      val lms = t(s, dir, "region")
        .select((col("r_regionkey").cast("long") * 4 + 3).as("id"))
      GraphOps.landmarkReachability(sccEdges(s, dir), lms)
        .orderBy("id")
    }),

    // ---- G7: degree distribution — the histogram a graph-shape sanity
    // check starts with (hub detection, power-law eyeballing). ----
    "q_g7_degree_hist" -> ((s, dir) =>
      GraphOps.degrees(heteroEdges(s, dir), "in")
        .groupBy("degree").agg(count(lit(1)).as("n"))
        .orderBy("degree")),

    // ---- G6: weighted shortest paths (Bellman-Ford by iterated min-join)
    // from customers 0..9 over the heterogeneous graph with exact-quarter
    // edge weights ((key % 8)/4 + 1 — exact in binary, so every path sum
    // and min is bit-identical across engines and the doubles compare
    // directly, no rounding). Supplier edges are present but unreachable
    // from the seeds — absent from the output on both sides. The `via`
    // predecessor (min qualifying id on ties) is oracle-checked too. ----
    "q_g6_shortest_paths" -> ((s, dir) => {
      val seeds = t(s, dir, "customer").filter(col("c_custkey") < 10)
        .select((col("c_custkey").cast("long") * 4).as("id"))
      GraphOps.shortestPaths(weightedHeteroEdges(s, dir), seeds, Some("w"))
        .orderBy("id")
    }),

    // ---- G3c: WEIGHTED PageRank — transition probability proportional to
    // edge weight (w/Σw per source) instead of uniform; same 3-iteration
    // power method, oracled by the same unrolled-SQL scheme as q_g3 with
    // weight-sum out-degrees. Exact-quarter weights make the degree sums
    // order-independent. ----
    "q_g3c_pagerank_weighted" -> ((s, dir) =>
      GraphOps.pageRank(weightedHeteroEdges(s, dir), damping = 0.85,
        iterations = 3, weightCol = Some("w"))
        .select(col("id"), round(col("rank"), 8).as("rank"))
        .orderBy("id")),

    // ---- G4: triangle counting on the part co-occurrence graph (parts
    // sharing an order, 5% order subset to bound the clique expansion —
    // every ≥3-part order contributes triangles). Degree-ordered wedge
    // enumeration; the oracle triple-joins the canonical edge list. ----
    "q_g4_triangles" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val a = li.alias("a")
      val b = li.alias("b")
      val edges = a.join(b,
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("start_id"), col("b.pk").as("end_id"))
      GraphOps.triangleCounts(edges).orderBy("id")
    }),

    // ---- G8: common-neighbor link prediction (Adamic–Adar) on the part
    // co-occurrence graph — non-adjacent part pairs that share ≥2
    // co-purchase partners, scored Σ 1/ln(deg(z)). Float sum → e4
    // integerization. ----
    "q_g8_link_prediction" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val a = li.alias("a")
      val b = li.alias("b")
      val edges = a.join(b,
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("start_id"), col("b.pk").as("end_id"))
      GraphOps.linkPrediction(edges, minCommon = 2)
        .select(col("id_a"), col("id_b"), col("common"),
          floor(col("adamic_adar") * lit(1e4) + lit(0.5)).as("aa_e4"))
        .orderBy("id_a", "id_b")
    }),

    // ---- G12: local clustering coefficient on the part co-occurrence
    // graph — exact-integer inputs (tri, deg) through one correctly-
    // rounded division, so the e6 integerization is engine-stable ----
    "q_g12_clustering" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val a = li.alias("a")
      val b = li.alias("b")
      val edges = a.join(b,
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("start_id"), col("b.pk").as("end_id"))
      GraphOps.clusteringCoefficients(edges)
        .select(col("id"), col("degree"), col("n_triangles"),
          floor(col("clustering") * 1e6 + 0.5).cast("long").as("c_e6"))
        .orderBy("id")
    }),

    // ---- G11: sampled harmonic centrality on the part co-occurrence
    // graph — 3 landmark seeds, 6-hop cap; the compared sum is Σ 60/d,
    // EXACT integer arithmetic (60 = lcm(1..6)), so no float ever enters
    // the hash ----
    "q_g11_harmonic" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val a = li.alias("a")
      val b = li.alias("b")
      val edges = a.join(b,
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("start_id"), col("b.pk").as("end_id"))
      val seeds = edges.select(col("start_id").as("id"))
        .unionAll(edges.select(col("end_id").as("id")))
        .distinct().orderBy("id").limit(3)
      GraphOps.seedDistances(edges, seeds, maxHops = 6)
        .filter(col("d") > 0)
        .groupBy("id")
        .agg(sum(expr("60 div d")).as("harmonic_x60"),
          count(lit(1)).as("n_reached"))
        .orderBy("id")
    }),

    // ---- G13: sampled closeness centrality — same 3-landmark BFS as
    // G11; sum_dist and n_reached are exact integers and closeness_e6
    // integerizes the one correctly-rounded double division ----
    "q_g13_closeness" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val a = li.alias("a")
      val b = li.alias("b")
      val edges = a.join(b,
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("start_id"), col("b.pk").as("end_id"))
      val seeds = edges.select(col("start_id").as("id"))
        .unionAll(edges.select(col("end_id").as("id")))
        .distinct().orderBy("id").limit(3)
      GraphOps.closenessCentrality(edges, seeds, maxHops = 6)
        .select(col("id"), col("sum_dist"), col("n_reached"),
          floor(col("closeness") * lit(1e6) + lit(0.5)).as("closeness_e6"))
        .orderBy("id")
    }),

    // ---- G16: degree assortativity — exact decimal(38,0) moments (long
    // sums would wrap for ~1e9-degree hubs at scale), then ONE double
    // Pearson formula; the oracle mirrors the same double evaluation
    // order (cast each exact sum to DOUBLE, then n*sxy - sx*sy), so both
    // engines run the same correctly-rounded IEEE ops; e6 floor only
    // guards the compare ----
    "q_g16_assortativity" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val a = li.alias("a")
      val b = li.alias("b")
      val edges = a.join(b,
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("start_id"), col("b.pk").as("end_id"))
      GraphOps.degreeAssortativity(edges)
        .select(floor(col("r") * 1e6 + 0.5).cast("long").as("r_e6"),
          col("n_edges"), col("n_nodes"))
    }),

    // ---- G15: per-seed eccentricity — the sampled diameter estimator
    // over the same 3-seed BFS; exact integers end to end ----
    "q_g15_eccentricity" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val a = li.alias("a")
      val b = li.alias("b")
      val edges = a.join(b,
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("start_id"), col("b.pk").as("end_id"))
      val seeds = edges.select(col("start_id").as("id"))
        .unionAll(edges.select(col("end_id").as("id")))
        .distinct().orderBy("id").limit(3)
      GraphOps.eccentricity(edges, seeds, maxHops = 6)
        .orderBy("seed")
    }),

    // ---- G14: sampled betweenness (truncated Brandes) — same 3-seed
    // co-occurrence graph as G13; σ are exact integers, δ the one
    // floating sweep, e4-integerized. The oracle unrolls forward layers
    // AND the backward dependency sweep. ----
    "q_g14_betweenness" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val a = li.alias("a")
      val b = li.alias("b")
      val edges = a.join(b,
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("start_id"), col("b.pk").as("end_id"))
      val seeds = edges.select(col("start_id").as("id"))
        .unionAll(edges.select(col("end_id").as("id")))
        .distinct().orderBy("id").limit(3)
      GraphOps.betweennessCentrality(edges, seeds, maxHops = 4)
        .select(col("id"),
          floor(col("betweenness") * 1e4 + 0.5).cast("long").as("bc_e4"),
          col("n_seeds"))
        .orderBy("id")
    }),

    // ---- G10: label-propagation communities on the part co-occurrence
    // graph — 2 synchronous rounds (deterministic min-label tie-break), so
    // the oracle can unroll them exactly in SQL ----
    "q_g10_lpa" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val a = li.alias("a")
      val b = li.alias("b")
      val edges = a.join(b,
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("start_id"), col("b.pk").as("end_id"))
      GraphOps.labelPropagation(edges, iters = 2).orderBy("id")
    }),

    // ---- G9: k-core membership on the part co-occurrence graph. The
    // oracle unrolls the peeling as a fixed 12-round CTE chain: peeling
    // past the fixpoint is the identity, and this graph reaches its
    // fixpoint in 8 rounds at sf0.01 (measured; the margin absorbs data
    // regen drift), so the bounded unroll is EXACT — same trick as the
    // unrolled PageRank power method. Peeling semantics are additionally
    // pinned by GraphOpsSpec (K4+pendant, path-to-empty, cycle-stable). ----
    "q_g9_kcore" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val a = li.alias("a")
      val b = li.alias("b")
      val edges = a.join(b,
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("start_id"), col("b.pk").as("end_id"))
      GraphOps.kCore(edges, k = 4).orderBy("id")
    }),

    // ---- G20: k-truss edge peeling on the same co-occurrence graph as
    // G9 — every surviving edge sits in ≥ k−2 triangles among survivors.
    // The oracle unrolls the peeling as a MATERIALIZED CTE chain like
    // k-core; fixpoint depth is measured at sf0.01 with margin. ----
    "q_g20_ktruss" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val a = li.alias("a")
      val b = li.alias("b")
      val edges = a.join(b,
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("start_id"), col("b.pk").as("end_id"))
      GraphOps.kTruss(edges, k = 4).orderBy("a", "b")
    }),

    // ---- G21: Newman modularity of the 2-round LPA partition on the
    // part co-occurrence graph — every moment (intra-edge count, degree
    // sum, |E|) is an exact integer; q_c is two divisions per community,
    // operand shapes mirrored by the oracle, e6-integerized. ----
    "q_g21_modularity" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val a = li.alias("a")
      val b = li.alias("b")
      val edges = a.join(b,
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("start_id"), col("b.pk").as("end_id"))
      val comm = GraphOps.labelPropagation(edges, iters = 2)
      GraphOps.modularity(edges, comm)
        .select(col("community"), col("n_nodes"), col("m_in"),
          col("d_tot"),
          floor(col("q_c") * lit(1e6) + lit(0.5)).cast("long")
            .as("q_e6"))
        .orderBy("community")
    }),

    // ---- G22: power-law degree exponent (continuous MLE) on the same
    // graph — the log-sum is per-term 1e9-integerized over the distinct-
    // degree histogram and summed exactly, so alpha is partition-order
    // independent and the oracle rebuilds it bit-for-bit. ----
    "q_g22_powerlaw" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val a = li.alias("a")
      val b = li.alias("b")
      val edges = a.join(b,
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("start_id"), col("b.pk").as("end_id"))
      GraphOps.powerLawFit(edges)
        .select(col("n_nodes"), col("d_min"),
          floor(col("alpha") * lit(1e6) + lit(0.5)).cast("long")
            .as("alpha_e6"),
          floor(col("alpha_se") * lit(1e6) + lit(0.5)).cast("long")
            .as("se_e6"))
    }),

    // ---- G23: two-level Louvain community detection on the same part
    // co-occurrence graph as G10 — 4 synchronous modularity-greedy
    // rounds on the "ugug" schedule (ungated coalescing rounds
    // alternating with md5-48-parity-gated ones; exact integer gain
    // comparison), a coarsen into the weighted community supergraph,
    // 4 weighted rounds there, labels projected back. The oracle
    // unrolls every round as a CTE exactly like the LPA/k-core
    // unrolls (weighted rounds sum w instead of counting).
    // GraphOpsSpec pins the planted two-clique recovery and
    // weighted/coarsened behavior; the modularity win over q_g10's
    // LPA partition is recorded by q_g23b below. ----
    "q_g23_louvain" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val a = li.alias("a")
      val b = li.alias("b")
      // pinned: the quadratic co-occurrence self-join otherwise
      // re-executes once per consumer inside the pipeline (louvain's
      // canon + the coarsen pass each derive their own canon from it)
      val edges = Checkpointer.Local(a.join(b,
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("start_id"), col("b.pk").as("end_id")))
      GraphOps.louvainMultiLevel(edges).orderBy("id")
    }),

    // ---- G24: Leiden-refined Louvain on the same graph — the q_g23
    // partition with every internally disconnected community split
    // into its connected parts (min-label CC over intra edges), so the
    // output is guaranteed connected and Q ≥ q_g23's by construction.
    // The oracle replays the g23 unroll then the refinement as a
    // recursive min-label reachability CTE. ----
    "q_g24_leiden" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val a = li.alias("a")
      val b = li.alias("b")
      // pinned: louvain canon + coarsen + leidenRefine each re-derive
      // the quadratic self-join without the cut (3 executions)
      val edges = Checkpointer.Local(a.join(b,
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("start_id"), col("b.pk").as("end_id")))
      GraphOps.leiden(edges).orderBy("id")
    }),

    // ---- G24b: WEIGHTED Leiden on the q_j7 co-occurrence graph — the
    // real-user shape: parts sharing ≥2 orders, edge weight = shared
    // order count, so strongly co-bought parts pull harder than
    // one-off pairings. weightCol threads the weights through both
    // louvain levels (fine rounds sum w instead of counting; coarsen
    // sums fine w); the refinement is weight-blind (connectivity).
    // Oracle: the weighted unroll (louvainWeightedOracleCtes) + the
    // g24 recursive min-label refinement replay. ----
    "q_g24b_leiden_weighted" -> ((s, dir) => {
      val (edges0, _) = RelPipeline.cooccurrenceEdges(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        maxGroupSize = 10, minCount = 2L)
      // pinned (same reason as q_g24): three pipeline consumers
      val edges = Checkpointer.Local(edges0)
      GraphOps.leiden(edges, weightCol = Some("weight")).orderBy("id")
    }),

    // ---- G25: delta-local incremental community maintenance — stored
    // labels are the min-label CC of the OLD co-occurrence graph
    // (orders ≡ 0 mod 40); a DELTA of new orders (≡ 20 mod 200)
    // arrives; only the delta's 2-hop region re-runs 2 seeded gated
    // Louvain rounds, everything else keeps its stored label
    // verbatim. Oracle: recursive-CTE CC for the seed + unrolled
    // 2-hop region + the seeded gated round unroll + the kept/region
    // union. ----
    // Stored labels come from the per-process fixture cache
    // (EntryData.g25PrevLabels) — the row times the seeded-region
    // maintenance step, not the CC seed all three G25 rows share.
    "q_g25_incr_communities" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      def pairsOf(orders: DataFrame) = {
        val a = orders.alias("a"); val b = orders.alias("b")
        a.join(b, col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .select(col("a.pk").as("start_id"), col("b.pk").as("end_id"))
      }
      val delta = pairsOf(li.filter(col("ok") % 200 === 20))
      val all = pairsOf(li.filter(
        col("ok") % 40 === 0 || col("ok") % 200 === 20))
      GraphOps.incrementalCommunities(all, delta, g25PrevLabels(s, dir),
        rounds = 2, hops = 2).orderBy("id")
    }),

    // ---- G25f: decremental community maintenance — the takedown twin
    // of G25: stored labels are the min-label CC of the old
    // co-occurrence graph (orders ≡ 0 mod 40); every third old
    // order's clique (≡ 0 mod 120) is DELETED; the touched
    // communities' members rebuild with 2 gated Louvain rounds from
    // SINGLETON seeds over their induced remaining subgraph (a delete
    // can disconnect a community — singleton seeds let each half
    // coalesce separately), everyone else keeps their stored label
    // verbatim. Oracle: recursive-CTE CC for the stored labels +
    // touched-community selection + the singleton-seeded gated round
    // unroll over the induced remaining edges + the kept/members
    // union with the engine's new→singleton coalesce. ----
    "q_g25f_decr_communities" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      def pairsOf(orders: DataFrame) = {
        val a = orders.alias("a"); val b = orders.alias("b")
        a.join(b, col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .select(col("a.pk").as("start_id"), col("b.pk").as("end_id"))
          .distinct()
      }
      val old = pairsOf(li.filter(col("ok") % 40 === 0))
      val deleted = pairsOf(li.filter(col("ok") % 120 === 0))
      val remaining = old.join(deleted, Seq("start_id", "end_id"),
        "left_anti")
      GraphOps.decrementalCommunities(remaining, deleted,
        g25PrevLabels(s, dir), rounds = 2).orderBy("id")
    }),

    // ---- G25g: one CDC community-maintenance step — the exact
    // composition streamingCommunitiesCdc applies on a mixed trigger:
    // start from the stored CC labels of the old graph (mod-40
    // orders), ADD the delta orders' pairs (mod-200 ≡ 20) through
    // incrementalCommunities (the adds land in the pre-delete world —
    // the asOfAdds fold), then DELETE the mod-120 orders' cliques
    // through decrementalCommunities from effective-remaining ground
    // truth. Oracle: both stage unrolls composed — q_g25's seeded
    // region rounds feeding q_g25f's singleton touched-community
    // rounds (separate m tables per stage's subgraph). ----
    "q_g25g_cdc_communities" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      def pairsOf(orders: DataFrame) = {
        val a = orders.alias("a"); val b = orders.alias("b")
        a.join(b, col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .select(col("a.pk").as("start_id"), col("b.pk").as("end_id"))
          .distinct()
      }
      val delta = pairsOf(li.filter(col("ok") % 200 === 20))
      // pinned: `all` feeds the remaining anti-join AND the add stage's
      // canon; `edel` feeds the anti-join AND the delete stage — each
      // a quadratic pair join re-executed per consumer without the cut
      val all = Checkpointer.Local(pairsOf(li.filter(
        col("ok") % 40 === 0 || col("ok") % 200 === 20)))
      val edel = Checkpointer.Local(pairsOf(
        li.filter(col("ok") % 120 === 0)))
      val remaining = all.join(edel, Seq("start_id", "end_id"),
        "left_anti")
      val inter = GraphOps.incrementalCommunities(all, delta,
        g25PrevLabels(s, dir), rounds = 2, hops = 2)
      GraphOps.decrementalCommunities(remaining, edel, inter,
        rounds = 2).orderBy("id")
    }),

    // ---- G23b: the Louvain-vs-LPA modularity scoreboard on the hetero
    // graph — both partitions scored by the same exact-moment
    // modularity, 1 row each, Q integerized at e6. The row ORDER pins
    // the claim: louvain's whole-graph Q must not lose to LPA's. ----
    "q_g23b_louvain_vs_lpa" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val a = li.alias("a")
      val b = li.alias("b")
      // pinned: SIX consumers re-derive the quadratic self-join
      // without the cut (louvain canon, coarsen, LPA adjacency, two
      // modularity scoreboards, the m row)
      val edges = Checkpointer.Local(a.join(b,
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("start_id"), col("b.pk").as("end_id")))
      // Whole-graph Q from EXACT integer moments (Σm_in, Σd_tot²)
      // rather than a double sum over per-community q_c — the latter is
      // summation-order-dependent and would flake the e6 floor.
      val mRow = broadcast(edges.select(
          least(col("start_id"), col("end_id")).as("a"),
          greatest(col("start_id"), col("end_id")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
        .agg(count(lit(1)).as("_m")))
      def q(method: String, labels: org.apache.spark.sql.DataFrame) =
        GraphOps.modularity(edges, labels)
          .agg(sum(col("m_in").cast("decimal(38,0)")).as("_sin"),
            sum(col("d_tot").cast("decimal(19,0)") *
              col("d_tot").cast("decimal(19,0)")).as("_sd2"),
            count(lit(1)).as("n_comms"))
          .crossJoin(mRow)
          .select(lit(method).as("method"),
            floor((col("_sin").cast("double") / col("_m").cast("double") -
              col("_sd2").cast("double") /
                (col("_m").cast("double") * col("_m").cast("double") * 4))
              * lit(1e6) + lit(0.5)).cast("long").as("q_e6"),
            col("n_comms"))
      // The two legs are independent eager pipelines over the same
      // checkpointed edge frame (louvain: 8 move rounds; LPA: 2) —
      // build them from separate threads (guide §2.6) so each leg's
      // per-round driver work and job tails back-fill the executors
      // the other leaves idle. Results are frames either way; the
      // union below is identical.
      val Seq(louv, lpa) = Concurrently.map(Seq[() => DataFrame](
        () => GraphOps.louvainMultiLevel(edges),
        () => GraphOps.labelPropagation(edges, iters = 2)))(_())
      q("louvain", louv)
        .unionAll(q("lpa", lpa))
        .orderBy("method")
    }),
  )

  // q_g3d/q_g3e's shared oracle (the stored path must reproduce the
  // in-memory warm start exactly): q_g3's 3-round base replay, the
  // edge delta, the renormalized warm start off RAW (unrounded) r3,
  // and two warm rounds with the identical round SQL.
  private def g3dWarmStartSql: String = {
    val baseRounds = Seq(("r0", "r1"), ("r1", "r2"), ("r2", "r3"))
      .map { case (p, o) =>
        pageRankRoundSql(p, o, "e", "deg", "n", "c") }.mkString(",\n")
    val warmRounds = Seq(("w0", "w1"), ("w1", "w2"))
      .map { case (p, o) =>
        pageRankRoundSql(p, o, "e2", "deg2", "n2", "c2") }
      .mkString(",\n")
      s"""WITH e AS (
         |  SELECT c_custkey*4 AS src, c_nationkey*4+2 AS dst FROM customer
         |  UNION ALL
         |  SELECT s_suppkey*4+1, s_nationkey*4+2 FROM supplier
         |  UNION ALL
         |  SELECT n_nationkey*4+2, n_regionkey*4+3 FROM nation),
         |n AS (SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         |c AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM n),
         |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS d FROM e GROUP BY src),
         |r0 AS (SELECT id, 1.0/(SELECT nn FROM c) AS r FROM n),
         |$baseRounds,
         |e2 AS (
         |  SELECT src, dst FROM e WHERE NOT (src % 4 = 1 AND src < 40)
         |  UNION ALL
         |  SELECT c_custkey*4, (c_custkey % 5)*4 + 3 FROM customer
         |  WHERE c_custkey < 20
         |  UNION ALL
         |  SELECT p_partkey + 1000000, (p_partkey % 5)*4 + 3 FROM part
         |  WHERE p_partkey < 15),
         |n2 AS (SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM e2 UNION ALL SELECT dst FROM e2)),
         |c2 AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM n2),
         |deg2 AS (SELECT src, CAST(count(*) AS DOUBLE) AS d FROM e2
         |  GROUP BY src),
         |wi AS (SELECT n2.id, COALESCE(r3.r, 1.0/(SELECT nn FROM c2)) AS r
         |       FROM n2 LEFT JOIN r3 USING (id)),
         |w0 AS (SELECT id, r/(SELECT sum(r) FROM wi) AS r FROM wi),
         |$warmRounds
         |SELECT id, ROUND(r, 8) AS rank FROM w2 ORDER BY id""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "q_g20_ktruss" -> ktrussUnrolledOracle,

    "q_g1_degrees" ->
      """SELECT c_custkey AS id, count(*) AS degree
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY id""".stripMargin,

    "q_g2_khop" ->
      """WITH e AS (
        |  SELECT c_custkey AS s, o_orderkey + 1000000000 AS d
        |  FROM customer JOIN orders ON c_custkey = o_custkey
        |  UNION ALL
        |  SELECT l_orderkey + 1000000000, l_partkey + 2000000000
        |  FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders)
        |    AND l_partkey IN (SELECT p_partkey FROM part)
        |), seeds AS (
        |  SELECT c_custkey AS id FROM customer WHERE c_custkey < 5
        |), h1 AS (
        |  SELECT DISTINCT e.d AS id FROM e JOIN seeds ON e.s = seeds.id
        |), h2 AS (
        |  SELECT DISTINCT e.d AS id FROM e JOIN h1 ON e.s = h1.id
        |)
        |SELECT id, 0 AS hop FROM seeds
        |UNION ALL
        |SELECT id, 1 FROM h1 WHERE id NOT IN (SELECT id FROM seeds)
        |UNION ALL
        |SELECT id, 2 FROM h2 WHERE id NOT IN (SELECT id FROM seeds)
        |  AND id NOT IN (SELECT id FROM h1)
        |ORDER BY hop, id""".stripMargin,

    // The 3-iteration power method unrolled: rank'(v) = 0.15/N + 0.85 *
    // (inflow + dangling/N). Both sides compute in IEEE double from the
    // same uniform start vector; ROUND(_, 8) absorbs summation-order ulps.
    // Walk replay: ranked/deg'd symmetric adjacency, then 4 unrolled
    // steps, each picking rank = md5-48("42:wid:t:node") mod degree —
    // byte-identical to the engine's PortableHash.hash48 string.
    "q_g17_random_walks" -> {
      val steps = (1 to 4).map { t =>
        s""",
           |w$t AS MATERIALIZED (
           |  SELECT w.walk_id, a.dst AS node
           |  FROM w${t - 1} w JOIN adj a ON a.src = w.node
           |   AND a.r = CAST(concat('0x', substr(md5(concat(
           |       42, ':', w.walk_id, ':', $t, ':', w.node)), 1, 12))
           |     AS BIGINT) % a.deg)""".stripMargin
      }.mkString
      val unions = (1 to 4).map { t =>
        s"""
           |UNION ALL SELECT walk_id, $t, node FROM w$t""".stripMargin
      }.mkString
      s"""WITH e0 AS (
         |  SELECT c_custkey*4 AS src, c_nationkey*4+2 AS dst FROM customer
         |  UNION ALL
         |  SELECT s_suppkey*4+1, s_nationkey*4+2 FROM supplier
         |  UNION ALL
         |  SELECT n_nationkey*4+2, n_regionkey*4+3 FROM nation),
         |e AS (SELECT DISTINCT src, dst FROM
         |  (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)),
         |adj AS MATERIALIZED (
         |  SELECT src, dst,
         |    row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS r,
         |    count(*) OVER (PARTITION BY src) AS deg
         |  FROM e),
         |w0 AS (SELECT c_custkey*4 AS walk_id, c_custkey*4 AS node
         |       FROM customer WHERE c_custkey < 40)$steps
         |SELECT walk_id, CAST(step AS BIGINT) AS step, node FROM (
         |  SELECT walk_id, 0 AS step, node FROM w0$unions)
         |ORDER BY walk_id, step""".stripMargin
    },

    // node2vec: each unrolled step scores the current node's neighbors
    // (return 1 / common 4 / explore 2 — EXISTS probes the prev→dst
    // edge), lays them on an exact cumulative-weight line ordered by
    // dst, and lands the md5-48 pick in its range. Integer arithmetic
    // throughout — no rounding anywhere.
    "q_g17b_node2vec_walks" -> {
      val steps = (1 to 4).map { t =>
        val p = t - 1
        s""",
           |c$t AS MATERIALIZED (
           |  SELECT w.walk_id, w.node, w.prev, a.dst,
           |    CASE WHEN a.dst = w.prev THEN 1
           |      WHEN EXISTS (SELECT 1 FROM e x
           |        WHERE x.src = w.prev AND x.dst = a.dst) THEN 4
           |      ELSE 2 END AS wt
           |  FROM w$p w JOIN e a ON a.src = w.node),
           |w$t AS MATERIALIZED (
           |  SELECT walk_id, dst AS node, node AS prev FROM (
           |    SELECT walk_id, node, dst, wt,
           |      sum(wt) OVER (PARTITION BY walk_id ORDER BY dst
           |        ROWS UNBOUNDED PRECEDING) AS cum,
           |      sum(wt) OVER (PARTITION BY walk_id) AS tot
           |    FROM c$t)
           |  WHERE (CAST(concat('0x', substr(md5(concat(
           |      42, ':', walk_id, ':', $t, ':', node)), 1, 12))
           |    AS BIGINT) % tot) BETWEEN cum - wt AND cum - 1)""".stripMargin
      }.mkString
      val unions = (1 to 4).map { t =>
        s"""
           |UNION ALL SELECT walk_id, $t, node FROM w$t""".stripMargin
      }.mkString
      s"""WITH e0 AS (
         |  SELECT c_custkey*4 AS src, c_nationkey*4+2 AS dst FROM customer
         |  UNION ALL
         |  SELECT s_suppkey*4+1, s_nationkey*4+2 FROM supplier
         |  UNION ALL
         |  SELECT n_nationkey*4+2, n_regionkey*4+3 FROM nation),
         |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM
         |  (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)
         |  WHERE src <> dst),
         |w0 AS (SELECT c_custkey*4 AS walk_id, c_custkey*4 AS node,
         |       c_custkey*4 AS prev
         |       FROM customer WHERE c_custkey < 40)$steps
         |SELECT walk_id, CAST(step AS BIGINT) AS step, node FROM (
         |  SELECT walk_id, 0 AS step, node FROM w0$unions)
         |ORDER BY walk_id, step""".stripMargin
    },

    // Luby MIS: 8 unrolled rounds (fixpoint at sf0.01 is 4 — unrolling
    // past it is the identity). Each round: neighbor-min of the md5-48
    // priority over still-active nodes, strict-min (or isolated)
    // selection, then selected + their neighbors leave the active set.
    "q_g19_mis" -> {
      val rounds = (1 to 8).map { r =>
        val p = r - 1
        s""",
           |s$r AS MATERIALIZED (
           |  SELECT a.id FROM a$p a
           |  LEFT JOIN (
           |    SELECT s.src AS id, min(t.p) AS m
           |    FROM sym s JOIN a$p t ON t.id = s.dst
           |    GROUP BY s.src) nm ON nm.id = a.id
           |  WHERE nm.m IS NULL OR a.p < nm.m),
           |a$r AS MATERIALIZED (
           |  SELECT a.id, a.p FROM a$p a
           |  WHERE a.id NOT IN (SELECT id FROM s$r)
           |    AND a.id NOT IN (SELECT s.dst FROM sym s
           |      JOIN s$r x ON x.id = s.src))""".stripMargin
      }.mkString
      val unions = (2 to 8).map { r =>
        s"""
           |  UNION ALL SELECT id, $r AS mis_round FROM s$r""".stripMargin
      }.mkString
      s"""WITH e0 AS (
         |  SELECT c_custkey*4 AS src, c_nationkey*4+2 AS dst FROM customer
         |  UNION ALL
         |  SELECT s_suppkey*4+1, s_nationkey*4+2 FROM supplier
         |  UNION ALL
         |  SELECT n_nationkey*4+2, n_regionkey*4+3 FROM nation),
         |sym AS MATERIALIZED (SELECT DISTINCT src, dst FROM
         |  (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)
         |  WHERE src <> dst),
         |a0 AS MATERIALIZED (
         |  SELECT id, CAST(concat('0x', substr(md5(concat(
         |      42, ':', id)), 1, 12)) AS BIGINT) AS p
         |  FROM (SELECT DISTINCT src AS id FROM sym))$rounds
         |SELECT id, CAST(mis_round AS BIGINT) AS mis_round
         |FROM (SELECT id, 1 AS mis_round FROM s1$unions)
         |ORDER BY id""".stripMargin
    },

    // HITS: each iteration's two half-steps unrolled — raw auth inflow,
    // L1 normalize, raw hub outflow, L1 normalize — with the normalizer
    // as a scalar subquery over the raw CTE (DuckDB's group-sum order
    // differs from Spark's; ROUND 8 absorbs it, the PageRank precedent).
    "q_g18_hits" -> {
      val iters = (1 to 3).map { i =>
        val p = i - 1
        s""",
           |ar$i AS MATERIALIZED (
           |  SELECT e.dst AS id, sum(s$p.hub) AS a FROM e
           |  JOIN s$p ON s$p.id = e.src GROUP BY e.dst),
           |a$i AS MATERIALIZED (
           |  SELECT n.id, COALESCE(r.a, 0) / (SELECT sum(a) FROM ar$i)
           |    AS auth
           |  FROM n LEFT JOIN ar$i r USING (id)),
           |hr$i AS MATERIALIZED (
           |  SELECT e.src AS id, sum(a$i.auth) AS h FROM e
           |  JOIN a$i ON a$i.id = e.dst GROUP BY e.src),
           |s$i AS MATERIALIZED (
           |  SELECT n.id, COALESCE(r.h, 0) / (SELECT sum(h) FROM hr$i)
           |    AS hub, a$i.auth
           |  FROM n LEFT JOIN hr$i r USING (id)
           |  JOIN a$i ON a$i.id = n.id)""".stripMargin
      }.mkString
      s"""WITH e AS (
         |  SELECT c_custkey*4 AS src, c_nationkey*4+2 AS dst FROM customer
         |  UNION ALL
         |  SELECT s_suppkey*4+1, s_nationkey*4+2 FROM supplier
         |  UNION ALL
         |  SELECT n_nationkey*4+2, n_regionkey*4+3 FROM nation),
         |n AS (SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         |s0 AS (SELECT id, CAST(1 AS DOUBLE) AS hub,
         |       CAST(1 AS DOUBLE) AS auth FROM n)$iters
         |SELECT id, ROUND(hub, 8) AS hub, ROUND(auth, 8) AS auth
         |FROM s3 ORDER BY id""".stripMargin
    },

    "q_g3_pagerank" ->
      """WITH e AS (
        |  SELECT c_custkey*4 AS src, c_nationkey*4+2 AS dst FROM customer
        |  UNION ALL
        |  SELECT s_suppkey*4+1, s_nationkey*4+2 FROM supplier
        |  UNION ALL
        |  SELECT n_nationkey*4+2, n_regionkey*4+3 FROM nation),
        |n AS (SELECT DISTINCT id FROM
        |  (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |c AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM n),
        |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS d FROM e GROUP BY src),
        |r0 AS (SELECT id, 1.0/(SELECT nn FROM c) AS r FROM n),
        |d0 AS (SELECT COALESCE(sum(r), 0) AS s FROM r0
        |       WHERE id NOT IN (SELECT src FROM e)),
        |r1 AS (SELECT n.id, (1 - 0.85)/(SELECT nn FROM c) + 0.85*(COALESCE(f.s, 0)
        |         + (SELECT s FROM d0)/(SELECT nn FROM c)) AS r
        |       FROM n LEFT JOIN (
        |         SELECT e.dst AS id, sum(r0.r/deg.d) AS s FROM e
        |         JOIN r0 ON r0.id = e.src JOIN deg ON deg.src = e.src
        |         GROUP BY e.dst) f USING (id)),
        |d1 AS (SELECT COALESCE(sum(r), 0) AS s FROM r1
        |       WHERE id NOT IN (SELECT src FROM e)),
        |r2 AS (SELECT n.id, (1 - 0.85)/(SELECT nn FROM c) + 0.85*(COALESCE(f.s, 0)
        |         + (SELECT s FROM d1)/(SELECT nn FROM c)) AS r
        |       FROM n LEFT JOIN (
        |         SELECT e.dst AS id, sum(r1.r/deg.d) AS s FROM e
        |         JOIN r1 ON r1.id = e.src JOIN deg ON deg.src = e.src
        |         GROUP BY e.dst) f USING (id)),
        |d2 AS (SELECT COALESCE(sum(r), 0) AS s FROM r2
        |       WHERE id NOT IN (SELECT src FROM e)),
        |r3 AS (SELECT n.id, (1 - 0.85)/(SELECT nn FROM c) + 0.85*(COALESCE(f.s, 0)
        |         + (SELECT s FROM d2)/(SELECT nn FROM c)) AS r
        |       FROM n LEFT JOIN (
        |         SELECT e.dst AS id, sum(r2.r/deg.d) AS s FROM e
        |         JOIN r2 ON r2.id = e.src JOIN deg ON deg.src = e.src
        |         GROUP BY e.dst) f USING (id))
        |SELECT id, ROUND(r, 8) AS rank FROM r3 ORDER BY id""".stripMargin,

    // q_g3's exact 3-round base replay (helper-generated rounds, same
    // arithmetic — dangling CTEs named r<i>d), then the edge delta, the
    // renormalized warm start off RAW (unrounded) r3, and two warm
    // rounds over the mutated graph with the identical round SQL. A
    // skipped renormalization, a stale degree table, or warm rounds
    // run against the base edges all hash-mismatch.
    "q_g3d_pagerank_incremental" -> g3dWarmStartSql,

    // the stored-path twin MUST reproduce the in-memory warm start
    // exactly — the shared oracle is the whole point (q_x3j/q_x2t
    // discipline)
    "q_g3e_rankstore_roundtrip" -> g3dWarmStartSql,


    // Ground truth from the known topology: a node's component is the
    // smallest namespaced id sharing its region.
    "q_g5_components" ->
      """WITH nodes AS (
        |  SELECT c_custkey*4 AS id, n_regionkey AS rk
        |  FROM customer JOIN nation ON n_nationkey = c_nationkey
        |  UNION ALL
        |  SELECT s_suppkey*4+1, n_regionkey
        |  FROM supplier JOIN nation ON n_nationkey = s_nationkey
        |  UNION ALL
        |  SELECT n_nationkey*4+2, n_regionkey FROM nation
        |  UNION ALL
        |  SELECT r_regionkey*4+3, r_regionkey FROM region)
        |SELECT id, min(id) OVER (PARTITION BY rk) AS component
        |FROM nodes ORDER BY id""".stripMargin,

    // SCC by definition: reach = directed transitive closure (the
    // recursive UNION dedups, so it terminates at the closure), then
    // each node's least mutually-reachable partner. (v, v) ∈ reach
    // seeds every node, so singletons label themselves.
    "q_g26_scc" ->
      """WITH RECURSIVE e AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT c_custkey*4 AS src, c_nationkey*4+2 AS dst
        |    FROM customer
        |    UNION ALL
        |    SELECT s_suppkey*4+1, s_nationkey*4+2 FROM supplier
        |    UNION ALL
        |    SELECT n_nationkey*4+2, n_regionkey*4+3 FROM nation
        |    UNION ALL
        |    SELECT n_regionkey*4+3, n_nationkey*4+2 FROM nation
        |    UNION ALL
        |    SELECT c_nationkey*4+2, c_custkey*4 FROM customer
        |    WHERE c_custkey % 3 = 0)),
        |v AS (SELECT DISTINCT id FROM (
        |  SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |reach AS (
        |  SELECT id AS a, id AS b FROM v
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b)
        |SELECT r1.a AS id, min(r1.b) AS scc
        |FROM reach r1 JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a
        |GROUP BY r1.a ORDER BY id""".stripMargin,

    // Same closure-derived SCC labels, then the quotient edge set.
    "q_g26b_condensation" ->
      """WITH RECURSIVE e AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT c_custkey*4 AS src, c_nationkey*4+2 AS dst
        |    FROM customer
        |    UNION ALL
        |    SELECT s_suppkey*4+1, s_nationkey*4+2 FROM supplier
        |    UNION ALL
        |    SELECT n_nationkey*4+2, n_regionkey*4+3 FROM nation
        |    UNION ALL
        |    SELECT n_regionkey*4+3, n_nationkey*4+2 FROM nation
        |    UNION ALL
        |    SELECT c_nationkey*4+2, c_custkey*4 FROM customer
        |    WHERE c_custkey % 3 = 0)),
        |v AS (SELECT DISTINCT id FROM (
        |  SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |reach AS (
        |  SELECT id AS a, id AS b FROM v
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b),
        |scc AS MATERIALIZED (
        |  SELECT r1.a AS id, min(r1.b) AS scc
        |  FROM reach r1 JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a
        |  GROUP BY r1.a)
        |SELECT DISTINCT sa.scc AS src_scc, sb.scc AS dst_scc
        |FROM e JOIN scc sa ON sa.id = e.src JOIN scc sb ON sb.id = e.dst
        |WHERE sa.scc <> sb.scc
        |ORDER BY src_scc, dst_scc""".stripMargin,

    // The incremental result must equal the FULL recompute — so the
    // oracle is q_g26's verbatim: the closure-derived SCC of the whole
    // edge set, back-edges included. Any severed or over-merged SCC
    // from the quotient composition hash-mismatches here.
    "q_g26d_incr_scc" ->
      """WITH RECURSIVE e AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT c_custkey*4 AS src, c_nationkey*4+2 AS dst
        |    FROM customer
        |    UNION ALL
        |    SELECT s_suppkey*4+1, s_nationkey*4+2 FROM supplier
        |    UNION ALL
        |    SELECT n_nationkey*4+2, n_regionkey*4+3 FROM nation
        |    UNION ALL
        |    SELECT n_regionkey*4+3, n_nationkey*4+2 FROM nation
        |    UNION ALL
        |    SELECT c_nationkey*4+2, c_custkey*4 FROM customer
        |    WHERE c_custkey % 3 = 0)),
        |v AS (SELECT DISTINCT id FROM (
        |  SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |reach AS (
        |  SELECT id AS a, id AS b FROM v
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b)
        |SELECT r1.a AS id, min(r1.b) AS scc
        |FROM reach r1 JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a
        |GROUP BY r1.a ORDER BY id""".stripMargin,

    // The decremental result must equal the FULL recompute over the
    // post-delete edge set — so the oracle is q_g26's closure SCC with
    // the deleted back-edges excluded at the source: any unsplit SCC,
    // lost member, or stale quotient-composed label hash-mismatches.
    "q_g26f_decr_scc" ->
      """WITH RECURSIVE e AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT c_custkey*4 AS src, c_nationkey*4+2 AS dst
        |    FROM customer
        |    UNION ALL
        |    SELECT s_suppkey*4+1, s_nationkey*4+2 FROM supplier
        |    UNION ALL
        |    SELECT n_nationkey*4+2, n_regionkey*4+3 FROM nation
        |    UNION ALL
        |    SELECT n_regionkey*4+3, n_nationkey*4+2 FROM nation
        |    WHERE n_nationkey % 5 <> 0
        |    UNION ALL
        |    SELECT c_nationkey*4+2, c_custkey*4 FROM customer
        |    WHERE c_custkey % 3 = 0 AND c_custkey % 6 <> 0)),
        |v AS (SELECT DISTINCT id FROM (
        |  SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |reach AS (
        |  SELECT id AS a, id AS b FROM v
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b)
        |SELECT r1.a AS id, min(r1.b) AS scc
        |FROM reach r1 JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a
        |GROUP BY r1.a ORDER BY id""".stripMargin,

    // Bridge definition replayed verbatim: reach(a,b,·) = nodes
    // reachable from a never crossing {a,b}; bridge iff b unreached.
    // The recursive UNION dedups (a,b,node) states so the walk set is
    // finite; the graph derivation is shared with the engine exactly.
    "q_g29_bridges" ->
      """WITH RECURSIVE rr AS MATERIALIZED (
        |  SELECT DISTINCT o_orderkey % 100 AS r FROM orders),
        |e0 AS MATERIALIZED (
        |  SELECT r AS s, (r - r % 10) + ((r % 10) + 1) % 10 AS d
        |  FROM rr
        |  UNION ALL
        |  SELECT 5, r FROM rr WHERE r % 10 = 0 AND r >= 10),
        |ce AS MATERIALIZED (
        |  SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
        |  FROM e0 WHERE s <> d),
        |adj AS MATERIALIZED (
        |  SELECT a AS src, b AS dst FROM ce
        |  UNION ALL SELECT b, a FROM ce),
        |reach AS (
        |  SELECT a, b, a AS node FROM ce
        |  UNION
        |  SELECT re.a, re.b, ad.dst
        |  FROM reach re JOIN adj ad ON ad.src = re.node
        |  WHERE NOT (least(ad.src, ad.dst) = re.a
        |    AND greatest(ad.src, ad.dst) = re.b))
        |SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b
        |FROM ce WHERE NOT EXISTS (
        |  SELECT 1 FROM reach rc
        |  WHERE rc.a = ce.a AND rc.b = ce.b AND rc.node = ce.b)
        |ORDER BY a, b""".stripMargin,

    // Articulation definition replayed verbatim: reach(c,·) = nodes
    // reachable from c's min neighbor never entering c; articulation
    // iff some neighbor of c is unreached.
    "q_g29b_articulation" ->
      """WITH RECURSIVE rr AS MATERIALIZED (
        |  SELECT DISTINCT o_orderkey % 100 AS r FROM orders),
        |e0 AS MATERIALIZED (
        |  SELECT r AS s, (r - r % 10) + ((r % 10) + 1) % 10 AS d
        |  FROM rr
        |  UNION ALL
        |  SELECT 5, r FROM rr WHERE r % 10 = 0 AND r >= 10),
        |ce AS MATERIALIZED (
        |  SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
        |  FROM e0 WHERE s <> d),
        |adj AS MATERIALIZED (
        |  SELECT a AS src, b AS dst FROM ce
        |  UNION ALL SELECT b, a FROM ce),
        |cand AS MATERIALIZED (
        |  SELECT src AS c, min(dst) AS node FROM adj
        |  GROUP BY src HAVING count(DISTINCT dst) >= 2),
        |reach AS (
        |  SELECT c, node FROM cand
        |  UNION
        |  SELECT re.c, ad.dst
        |  FROM reach re JOIN adj ad ON ad.src = re.node
        |  WHERE ad.dst <> re.c)
        |SELECT DISTINCT CAST(j.src AS BIGINT) AS id
        |FROM adj j JOIN cand ON j.src = cand.c
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM reach rc
        |  WHERE rc.c = j.src AND rc.node = j.dst)
        |ORDER BY id""".stripMargin,

    // The CDC composition (add step then delete step, each exact) must
    // land on the same effective edge set as q_g26f — so its oracle is
    // q_g26f's closure SCC verbatim; any error compounding across the
    // two maintenance steps hash-mismatches here.
    "q_g26g_cdc_scc" ->
      """WITH RECURSIVE e AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT c_custkey*4 AS src, c_nationkey*4+2 AS dst
        |    FROM customer
        |    UNION ALL
        |    SELECT s_suppkey*4+1, s_nationkey*4+2 FROM supplier
        |    UNION ALL
        |    SELECT n_nationkey*4+2, n_regionkey*4+3 FROM nation
        |    UNION ALL
        |    SELECT n_regionkey*4+3, n_nationkey*4+2 FROM nation
        |    WHERE n_nationkey % 5 <> 0
        |    UNION ALL
        |    SELECT c_nationkey*4+2, c_custkey*4 FROM customer
        |    WHERE c_custkey % 3 = 0 AND c_custkey % 6 <> 0)),
        |v AS (SELECT DISTINCT id FROM (
        |  SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |reach AS (
        |  SELECT id AS a, id AS b FROM v
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b)
        |SELECT r1.a AS id, min(r1.b) AS scc
        |FROM reach r1 JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a
        |GROUP BY r1.a ORDER BY id""".stripMargin,

    // 2-round message passing unrolled by hand: round r is one LEFT
    // JOIN of the vertex set against (edges ⋈ round r−1 features) +
    // GROUP BY — SQL aggregates skip NULLs and return NULL on empty
    // groups, exactly the engine's per-round semantics; everything is
    // BIGINT-exact; −1 presents the no-neighbor NULLs.
    "q_g28_neighbor_agg" ->
      """WITH e AS (
        |  SELECT c_custkey*4 AS src, c_nationkey*4+2 AS dst
        |  FROM customer
        |  UNION ALL
        |  SELECT s_suppkey*4+1, s_nationkey*4+2 FROM supplier
        |  UNION ALL
        |  SELECT n_nationkey*4+2, n_regionkey*4+3 FROM nation),
        |v AS (SELECT DISTINCT id FROM (
        |  SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |f0 AS (SELECT id, id % 97 AS fv, id % 13 AS fw FROM v),
        |r1 AS (
        |  SELECT v.id, sum(f0.fv) AS fv, sum(f0.fw) AS fw
        |  FROM v LEFT JOIN e ON e.dst = v.id
        |         LEFT JOIN f0 ON f0.id = e.src
        |  GROUP BY v.id),
        |r2 AS (
        |  SELECT v.id, sum(r1.fv) AS fv, sum(r1.fw) AS fw
        |  FROM v LEFT JOIN e ON e.dst = v.id
        |         LEFT JOIN r1 ON r1.id = e.src
        |  GROUP BY v.id)
        |SELECT id, CAST(coalesce(fv, -1) AS BIGINT) AS fv_r2,
        |  CAST(coalesce(fw, -1) AS BIGINT) AS fw_r2
        |FROM r2 ORDER BY id""".stripMargin,

    // Maintenance ≡ full recompute (the locality theorem): the
    // incremental row's oracle is q_g28's full-graph rebuild verbatim.
    "q_g28b_neighbor_agg_incr" ->
      """WITH e AS (
        |  SELECT c_custkey*4 AS src, c_nationkey*4+2 AS dst
        |  FROM customer
        |  UNION ALL
        |  SELECT s_suppkey*4+1, s_nationkey*4+2 FROM supplier
        |  UNION ALL
        |  SELECT n_nationkey*4+2, n_regionkey*4+3 FROM nation),
        |v AS (SELECT DISTINCT id FROM (
        |  SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |f0 AS (SELECT id, id % 97 AS fv, id % 13 AS fw FROM v),
        |r1 AS (
        |  SELECT v.id, sum(f0.fv) AS fv, sum(f0.fw) AS fw
        |  FROM v LEFT JOIN e ON e.dst = v.id
        |         LEFT JOIN f0 ON f0.id = e.src
        |  GROUP BY v.id),
        |r2 AS (
        |  SELECT v.id, sum(r1.fv) AS fv, sum(r1.fw) AS fw
        |  FROM v LEFT JOIN e ON e.dst = v.id
        |         LEFT JOIN r1 ON r1.id = e.src
        |  GROUP BY v.id)
        |SELECT id, CAST(coalesce(fv, -1) AS BIGINT) AS fv_r2,
        |  CAST(coalesce(fw, -1) AS BIGINT) AS fw_r2
        |FROM r2 ORDER BY id""".stripMargin,

    // The delete twin's rebuild: remaining edges (no supplier rows) but
    // the FULL graph's vertex/feature set — the store never drops a
    // node row on an edge delete.
    "q_g28c_neighbor_agg_decr" ->
      """WITH e AS (
        |  SELECT c_custkey*4 AS src, c_nationkey*4+2 AS dst
        |  FROM customer
        |  UNION ALL
        |  SELECT s_suppkey*4+1, s_nationkey*4+2 FROM supplier
        |  UNION ALL
        |  SELECT n_nationkey*4+2, n_regionkey*4+3 FROM nation),
        |erem AS (
        |  SELECT c_custkey*4 AS src, c_nationkey*4+2 AS dst
        |  FROM customer
        |  UNION ALL
        |  SELECT n_nationkey*4+2, n_regionkey*4+3 FROM nation),
        |v AS (SELECT DISTINCT id FROM (
        |  SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |f0 AS (SELECT id, id % 97 AS fv, id % 13 AS fw FROM v),
        |r1 AS (
        |  SELECT v.id, sum(f0.fv) AS fv, sum(f0.fw) AS fw
        |  FROM v LEFT JOIN erem e1 ON e1.dst = v.id
        |         LEFT JOIN f0 ON f0.id = e1.src
        |  GROUP BY v.id),
        |r2 AS (
        |  SELECT v.id, sum(r1.fv) AS fv, sum(r1.fw) AS fw
        |  FROM v LEFT JOIN erem e2 ON e2.dst = v.id
        |         LEFT JOIN r1 ON r1.id = e2.src
        |  GROUP BY v.id)
        |SELECT id, CAST(coalesce(fv, -1) AS BIGINT) AS fv_r2,
        |  CAST(coalesce(fw, -1) AS BIGINT) AS fw_r2
        |FROM r2 ORDER BY id""".stripMargin,

    // Same closure-derived quotient edges, then longest path by
    // recursive walk extension: every quotient node seeds a 0-length
    // walk, each edge extends by 1, the recursive UNION dedups
    // (node, len) states so the walk set is finite on a DAG, and
    // max(len) per node IS the topological level.
    "q_g26c_topo_levels" ->
      """WITH RECURSIVE e AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT c_custkey*4 AS src, c_nationkey*4+2 AS dst
        |    FROM customer
        |    UNION ALL
        |    SELECT s_suppkey*4+1, s_nationkey*4+2 FROM supplier
        |    UNION ALL
        |    SELECT n_nationkey*4+2, n_regionkey*4+3 FROM nation
        |    UNION ALL
        |    SELECT n_regionkey*4+3, n_nationkey*4+2 FROM nation
        |    UNION ALL
        |    SELECT c_nationkey*4+2, c_custkey*4 FROM customer
        |    WHERE c_custkey % 3 = 0)),
        |v AS (SELECT DISTINCT id FROM (
        |  SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |reach AS (
        |  SELECT id AS a, id AS b FROM v
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b),
        |scc AS MATERIALIZED (
        |  SELECT r1.a AS id, min(r1.b) AS scc
        |  FROM reach r1 JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a
        |  GROUP BY r1.a),
        |q AS MATERIALIZED (
        |  SELECT DISTINCT sa.scc AS src_scc, sb.scc AS dst_scc
        |  FROM e JOIN scc sa ON sa.id = e.src JOIN scc sb ON sb.id = e.dst
        |  WHERE sa.scc <> sb.scc),
        |walks AS (
        |  SELECT scc AS node, 0 AS len FROM (
        |    SELECT DISTINCT s2 AS scc FROM (
        |      SELECT src_scc AS s2 FROM q
        |      UNION ALL SELECT dst_scc FROM q))
        |  UNION
        |  SELECT q.dst_scc, w.len + 1 FROM walks w
        |  JOIN q ON q.src_scc = w.node)
        |SELECT node AS scc, CAST(max(len) AS BIGINT) AS level
        |FROM walks GROUP BY node ORDER BY scc""".stripMargin,

    // Descendant counts = the closure-derived quotient edges (q_g26c's
    // skeleton), then a recursive reachability walk counted per source
    // SCC — sinks LEFT-JOIN to 0.
    "q_g26e_desc_counts" ->
      """WITH RECURSIVE e AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT c_custkey*4 AS src, c_nationkey*4+2 AS dst
        |    FROM customer
        |    UNION ALL
        |    SELECT s_suppkey*4+1, s_nationkey*4+2 FROM supplier
        |    UNION ALL
        |    SELECT n_nationkey*4+2, n_regionkey*4+3 FROM nation
        |    UNION ALL
        |    SELECT n_regionkey*4+3, n_nationkey*4+2 FROM nation
        |    UNION ALL
        |    SELECT c_nationkey*4+2, c_custkey*4 FROM customer
        |    WHERE c_custkey % 3 = 0)),
        |v AS (SELECT DISTINCT id FROM (
        |  SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |reach AS (
        |  SELECT id AS a, id AS b FROM v
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b),
        |scc AS MATERIALIZED (
        |  SELECT r1.a AS id, min(r1.b) AS scc
        |  FROM reach r1 JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a
        |  GROUP BY r1.a),
        |q AS MATERIALIZED (
        |  SELECT DISTINCT sa.scc AS src_scc, sb.scc AS dst_scc
        |  FROM e JOIN scc sa ON sa.id = e.src JOIN scc sb ON sb.id = e.dst
        |  WHERE sa.scc <> sb.scc),
        |qn AS (SELECT DISTINCT s2 AS scc FROM (
        |  SELECT src_scc AS s2 FROM q UNION ALL SELECT dst_scc FROM q)),
        |qr AS (
        |  SELECT src_scc AS a, dst_scc AS b FROM q
        |  UNION
        |  SELECT r.a, q.dst_scc FROM qr r JOIN q ON q.src_scc = r.b)
        |SELECT qn.scc, CAST(coalesce(c.n, 0) AS BIGINT) AS n_desc
        |FROM qn LEFT JOIN (
        |  SELECT a, count(*) AS n FROM qr WHERE a <> b GROUP BY a) c
        |  ON c.a = qn.scc
        |ORDER BY scc""".stripMargin,

    // Landmark masks rebuilt from the per-landmark recursive closure:
    // bit b of reach_mask ⇔ the b-th-smallest landmark id reaches the
    // node (self included — the BFS-source convention); unreached
    // nodes carry mask 0 via the LEFT JOIN.
    "q_g27_landmark_reach" ->
      """WITH RECURSIVE e AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT c_custkey*4 AS src, c_nationkey*4+2 AS dst
        |    FROM customer
        |    UNION ALL
        |    SELECT s_suppkey*4+1, s_nationkey*4+2 FROM supplier
        |    UNION ALL
        |    SELECT n_nationkey*4+2, n_regionkey*4+3 FROM nation
        |    UNION ALL
        |    SELECT n_regionkey*4+3, n_nationkey*4+2 FROM nation
        |    UNION ALL
        |    SELECT c_nationkey*4+2, c_custkey*4 FROM customer
        |    WHERE c_custkey % 3 = 0)),
        |v AS (SELECT DISTINCT id FROM (
        |  SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |lm AS MATERIALIZED (
        |  SELECT id, row_number() OVER (ORDER BY id) - 1 AS b
        |  FROM (SELECT DISTINCT r_regionkey*4+3 AS id FROM region)),
        |reach AS (
        |  SELECT id AS lm_id, id AS node FROM lm
        |  UNION
        |  SELECT r.lm_id, e.dst FROM reach r JOIN e ON e.src = r.node),
        |m AS (
        |  SELECT r.node AS id,
        |    sum((1::BIGINT) << lm.b) AS reach_mask,
        |    count(*) AS n_landmarks
        |  FROM reach r JOIN lm ON lm.id = r.lm_id GROUP BY r.node)
        |SELECT v.id,
        |  CAST(coalesce(m.reach_mask, 0) AS BIGINT) AS reach_mask,
        |  CAST(coalesce(m.n_landmarks, 0) AS BIGINT) AS n_landmarks
        |FROM v LEFT JOIN m ON m.id = v.id
        |ORDER BY 1""".stripMargin,

    // Same wedge expansion in SQL; the e4 integerization absorbs the
    // Σ 1/ln(deg) summation-order ulps.
    "q_g8_link_prediction" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem WHERE l_orderkey % 20 = 0),
        |e AS (SELECT a.pk AS x, b.pk AS y FROM li a JOIN li b
        |      ON a.ok = b.ok AND a.pk < b.pk),
        |canon AS (SELECT DISTINCT least(x,y) AS a, greatest(x,y) AS b
        |          FROM e WHERE x <> y),
        |nbr AS (SELECT a AS z, b AS n FROM canon
        |        UNION ALL SELECT b, a FROM canon),
        |deg AS (SELECT z, count(*) AS d FROM nbr GROUP BY z),
        |wedge AS (SELECT x.n AS u, y.n AS v, x.z AS z
        |          FROM nbr x JOIN nbr y ON x.z = y.z AND x.n < y.n),
        |sc AS (SELECT u, v, count(*) AS common,
        |         sum(CAST(1 AS DOUBLE) / ln(CAST(deg.d AS DOUBLE))) AS aa
        |       FROM wedge JOIN deg ON deg.z = wedge.z GROUP BY u, v)
        |SELECT sc.u AS id_a, sc.v AS id_b, sc.common,
        |  CAST(floor(sc.aa * 1e4 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS aa_e4
        |FROM sc LEFT JOIN canon ON canon.a = sc.u AND canon.b = sc.v
        |WHERE canon.a IS NULL AND sc.common >= 2
        |ORDER BY id_a, id_b""".stripMargin,

    "q_g9_kcore" -> kcoreUnrolledOracle,

    "q_g14_betweenness" -> betweennessUnrolledOracle,

    "q_g15_eccentricity" -> eccentricityUnrolledOracle,

    // Assortativity from the same exact-integer moments; both engines run
    // the identical double formula over identical longs.
    "q_g16_assortativity" ->
      """WITH e AS (
        |  SELECT DISTINCT least(a.pk, b.pk) AS a, greatest(a.pk, b.pk) AS b
        |  FROM (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |        FROM lineitem WHERE l_orderkey % 20 = 0) a
        |  JOIN (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |        FROM lineitem WHERE l_orderkey % 20 = 0) b
        |    ON b.ok = a.ok AND a.pk < b.pk),
        |nbr AS (
        |  SELECT a AS u, b AS v FROM e WHERE a <> b
        |  UNION ALL SELECT b, a FROM e WHERE a <> b),
        |deg AS (SELECT u AS id, count(*) AS d FROM nbr GROUP BY u),
        |m AS (
        |  SELECT count(*) AS n,
        |    sum(du.d) AS sx, sum(dv.d) AS sy,
        |    sum(du.d * dv.d) AS sxy,
        |    sum(du.d * du.d) AS sxx, sum(dv.d * dv.d) AS syy
        |  FROM nbr
        |  JOIN deg du ON du.id = nbr.u
        |  JOIN deg dv ON dv.id = nbr.v)
        |SELECT
        |  CAST(floor(
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |         (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) * 1e6
        |    + CAST(0.5 AS DOUBLE)) AS BIGINT) AS r_e6,
        |  CAST(n / 2 AS BIGINT) AS n_edges,
        |  (SELECT count(*) FROM deg) AS n_nodes
        |FROM m""".stripMargin,

    "q_g7_degree_hist" ->
      """WITH e AS (
        |  SELECT c_custkey*4 AS src, c_nationkey*4+2 AS dst FROM customer
        |  UNION ALL
        |  SELECT s_suppkey*4+1, s_nationkey*4+2 FROM supplier
        |  UNION ALL
        |  SELECT n_nationkey*4+2, n_regionkey*4+3 FROM nation),
        |deg AS (SELECT dst AS id, count(*) AS degree FROM e GROUP BY dst)
        |SELECT degree, count(*) AS n FROM deg
        |GROUP BY degree ORDER BY degree""".stripMargin,

    // q_g3's unrolled 3-iteration power method with weight-sum
    // out-degrees and rank·w/Σw inflow terms; ROUND(_, 8) absorbs
    // summation-order ulps exactly as in q_g3.
    "q_g3c_pagerank_weighted" ->
      """WITH e AS (
        |  SELECT c_custkey*4 AS src, c_nationkey*4+2 AS dst,
        |         (c_custkey % 8) / CAST(4 AS DOUBLE) + 1 AS w FROM customer
        |  UNION ALL
        |  SELECT s_suppkey*4+1, s_nationkey*4+2,
        |         (s_suppkey % 8) / CAST(4 AS DOUBLE) + 1 FROM supplier
        |  UNION ALL
        |  SELECT n_nationkey*4+2, n_regionkey*4+3,
        |         (n_nationkey % 8) / CAST(4 AS DOUBLE) + 1 FROM nation),
        |n AS (SELECT DISTINCT id FROM
        |  (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |c AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM n),
        |deg AS (SELECT src, sum(w) AS d FROM e GROUP BY src),
        |r0 AS (SELECT id, 1.0/(SELECT nn FROM c) AS r FROM n),
        |d0 AS (SELECT COALESCE(sum(r), 0) AS s FROM r0
        |       WHERE id NOT IN (SELECT src FROM e)),
        |r1 AS (SELECT n.id, (1 - 0.85)/(SELECT nn FROM c) + 0.85*(COALESCE(f.s, 0)
        |         + (SELECT s FROM d0)/(SELECT nn FROM c)) AS r
        |       FROM n LEFT JOIN (
        |         SELECT e.dst AS id, sum(r0.r*e.w/deg.d) AS s FROM e
        |         JOIN r0 ON r0.id = e.src JOIN deg ON deg.src = e.src
        |         GROUP BY e.dst) f USING (id)),
        |d1 AS (SELECT COALESCE(sum(r), 0) AS s FROM r1
        |       WHERE id NOT IN (SELECT src FROM e)),
        |r2 AS (SELECT n.id, (1 - 0.85)/(SELECT nn FROM c) + 0.85*(COALESCE(f.s, 0)
        |         + (SELECT s FROM d1)/(SELECT nn FROM c)) AS r
        |       FROM n LEFT JOIN (
        |         SELECT e.dst AS id, sum(r1.r*e.w/deg.d) AS s FROM e
        |         JOIN r1 ON r1.id = e.src JOIN deg ON deg.src = e.src
        |         GROUP BY e.dst) f USING (id)),
        |d2 AS (SELECT COALESCE(sum(r), 0) AS s FROM r2
        |       WHERE id NOT IN (SELECT src FROM e)),
        |r3 AS (SELECT n.id, (1 - 0.85)/(SELECT nn FROM c) + 0.85*(COALESCE(f.s, 0)
        |         + (SELECT s FROM d2)/(SELECT nn FROM c)) AS r
        |       FROM n LEFT JOIN (
        |         SELECT e.dst AS id, sum(r2.r*e.w/deg.d) AS s FROM e
        |         JOIN r2 ON r2.id = e.src JOIN deg ON deg.src = e.src
        |         GROUP BY e.dst) f USING (id))
        |SELECT id, ROUND(r, 8) AS rank FROM r3 ORDER BY id""".stripMargin,

    // The hetero graph is a leveled DAG (customer→nation→region), so the
    // oracle computes the relaxation level by level. Weights are exact
    // binary quarters, so distances compare as raw doubles — no rounding
    // — and the `via` attainment equality (d + w = dist) is exact too.
    "q_g6_shortest_paths" ->
      """WITH seeds AS (
        |  SELECT c_custkey*4 AS id FROM customer WHERE c_custkey < 10),
        |ce AS (SELECT c_custkey*4 AS src, c_nationkey*4+2 AS dst,
        |       (c_custkey % 8) / CAST(4 AS DOUBLE) + 1 AS w FROM customer),
        |ne AS (SELECT n_nationkey*4+2 AS src, n_regionkey*4+3 AS dst,
        |       (n_nationkey % 8) / CAST(4 AS DOUBLE) + 1 AS w FROM nation),
        |d0 AS (SELECT id, CAST(0 AS DOUBLE) AS dist, id AS via FROM seeds),
        |d1 AS (SELECT ce.dst AS id, min(d0.dist + ce.w) AS dist
        |       FROM d0 JOIN ce ON d0.id = ce.src GROUP BY ce.dst),
        |v1 AS (SELECT d1.id, d1.dist, min(ce.src) AS via
        |       FROM d1 JOIN ce ON ce.dst = d1.id
        |       JOIN d0 ON d0.id = ce.src
        |       WHERE d0.dist + ce.w = d1.dist GROUP BY d1.id, d1.dist),
        |d2 AS (SELECT ne.dst AS id, min(v1.dist + ne.w) AS dist
        |       FROM v1 JOIN ne ON v1.id = ne.src GROUP BY ne.dst),
        |v2 AS (SELECT d2.id, d2.dist, min(ne.src) AS via
        |       FROM d2 JOIN ne ON ne.dst = d2.id
        |       JOIN v1 ON v1.id = ne.src
        |       WHERE v1.dist + ne.w = d2.dist GROUP BY d2.id, d2.dist)
        |SELECT id, dist, via FROM d0
        |UNION ALL SELECT id, dist, via FROM v1
        |UNION ALL SELECT id, dist, via FROM v2
        |ORDER BY id""".stripMargin,

    // PPR unrolled like q_g3, with reset/dangling mass flowing to the seed
    // indicator s(v) instead of 1/N; (1 - 0.85) written as the expression
    // so both engines produce the identical IEEE double.
    "q_g3b_ppr" ->
      """WITH e AS (
        |  SELECT c_custkey*4 AS src, c_nationkey*4+2 AS dst FROM customer
        |  UNION ALL
        |  SELECT s_suppkey*4+1, s_nationkey*4+2 FROM supplier
        |  UNION ALL
        |  SELECT n_nationkey*4+2, n_regionkey*4+3 FROM nation),
        |n AS (SELECT DISTINCT id FROM
        |  (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |sd AS (SELECT c_custkey*4 AS id FROM customer WHERE c_custkey < 10),
        |sc AS (SELECT CAST(count(*) AS DOUBLE) AS ns FROM sd),
        |sv AS (SELECT n.id,
        |         CASE WHEN sd.id IS NOT NULL THEN 1.0/(SELECT ns FROM sc)
        |              ELSE 0.0 END AS s
        |       FROM n LEFT JOIN sd ON sd.id = n.id),
        |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS d FROM e GROUP BY src),
        |r0 AS (SELECT id, s AS r FROM sv),
        |d0 AS (SELECT COALESCE(sum(r), 0) AS m FROM r0
        |       WHERE id NOT IN (SELECT src FROM e)),
        |r1 AS (SELECT sv.id, (1 - 0.85)*sv.s + 0.85*(COALESCE(f.v, 0)
        |         + (SELECT m FROM d0)*sv.s) AS r
        |       FROM sv LEFT JOIN (
        |         SELECT e.dst AS id, sum(r0.r/deg.d) AS v FROM e
        |         JOIN r0 ON r0.id = e.src JOIN deg ON deg.src = e.src
        |         GROUP BY e.dst) f USING (id)),
        |d1 AS (SELECT COALESCE(sum(r), 0) AS m FROM r1
        |       WHERE id NOT IN (SELECT src FROM e)),
        |r2 AS (SELECT sv.id, (1 - 0.85)*sv.s + 0.85*(COALESCE(f.v, 0)
        |         + (SELECT m FROM d1)*sv.s) AS r
        |       FROM sv LEFT JOIN (
        |         SELECT e.dst AS id, sum(r1.r/deg.d) AS v FROM e
        |         JOIN r1 ON r1.id = e.src JOIN deg ON deg.src = e.src
        |         GROUP BY e.dst) f USING (id)),
        |d2 AS (SELECT COALESCE(sum(r), 0) AS m FROM r2
        |       WHERE id NOT IN (SELECT src FROM e)),
        |r3 AS (SELECT sv.id, (1 - 0.85)*sv.s + 0.85*(COALESCE(f.v, 0)
        |         + (SELECT m FROM d2)*sv.s) AS r
        |       FROM sv LEFT JOIN (
        |         SELECT e.dst AS id, sum(r2.r/deg.d) AS v FROM e
        |         JOIN r2 ON r2.id = e.src JOIN deg ON deg.src = e.src
        |         GROUP BY e.dst) f USING (id))
        |SELECT id, ROUND(r, 8) AS rank FROM r3 ORDER BY id""".stripMargin,

    // Canonical a<b edges; each triangle (a<b<c) found once by the triple
    // join, credited to all three vertices.
    // q_g4's triangle rebuild + a degree count; the coefficient repeats
    // the exact double-op sequence of the Spark side (2·tri / d(d−1),
    // then ×1e6 + 0.5, floor) so both engines round identically.
    "q_g12_clustering" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |  WHERE l_orderkey % 20 = 0),
        |e AS (SELECT DISTINCT a.pk AS a, b.pk AS b
        |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |deg AS (SELECT id, count(*) AS degree FROM (
        |  SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY id),
        |tri AS (
        |  SELECT e1.a, e1.b, e2.b AS c
        |  FROM e e1
        |  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
        |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
        |tcnt AS (SELECT id, count(*) AS n_tri FROM (
        |  SELECT a AS id FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri) GROUP BY id)
        |SELECT d.id, d.degree,
        |  CAST(coalesce(t.n_tri, 0) AS BIGINT) AS n_triangles,
        |  CAST(CASE WHEN d.degree < 2 THEN 0
        |    ELSE floor(CAST(2 AS DOUBLE) * coalesce(t.n_tri, 0)
        |      / (d.degree * (d.degree - 1)) * 1e6 + 0.5)
        |    END AS BIGINT) AS c_e6
        |FROM deg d LEFT JOIN tcnt t USING (id)
        |ORDER BY d.id""".stripMargin,

    // Recursive BFS enumeration capped at 6 hops (UNION dedup keeps it
    // finite), min distance per (node, seed), then the exact-integer
    // harmonic sum. BFS first-reach == enumerate-then-min.
    "q_g11_harmonic" ->
      """WITH RECURSIVE li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |  WHERE l_orderkey % 20 = 0),
        |e AS (SELECT DISTINCT a.pk AS a, b.pk AS b
        |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |adj AS (SELECT a AS src, b AS dst FROM e
        |        UNION ALL SELECT b, a FROM e),
        |seeds AS (SELECT DISTINCT src AS id FROM adj ORDER BY id LIMIT 3),
        |bfs(id, seed, d) AS (
        |  SELECT id, id, 0 FROM seeds
        |  UNION
        |  SELECT a.dst, b.seed, b.d + 1
        |  FROM bfs b JOIN adj a ON a.src = b.id
        |  WHERE b.d < 6),
        |md AS (SELECT id, seed, min(d) AS d FROM bfs GROUP BY 1, 2)
        |SELECT id, CAST(sum(60 // d) AS BIGINT) AS harmonic_x60,
        |  count(*) AS n_reached
        |FROM md WHERE d > 0 GROUP BY id ORDER BY id""".stripMargin,

    // Same recursive BFS as q_g11; closeness = n/Σd is ONE double
    // division (correctly rounded on every IEEE engine), integerized e6.
    "q_g13_closeness" ->
      """WITH RECURSIVE li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |  WHERE l_orderkey % 20 = 0),
        |e AS (SELECT DISTINCT a.pk AS a, b.pk AS b
        |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |adj AS (SELECT a AS src, b AS dst FROM e
        |        UNION ALL SELECT b, a FROM e),
        |seeds AS (SELECT DISTINCT src AS id FROM adj ORDER BY id LIMIT 3),
        |bfs(id, seed, d) AS (
        |  SELECT id, id, 0 FROM seeds
        |  UNION
        |  SELECT a.dst, b.seed, b.d + 1
        |  FROM bfs b JOIN adj a ON a.src = b.id
        |  WHERE b.d < 6),
        |md AS (SELECT id, seed, min(d) AS d FROM bfs GROUP BY 1, 2)
        |SELECT id, CAST(sum(d) AS BIGINT) AS sum_dist,
        |  count(*) AS n_reached,
        |  CAST(floor(CAST(count(*) AS DOUBLE) / CAST(sum(d) AS DOUBLE)
        |    * 1e6 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS closeness_e6
        |FROM md WHERE d > 0 GROUP BY id ORDER BY id""".stripMargin,

    // Both LPA rounds unrolled: round 1 over distinct neighbor ids (every
    // count is 1, so argmax = min neighbor), round 2 over the round-1
    // labels; argmax-with-min-tie-break = row_number (count DESC, label).
    "q_g10_lpa" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |  WHERE l_orderkey % 20 = 0),
        |e AS (SELECT DISTINCT a.pk AS a, b.pk AS b
        |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |adj AS (SELECT a AS src, b AS dst FROM e
        |        UNION ALL SELECT b, a FROM e),
        |r1 AS (SELECT dst AS id, src AS lbl, count(*) AS c
        |       FROM adj GROUP BY 1, 2),
        |l1 AS (SELECT id, lbl FROM (
        |  SELECT id, lbl,
        |    row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn
        |  FROM r1) WHERE rn = 1),
        |r2 AS (SELECT a.dst AS id, l.lbl, count(*) AS c
        |       FROM adj a JOIN l1 l ON l.id = a.src GROUP BY 1, 2),
        |l2 AS (SELECT id, lbl FROM (
        |  SELECT id, lbl,
        |    row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn
        |  FROM r2) WHERE rn = 1)
        |SELECT id, lbl AS community FROM l2 ORDER BY id""".stripMargin,

    // Modularity rebuild: the q_g10 LPA unroll verbatim, then exact
    // integer moments (intra-edge count, degree sums, |E|) and the same
    // two-division q_c shape ((m_in/m) − (d/(2m))·(d/(2m))), e6.
    "q_g21_modularity" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |  WHERE l_orderkey % 20 = 0),
        |e AS (SELECT DISTINCT a.pk AS a, b.pk AS b
        |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |adj AS (SELECT a AS src, b AS dst FROM e
        |        UNION ALL SELECT b, a FROM e),
        |r1 AS (SELECT dst AS id, src AS lbl, count(*) AS c
        |       FROM adj GROUP BY 1, 2),
        |l1 AS (SELECT id, lbl FROM (
        |  SELECT id, lbl,
        |    row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn
        |  FROM r1) WHERE rn = 1),
        |r2 AS (SELECT a.dst AS id, l.lbl, count(*) AS c
        |       FROM adj a JOIN l1 l ON l.id = a.src GROUP BY 1, 2),
        |l2 AS (SELECT id, lbl FROM (
        |  SELECT id, lbl,
        |    row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn
        |  FROM r2) WHERE rn = 1),
        |deg AS (SELECT id, count(*) AS d FROM (
        |  SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY id),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
        |din AS (
        |  SELECT la.lbl AS community, CAST(count(*) AS BIGINT) AS m_in
        |  FROM e JOIN l2 la ON la.id = e.a JOIN l2 lb ON lb.id = e.b
        |  WHERE la.lbl = lb.lbl GROUP BY 1),
        |dt AS (
        |  SELECT l.lbl AS community, CAST(count(*) AS BIGINT) AS n_nodes,
        |    CAST(sum(deg.d) AS BIGINT) AS d_tot
        |  FROM deg JOIN l2 l ON l.id = deg.id GROUP BY 1)
        |SELECT dt.community, dt.n_nodes,
        |  CAST(coalesce(din.m_in, 0) AS BIGINT) AS m_in, dt.d_tot,
        |  CAST(floor((CAST(coalesce(din.m_in, 0) AS DOUBLE)
        |      / CAST(m.m AS DOUBLE)
        |    - (CAST(dt.d_tot AS DOUBLE)
        |        / (CAST(2 AS DOUBLE) * CAST(m.m AS DOUBLE)))
        |      * (CAST(dt.d_tot AS DOUBLE)
        |        / (CAST(2 AS DOUBLE) * CAST(m.m AS DOUBLE)))) * 1e6
        |    + CAST(0.5 AS DOUBLE)) AS BIGINT) AS q_e6
        |FROM dt LEFT JOIN din USING (community), m
        |ORDER BY community""".stripMargin,

    // Power-law MLE rebuild: distinct-degree histogram, per-term
    // 1e9-integerized ln summed in HUGEINT (exact, order-free), then
    // alpha computed once and reused so (alpha − 1) matches Spark's
    // compute-then-subtract double shape.
    "q_g22_powerlaw" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |  WHERE l_orderkey % 20 = 0),
        |e AS (SELECT DISTINCT a.pk AS a, b.pk AS b
        |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |deg AS (SELECT id, count(*) AS d FROM (
        |  SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY id),
        |h AS (SELECT d, count(*) AS n_d FROM deg WHERE d >= 1 GROUP BY d),
        |s AS (
        |  SELECT CAST(sum(n_d) AS BIGINT) AS n_nodes,
        |    sum(CAST(n_d AS HUGEINT)
        |      * CAST(floor(ln(CAST(d AS DOUBLE) / CAST(1 AS DOUBLE)) * 1e9
        |          + CAST(0.5 AS DOUBLE)) AS HUGEINT)) AS s_e9
        |  FROM h),
        |a AS (
        |  SELECT n_nodes,
        |    CASE WHEN s_e9 = 0 THEN NULL
        |      ELSE CAST(1 AS DOUBLE) + CAST(n_nodes AS DOUBLE)
        |        / (CAST(s_e9 AS DOUBLE) / 1e9) END AS alpha
        |  FROM s)
        |SELECT n_nodes, CAST(1 AS BIGINT) AS d_min,
        |  CAST(floor(alpha * 1e6 + CAST(0.5 AS DOUBLE)) AS BIGINT)
        |    AS alpha_e6,
        |  CAST(floor((alpha - CAST(1 AS DOUBLE))
        |      / sqrt(CAST(n_nodes AS DOUBLE)) * 1e6
        |    + CAST(0.5 AS DOUBLE)) AS BIGINT) AS se_e6
        |FROM a""".stripMargin,

    // Louvain rebuild — see louvainOracleCtes/louvainRoundSql: 4 fine
    // rounds (ugug), coarsen, 4 weighted coarse rounds, projection —
    // matching louvainMultiLevel's 4+4 alternating schedule exactly.
    "q_g23_louvain" ->
      s"""${louvainOracleCtes}
         |SELECT id, lbl AS community FROM fin ORDER BY id""".stripMargin,

    // Leiden refinement replayed on top of the g23 unroll: intra-
    // community adjacency, then min-label reachability as a recursive
    // CTE — the `r.lbl < a.dst` guard is safe (the component minimum
    // is below every other member id, so its propagation is never
    // pruned) and keeps the pair set to (id, lbl ≤ id) rows. The
    // engine's pointer-jumping CC converges to the same min ids.
    "q_g24_leiden" ->
      s"""${louvainOracleCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |iadj AS MATERIALIZED (
         |  SELECT e.a AS src, e.b AS dst FROM e
         |    JOIN fin la ON la.id = e.a JOIN fin lb ON lb.id = e.b
         |    WHERE la.lbl = lb.lbl
         |  UNION ALL
         |  SELECT e.b, e.a FROM e
         |    JOIN fin la ON la.id = e.a JOIN fin lb ON lb.id = e.b
         |    WHERE la.lbl = lb.lbl),
         |reach AS (
         |  SELECT id, id AS lbl FROM fin
         |  UNION
         |  SELECT a.dst AS id, r.lbl FROM reach r
         |  JOIN iadj a ON a.src = r.id
         |  WHERE r.lbl < a.dst)
         |SELECT id, min(lbl) AS community FROM reach
         |GROUP BY id ORDER BY id""".stripMargin,

    // Incremental-maintenance rebuild: recursive min-label CC over the
    // old graph (the stored labels), unrolled 2-hop region from the
    // delta endpoints over the symmetrized full graph, the induced
    // subgraph's 2 seeded gated rounds (louvainRoundSql with l0 =
    // coalesce(stored, id)), then kept ∪ region with the engine's
    // new→old→singleton coalesce.
    "q_g25_incr_communities" ->
      s"""WITH RECURSIVE li AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
         |  FROM lineitem),
         |eold AS MATERIALIZED (SELECT DISTINCT a.pk AS a, b.pk AS b
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
         |  WHERE a.ok % 40 = 0),
         |edel AS MATERIALIZED (SELECT DISTINCT a.pk AS a, b.pk AS b
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
         |  WHERE a.ok % 200 = 20),
         |eall AS MATERIALIZED (SELECT DISTINCT a.pk AS a, b.pk AS b
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
         |  WHERE a.ok % 40 = 0 OR a.ok % 200 = 20),
         |vold AS (SELECT DISTINCT id FROM (
         |  SELECT a AS id FROM eold UNION ALL SELECT b FROM eold)),
         |oadj AS MATERIALIZED (SELECT a AS src, b AS dst FROM eold
         |  UNION ALL SELECT b, a FROM eold),
         |reach AS (
         |  SELECT id, id AS lbl FROM vold
         |  UNION
         |  SELECT a.dst AS id, r.lbl FROM reach r
         |  JOIN oadj a ON a.src = r.id
         |  WHERE r.lbl < a.dst),
         |prev AS MATERIALIZED (
         |  SELECT id, min(lbl) AS lbl FROM reach GROUP BY id),
         |seeds AS (SELECT DISTINCT id FROM (
         |  SELECT a AS id FROM edel UNION ALL SELECT b FROM edel)),
         |sadj AS MATERIALIZED (SELECT a AS src, b AS dst FROM eall
         |  UNION ALL SELECT b, a FROM eall),
         |h1 AS (SELECT DISTINCT sadj.dst AS id
         |  FROM sadj JOIN seeds ON sadj.src = seeds.id),
         |h2 AS (SELECT DISTINCT sadj.dst AS id
         |  FROM sadj JOIN h1 ON sadj.src = h1.id),
         |region AS MATERIALIZED (SELECT DISTINCT id FROM (
         |  SELECT id FROM seeds UNION ALL SELECT id FROM h1
         |  UNION ALL SELECT id FROM h2)),
         |e AS MATERIALIZED (SELECT eall.a, eall.b FROM eall
         |  JOIN region ra ON ra.id = eall.a
         |  JOIN region rb ON rb.id = eall.b),
         |adj AS MATERIALIZED (SELECT a AS src, b AS dst FROM e
         |  UNION ALL SELECT b, a FROM e),
         |deg AS MATERIALIZED (SELECT src AS id,
         |  CAST(count(*) AS HUGEINT) AS k FROM adj GROUP BY 1),
         |m AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM e),
         |l0 AS (SELECT deg.id, coalesce(p.lbl, deg.id) AS lbl
         |  FROM deg LEFT JOIN prev p USING (id))${
           (0 until 2).map(r => louvainRoundSql(r, "", "adj", "deg",
             false, gated = true)).mkString},
         |out_kept AS (
         |  SELECT p.id, p.lbl AS community FROM prev p
         |  WHERE p.id NOT IN (SELECT id FROM region)),
         |out_region AS (
         |  SELECT r.id, coalesce(l.lbl, p.lbl, r.id) AS community
         |  FROM region r
         |  LEFT JOIN l2 l USING (id)
         |  LEFT JOIN prev p USING (id))
         |SELECT id, community FROM out_kept
         |UNION ALL
         |SELECT id, community FROM out_region
         |ORDER BY id""".stripMargin,

    // CDC composition rebuild: q_g25's seeded-region unroll (the add
    // stage, over the pre-delete world) feeding q_g25f's
    // singleton-seeded touched-community unroll (the delete stage,
    // over effective-remaining ground truth) — each stage with its own
    // subgraph's m table (the mTable parameter on louvainRoundSql).
    "q_g25g_cdc_communities" ->
      s"""WITH RECURSIVE li AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
         |  FROM lineitem),
         |eold AS MATERIALIZED (SELECT DISTINCT a.pk AS a, b.pk AS b
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
         |  WHERE a.ok % 40 = 0),
         |edelta AS MATERIALIZED (SELECT DISTINCT a.pk AS a, b.pk AS b
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
         |  WHERE a.ok % 200 = 20),
         |eall AS MATERIALIZED (SELECT DISTINCT a.pk AS a, b.pk AS b
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
         |  WHERE a.ok % 40 = 0 OR a.ok % 200 = 20),
         |edel AS MATERIALIZED (SELECT DISTINCT a.pk AS a, b.pk AS b
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
         |  WHERE a.ok % 120 = 0),
         |erem AS MATERIALIZED (SELECT a, b FROM eall
         |  WHERE NOT EXISTS (SELECT 1 FROM edel
         |    WHERE edel.a = eall.a AND edel.b = eall.b)),
         |vold AS (SELECT DISTINCT id FROM (
         |  SELECT a AS id FROM eold UNION ALL SELECT b FROM eold)),
         |oadj AS MATERIALIZED (SELECT a AS src, b AS dst FROM eold
         |  UNION ALL SELECT b, a FROM eold),
         |reach AS (
         |  SELECT id, id AS lbl FROM vold
         |  UNION
         |  SELECT a.dst AS id, r.lbl FROM reach r
         |  JOIN oadj a ON a.src = r.id
         |  WHERE r.lbl < a.dst),
         |prev AS MATERIALIZED (
         |  SELECT id, min(lbl) AS lbl FROM reach GROUP BY id),
         |seeds AS (SELECT DISTINCT id FROM (
         |  SELECT a AS id FROM edelta UNION ALL SELECT b FROM edelta)),
         |sadj AS MATERIALIZED (SELECT a AS src, b AS dst FROM eall
         |  UNION ALL SELECT b, a FROM eall),
         |h1 AS (SELECT DISTINCT sadj.dst AS id
         |  FROM sadj JOIN seeds ON sadj.src = seeds.id),
         |h2 AS (SELECT DISTINCT sadj.dst AS id
         |  FROM sadj JOIN h1 ON sadj.src = h1.id),
         |region AS MATERIALIZED (SELECT DISTINCT id FROM (
         |  SELECT id FROM seeds UNION ALL SELECT id FROM h1
         |  UNION ALL SELECT id FROM h2)),
         |e AS MATERIALIZED (SELECT eall.a, eall.b FROM eall
         |  JOIN region ra ON ra.id = eall.a
         |  JOIN region rb ON rb.id = eall.b),
         |adj AS MATERIALIZED (SELECT a AS src, b AS dst FROM e
         |  UNION ALL SELECT b, a FROM e),
         |deg AS MATERIALIZED (SELECT src AS id,
         |  CAST(count(*) AS HUGEINT) AS k FROM adj GROUP BY 1),
         |m AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM e),
         |l0 AS (SELECT deg.id, coalesce(p.lbl, deg.id) AS lbl
         |  FROM deg LEFT JOIN prev p USING (id))${
           (0 until 2).map(r => louvainRoundSql(r, "", "adj", "deg",
             false, gated = true)).mkString},
         |inter AS MATERIALIZED (
         |  SELECT p.id, p.lbl AS community FROM prev p
         |  WHERE p.id NOT IN (SELECT id FROM region)
         |  UNION ALL
         |  SELECT r.id, coalesce(l.lbl, p.lbl, r.id) AS community
         |  FROM region r
         |  LEFT JOIN l2 l USING (id)
         |  LEFT JOIN prev p USING (id)),
         |tc AS MATERIALIZED (SELECT DISTINCT i.community AS lbl
         |  FROM inter i
         |  JOIN (SELECT a AS id FROM edel
         |        UNION ALL SELECT b FROM edel) s2 ON s2.id = i.id),
         |members AS MATERIALIZED (
         |  SELECT i.id FROM inter i JOIN tc ON tc.lbl = i.community),
         |de AS MATERIALIZED (SELECT erem.a, erem.b FROM erem
         |  JOIN members ma ON ma.id = erem.a
         |  JOIN members mb ON mb.id = erem.b),
         |dadj AS MATERIALIZED (SELECT a AS src, b AS dst FROM de
         |  UNION ALL SELECT b, a FROM de),
         |ddeg AS MATERIALIZED (SELECT src AS id,
         |  CAST(count(*) AS HUGEINT) AS k FROM dadj GROUP BY 1),
         |dm AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM de),
         |dl0 AS (SELECT id, id AS lbl FROM ddeg)${
           (0 until 2).map(r => louvainRoundSql(r, "d", "dadj", "ddeg",
             false, gated = true, mTable = "dm")).mkString},
         |out_kept AS (
         |  SELECT i.id, i.community FROM inter i
         |  WHERE i.community NOT IN (SELECT lbl FROM tc)),
         |out_members AS (
         |  SELECT mm.id, coalesce(l.lbl, mm.id) AS community
         |  FROM members mm
         |  LEFT JOIN dl2 l USING (id))
         |SELECT id, community FROM out_kept
         |UNION ALL
         |SELECT id, community FROM out_members
         |ORDER BY id""".stripMargin,

    // Decremental-maintenance rebuild: recursive min-label CC over the
    // old graph (the stored labels), touched communities from the
    // deleted-pair endpoints, the induced remaining subgraph's 2
    // SINGLETON-seeded gated rounds (louvainRoundSql with l0 = id),
    // then kept ∪ members with the engine's new→singleton coalesce.
    // Set difference spelled as NOT EXISTS (the WITH RECURSIVE
    // UNION-dedup trap makes set ops in non-recursive CTEs unsafe).
    "q_g25f_decr_communities" ->
      s"""WITH RECURSIVE li AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
         |  FROM lineitem),
         |eold AS MATERIALIZED (SELECT DISTINCT a.pk AS a, b.pk AS b
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
         |  WHERE a.ok % 40 = 0),
         |edel AS MATERIALIZED (SELECT DISTINCT a.pk AS a, b.pk AS b
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
         |  WHERE a.ok % 120 = 0),
         |erem AS MATERIALIZED (SELECT a, b FROM eold
         |  WHERE NOT EXISTS (SELECT 1 FROM edel
         |    WHERE edel.a = eold.a AND edel.b = eold.b)),
         |vold AS (SELECT DISTINCT id FROM (
         |  SELECT a AS id FROM eold UNION ALL SELECT b FROM eold)),
         |oadj AS MATERIALIZED (SELECT a AS src, b AS dst FROM eold
         |  UNION ALL SELECT b, a FROM eold),
         |reach AS (
         |  SELECT id, id AS lbl FROM vold
         |  UNION
         |  SELECT a.dst AS id, r.lbl FROM reach r
         |  JOIN oadj a ON a.src = r.id
         |  WHERE r.lbl < a.dst),
         |prev AS MATERIALIZED (
         |  SELECT id, min(lbl) AS lbl FROM reach GROUP BY id),
         |tc AS MATERIALIZED (SELECT DISTINCT p.lbl FROM prev p
         |  JOIN (SELECT a AS id FROM edel
         |        UNION ALL SELECT b FROM edel) s ON s.id = p.id),
         |members AS MATERIALIZED (
         |  SELECT p.id FROM prev p JOIN tc ON tc.lbl = p.lbl),
         |e AS MATERIALIZED (SELECT erem.a, erem.b FROM erem
         |  JOIN members ma ON ma.id = erem.a
         |  JOIN members mb ON mb.id = erem.b),
         |adj AS MATERIALIZED (SELECT a AS src, b AS dst FROM e
         |  UNION ALL SELECT b, a FROM e),
         |deg AS MATERIALIZED (SELECT src AS id,
         |  CAST(count(*) AS HUGEINT) AS k FROM adj GROUP BY 1),
         |m AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM e),
         |l0 AS (SELECT id, id AS lbl FROM deg)${
           (0 until 2).map(r => louvainRoundSql(r, "", "adj", "deg",
             false, gated = true)).mkString},
         |out_kept AS (
         |  SELECT p.id, p.lbl AS community FROM prev p
         |  WHERE p.lbl NOT IN (SELECT lbl FROM tc)),
         |out_members AS (
         |  SELECT mm.id, coalesce(l.lbl, mm.id) AS community
         |  FROM members mm
         |  LEFT JOIN l2 l USING (id))
         |SELECT id, community FROM out_kept
         |UNION ALL
         |SELECT id, community FROM out_members
         |ORDER BY id""".stripMargin,

    // Weighted Leiden rebuild: the weighted two-level unroll over the
    // q_j7 co-occurrence graph, then the same recursive min-label
    // refinement replay as q_g24 (connectivity is weight-blind, so the
    // intra adjacency drops w).
    "q_g24b_leiden_weighted" ->
      s"""${louvainWeightedOracleCtes
             .replaceFirst("WITH ", "WITH RECURSIVE ")},
         |iadj AS MATERIALIZED (
         |  SELECT e.a AS src, e.b AS dst FROM e
         |    JOIN fin la ON la.id = e.a JOIN fin lb ON lb.id = e.b
         |    WHERE la.lbl = lb.lbl
         |  UNION ALL
         |  SELECT e.b, e.a FROM e
         |    JOIN fin la ON la.id = e.a JOIN fin lb ON lb.id = e.b
         |    WHERE la.lbl = lb.lbl),
         |reach AS (
         |  SELECT id, id AS lbl FROM fin
         |  UNION
         |  SELECT a.dst AS id, r.lbl FROM reach r
         |  JOIN iadj a ON a.src = r.id
         |  WHERE r.lbl < a.dst)
         |SELECT id, min(lbl) AS community FROM reach
         |GROUP BY id ORDER BY id""".stripMargin,

    // Scoreboard rebuild: the two-level louvain unroll plus the q_g10
    // LPA-2 unroll (p-prefixed CTEs), each scored from exact integer
    // moments Σm_in / Σd_tot² with the engine's double shape
    // (S_in/m − S_d2/(m·m·4))·1e6.
    "q_g23b_louvain_vs_lpa" ->
      s"""${louvainOracleCtes},
         |p1 AS (SELECT id, lbl FROM (
         |  SELECT dst AS id, src AS lbl,
         |    row_number() OVER (PARTITION BY dst
         |      ORDER BY count(*) DESC, src) AS rn
         |  FROM adj GROUP BY dst, src) WHERE rn = 1),
         |p2 AS MATERIALIZED (SELECT id, lbl FROM (
         |  SELECT a.dst AS id, l.lbl,
         |    row_number() OVER (PARTITION BY a.dst
         |      ORDER BY count(*) DESC, l.lbl) AS rn
         |  FROM adj a JOIN p1 l ON l.id = a.src
         |  GROUP BY a.dst, l.lbl) WHERE rn = 1),
         |qlou AS (SELECT 'louvain' AS method,
         |    (SELECT CAST(count(*) AS HUGEINT) FROM e
         |     JOIN fin la ON la.id = e.a JOIN fin lb ON lb.id = e.b
         |     WHERE la.lbl = lb.lbl) AS sin,
         |    (SELECT sum(d * d) FROM (
         |      SELECT sum(deg.k) AS d FROM fin l
         |      JOIN deg ON deg.id = l.id GROUP BY l.lbl)) AS sd2,
         |    (SELECT CAST(count(DISTINCT lbl) AS BIGINT) FROM fin)
         |      AS n_comms),
         |qlpa AS (SELECT 'lpa' AS method,
         |    (SELECT CAST(count(*) AS HUGEINT) FROM e
         |     JOIN p2 la ON la.id = e.a JOIN p2 lb ON lb.id = e.b
         |     WHERE la.lbl = lb.lbl) AS sin,
         |    (SELECT sum(d * d) FROM (
         |      SELECT sum(deg.k) AS d FROM p2 l
         |      JOIN deg ON deg.id = l.id GROUP BY l.lbl)) AS sd2,
         |    (SELECT CAST(count(DISTINCT lbl) AS BIGINT) FROM p2)
         |      AS n_comms)
         |SELECT method,
         |  CAST(floor((CAST(sin AS DOUBLE) / CAST(m.m AS DOUBLE)
         |    - CAST(sd2 AS DOUBLE) / (CAST(m.m AS DOUBLE)
         |        * CAST(m.m AS DOUBLE) * 4)) * 1e6
         |    + CAST(0.5 AS DOUBLE)) AS BIGINT) AS q_e6,
         |  n_comms
         |FROM (SELECT * FROM qlou UNION ALL SELECT * FROM qlpa), m
         |ORDER BY method""".stripMargin,

    "q_g4_triangles" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |  WHERE l_orderkey % 20 = 0),
        |e AS (SELECT DISTINCT a.pk AS a, b.pk AS b
        |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |tri AS (
        |  SELECT e1.a, e1.b, e2.b AS c
        |  FROM e e1
        |  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
        |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b)
        |SELECT id, count(*) AS n_triangles FROM (
        |  SELECT a AS id FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |GROUP BY id ORDER BY id""".stripMargin,
  )
}
