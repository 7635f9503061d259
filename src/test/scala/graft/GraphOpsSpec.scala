package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, countDistinct, lit}

import graft.operators.GraphOps

/** In-engine graph analytics over (start_id, end_id) edge frames. */
class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  // 0→1→2→3 chain plus a 4↔5 cycle and a dangling 9
  private lazy val edges = Seq(
    (0L, 1L), (1L, 2L), (2L, 3L), (4L, 5L), (5L, 4L))
    .toDF("start_id", "end_id")

  test("q_g23b_louvain_vs_lpa runs both legs under the caller's job " +
      "group, run after run") {
    import org.apache.spark.sql.graft.SqlExecutions
    val sc = spark.sparkContext
    assert(spark.streams.active.isEmpty, "no other query may run jobs")
    def under(group: String): Seq[String] = {
      sc.setJobGroup(group, s"q_g23b under $group")
      try SqlExecutions.jobGroupsDuring(spark)(
        SparkEntry.queries("q_g23b_louvain_vs_lpa")(spark, sf()).collect())
        ._1
      finally sc.clearJobGroup()
    }
    under("g23b-first"): Unit
    val second = under("g23b-second")
    assert(second.nonEmpty && second.forall(_ == "g23b-second"), second)
  }

  test("degrees: out, in, total") {
    val multi = Seq((0L, 1L), (0L, 2L), (1L, 2L)).toDF("start_id", "end_id")
    assert(GraphOps.degrees(multi, "out").orderBy("id").collect().toSeq ==
      Seq(Row(0L, 2L), Row(1L, 1L)))
    assert(GraphOps.degrees(multi, "in").orderBy("id").collect().toSeq ==
      Seq(Row(1L, 1L), Row(2L, 2L)))
    assert(GraphOps.degrees(multi, "total").orderBy("id").collect().toSeq ==
      Seq(Row(0L, 2L), Row(1L, 2L), Row(2L, 2L)))
    intercept[IllegalArgumentException](GraphOps.degrees(multi, "sideways"))
  }

  test("connectedComponents: min-label per component, direction ignored") {
    // chain 0-1-2-3 (mixed directions) + cycle 4-5 + pendant 9-2
    val g = Seq((1L, 0L), (1L, 2L), (3L, 2L), (4L, 5L), (5L, 4L), (9L, 2L))
      .toDF("start_id", "end_id")
    val out = GraphOps.connectedComponents(g).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 9L -> 0L,
      4L -> 4L, 5L -> 4L))
  }

  test("personalizedPageRank: mass conserved, proximity to seeds, zeros far") {
    // two disjoint 2-cycles; seed only in the first
    val g = Seq((0L, 1L), (1L, 0L), (8L, 9L), (9L, 8L))
      .toDF("start_id", "end_id")
    val seeds = Seq(0L).toDF("id")
    val r = GraphOps.personalizedPageRank(g, seeds, iterations = 6)
      .collect().map(row => row.getLong(0) -> row.getDouble(1)).toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-12)
    // unreachable component gets exactly zero (no smoothing term there)
    assert(r(8L) == 0.0 && r(9L) == 0.0)
    assert(r(0L) > r(1L) && r(1L) > 0.0) // seed closest, neighbour next
  }

  test("personalizedPageRank: one iteration matches the closed form") {
    // seed 0 → 1; 1 dangling. s = (1, 0); start r = s.
    // r'(0) = 0.15·1 + 0.85·(0 + dangling·1) with dangling = r(1) = 0
    // r'(1) = 0.85·(r(0)/1) = 0.85
    val g = Seq((0L, 1L)).toDF("start_id", "end_id")
    val seeds = Seq(0L).toDF("id")
    val r = GraphOps.personalizedPageRank(g, seeds, iterations = 1)
      .collect().map(row => row.getLong(0) -> row.getDouble(1)).toMap
    assert(math.abs(r(0L) - 0.15) < 1e-12)
    assert(math.abs(r(1L) - 0.85) < 1e-12)
  }

  test("triangleCounts: K4 gives every vertex 3 triangles") {
    // complete graph on 4 vertices: C(3,2) = 3 triangles per vertex
    val k4 = (for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b))
      .toDF("start_id", "end_id")
    val out = GraphOps.triangleCounts(k4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("triangleCounts: direction, duplicates, and self-loops are ignored") {
    // one triangle written messily: reversed edges, dups, a self-loop, and
    // a pendant edge that closes nothing
    val messy = Seq(
      (0L, 1L), (1L, 0L), (1L, 2L), (2L, 0L), (2L, 2L), (0L, 1L), (2L, 9L))
      .toDF("start_id", "end_id")
    val out = GraphOps.triangleCounts(messy).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 1L, 1L -> 1L, 2L -> 1L))
    // chain has no triangles → empty result, not zero rows per vertex
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("start_id", "end_id")
    assert(GraphOps.triangleCounts(chain).isEmpty)
  }

  test("pageRank: ranks sum to 1 and a 2-cycle is uniform") {
    val cycle = Seq((0L, 1L), (1L, 0L)).toDF("start_id", "end_id")
    val r = GraphOps.pageRank(cycle, iterations = 5).orderBy("id").collect()
    assert(math.abs(r.map(_.getDouble(1)).sum - 1.0) < 1e-12)
    assert(math.abs(r(0).getDouble(1) - 0.5) < 1e-12)
    assert(math.abs(r(1).getDouble(1) - 0.5) < 1e-12)
  }

  test("pageRank: star graph concentrates rank on the center") {
    // 1..5 → 0; 0 is dangling, so its mass redistributes uniformly
    val star = (1L to 5L).map(i => (i, 0L)).toDF("start_id", "end_id")
    val r = GraphOps.pageRank(star, iterations = 40).collect()
      .map(row => row.getLong(0) -> row.getDouble(1)).toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-9) // mass conserved
    assert(r(0L) > 0.5) // center dominates
    assert((1L to 5L).map(r).toSet.size == 1) // leaves symmetric
  }

  test("pageRank: one iteration matches the hand-computed closed form") {
    // 0→1, 0→2, 1→2; 2 dangling. N=3, start 1/3, d=0.85.
    // dangling = 1/3; base = 0.05 + 0.85*(1/9) [uniform dangling share]
    val g = Seq((0L, 1L), (0L, 2L), (1L, 2L)).toDF("start_id", "end_id")
    val r = GraphOps.pageRank(g, iterations = 1).collect()
      .map(row => row.getLong(0) -> row.getDouble(1)).toMap
    val base = 0.15 / 3 + 0.85 * (1.0 / 3 / 3)
    assert(math.abs(r(0L) - base) < 1e-12) // no inflow
    assert(math.abs(r(1L) - (base + 0.85 * (1.0 / 3 / 2))) < 1e-12)
    assert(math.abs(r(2L) - (base + 0.85 * (1.0 / 3 / 2 + 1.0 / 3))) < 1e-12)
  }

  test("pageRank: isolated nodes via the nodes parameter share base rank") {
    val g = Seq((0L, 1L)).toDF("start_id", "end_id")
    val iso = Seq(7L).toDF("id")
    val r = GraphOps.pageRank(g, iterations = 3, nodes = Some(iso))
      .collect().map(row => row.getLong(0) -> row.getDouble(1)).toMap
    assert(r.contains(7L) && r.size == 3)
    assert(math.abs(r.values.sum - 1.0) < 1e-12)
    assert(r(1L) > r(7L)) // 1 has inflow, 7 only base + dangling share
  }

  test("incrementalPageRank: warm start beats cold start toward the " +
      "mutated graph's fixed point at every round count and converges " +
      "to the fresh-run scores; iterations=0 is the renormalized " +
      "carry — mass 1, dropped node gone, new node at uniform share") {
    // base: a 3-cycle with two feeders plus a 2-cycle appendage;
    // delta drops 4→0 (node 4 vanishes — nothing points at it) and
    // attaches NEW node 9 to the appendage
    val base = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 0L), (4L, 0L),
      (0L, 5L), (5L, 6L), (6L, 5L)).toDF("start_id", "end_id")
    // damping 0.5 so the contraction (0.5^k) actually closes inside
    // the round budget — at 0.85 the fixed point needs ~100+ rounds
    val stored = GraphOps.pageRank(base, damping = 0.5, iterations = 30)
      .localCheckpoint()
    val mutated = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 0L),
      (0L, 5L), (5L, 6L), (6L, 5L), (9L, 5L), (5L, 9L))
      .toDF("start_id", "end_id")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val truth = m(GraphOps.pageRank(mutated, damping = 0.5,
      iterations = 60))
    def l1(a: Map[Long, Double]) = (a.keySet ++ truth.keySet).toSeq
      .map(k => math.abs(a.getOrElse(k, 0.0) - truth.getOrElse(k, 0.0)))
      .sum
    for (k <- Seq(1, 2, 4)) {
      val warm = l1(m(GraphOps.incrementalPageRank(mutated, stored,
        damping = 0.5, iterations = k)))
      val cold = l1(m(GraphOps.pageRank(mutated, damping = 0.5,
        iterations = k)))
      assert(warm < cold,
        s"warm start closer than cold at k=$k ($warm vs $cold)")
    }
    assert(l1(m(GraphOps.incrementalPageRank(mutated, stored,
        damping = 0.5, iterations = 30))) < 1e-9,
      "warm start converges to the fresh-run fixed point")
    val carry = m(GraphOps.incrementalPageRank(mutated, stored,
      damping = 0.5, iterations = 0))
    assert(math.abs(carry.values.sum - 1.0) < 1e-12, "mass renormalized")
    assert(!carry.contains(4L), "dropped node's row is gone")
    // new node enters at the uniform 1/7 share, then the one global
    // normalization — replay the exact arithmetic
    val storedM = m(stored)
    val total = carry.keySet.toSeq
      .map(k => storedM.getOrElse(k, 1.0 / 7)).sum
    assert(math.abs(carry(9L) - (1.0 / 7) / total) < 1e-12,
      "new node at the uniform share")
  }

  test("rank store: save/load round-trips bit-exactly with the " +
      "damping identity; the stored warm start reproduces the " +
      "in-memory one exactly; versions are immutable and the latest " +
      "commit serves; mixed-damping saves, underscore tags, and " +
      "storeless loads refuse") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_rankstore").toString + "/rs"
    val base = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 0L))
      .toDF("start_id", "end_id")
    val scores = GraphOps.pageRank(base, damping = 0.5,
      iterations = 10).localCheckpoint()
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    intercept[IllegalArgumentException](
      GraphOps.loadRankStore(spark, s"$dir/none"))
    assert(GraphOps.saveRankStore(spark, dir, scores, 0.5) == 1L)
    val st = GraphOps.loadRankStore(spark, dir)
    assert(st.damping == 0.5 && st.version == 1L && st.tag == "-")
    assert(m(st.scores) == m(scores), "round-trip bit-equality")
    val mutated = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 1L),
      (4L, 0L)).toDF("start_id", "end_id")
    val inMem = m(GraphOps.incrementalPageRank(mutated, scores,
      damping = 0.5, iterations = 2))
    val offStore = GraphOps.incrementalPageRankFromStore(spark, dir,
      mutated, iterations = 2).localCheckpoint()
    assert(m(offStore) == inMem,
      "stored warm start ≡ the in-memory warm start, exact doubles")
    assert(GraphOps.saveRankStore(spark, dir, offStore, 0.5,
      tag = "7") == 2L)
    val st2 = GraphOps.loadRankStore(spark, dir)
    assert(st2.version == 2L && st2.tag == "7" &&
      m(st2.scores) == inMem)
    // v1 is still on disk, untouched — immutability
    assert(m(spark.read.parquet(s"$dir/_v1/scores")) == m(scores))
    val boom = intercept[IllegalArgumentException](
      GraphOps.saveRankStore(spark, dir, scores, 0.85))
    assert(boom.getMessage.contains("damping"))
    intercept[IllegalArgumentException](
      GraphOps.saveRankStore(spark, dir, scores, 0.5, tag = "a_b"))
    // a store in the older scores/v<n> layout (meta at the root) is
    // refused with a message naming the layout change
    val old = dir + "_old"
    spark.range(1).select(lit(0.5).as("damping")).write.parquet(s"$old/meta")
    scores.write.parquet(s"$old/scores/v1")
    assert(new java.io.File(s"$old/_commits/1_-").getParentFile.mkdirs() &&
      new java.io.File(s"$old/_commits/1_-").createNewFile())
    assert(intercept[IllegalArgumentException](
      GraphOps.loadRankStore(spark, old)).getMessage
      .contains("scores/v<n> layout"))
  }

  test("hits: star graph — center is the sole authority, leaves the " +
      "symmetric hubs; both scores L1-normalized") {
    val star = (1L to 4L).map(i => (i, 0L)).toDF("start_id", "end_id")
    val r = GraphOps.hits(star, iterations = 5).collect()
      .map(row => row.getLong(0) ->
        (row.getDouble(1), row.getDouble(2))).toMap
    assert(math.abs(r.values.map(_._1).sum - 1.0) < 1e-12) // Σ hub = 1
    assert(math.abs(r.values.map(_._2).sum - 1.0) < 1e-12) // Σ auth = 1
    assert(math.abs(r(0L)._2 - 1.0) < 1e-12) // only in-edge target
    assert(r(0L)._1 == 0.0) // no out-edges → hub 0
    assert((1L to 4L).forall(i => math.abs(r(i)._1 - 0.25) < 1e-12))
    assert((1L to 4L).forall(i => r(i)._2 == 0.0))
  }

  test("hits: one iteration matches the hand-computed closed form") {
    // 0→2, 1→2, 1→3. auth' = (0,0,2,1)/3; hub' = (2/3, 1, ...)/(5/3)
    val g = Seq((0L, 2L), (1L, 2L), (1L, 3L)).toDF("start_id", "end_id")
    val r = GraphOps.hits(g, iterations = 1).collect()
      .map(row => row.getLong(0) ->
        (row.getDouble(1), row.getDouble(2))).toMap
    assert(math.abs(r(2L)._2 - 2.0 / 3) < 1e-12)
    assert(math.abs(r(3L)._2 - 1.0 / 3) < 1e-12)
    assert(math.abs(r(0L)._1 - (2.0 / 3) / (5.0 / 3)) < 1e-12)
    assert(math.abs(r(1L)._1 - 1.0 / (5.0 / 3)) < 1e-12)
    assert(r(0L)._2 == 0.0 && r(1L)._2 == 0.0)
    assert(r(2L)._1 == 0.0 && r(3L)._1 == 0.0)
  }

  test("hits: mutual reinforcement — the hub pointing at both " +
      "authorities beats the single-target hub") {
    // 0→{2,3}, 1→2: after 2+ rounds hub(0) > hub(1) even though both
    // hit authority 2, because 0 also feeds 3.
    val g = Seq((0L, 2L), (0L, 3L), (1L, 2L)).toDF("start_id", "end_id")
    val r = GraphOps.hits(g, iterations = 3).collect()
      .map(row => row.getLong(0) -> row.getDouble(1)).toMap
    assert(r(0L) > r(1L))
    // and authority 2 (two hubs) beats authority 3 (one hub)
    val a = GraphOps.hits(g, iterations = 3).collect()
      .map(row => row.getLong(0) -> row.getDouble(2)).toMap
    assert(a(2L) > a(3L))
  }

  test("maximalIndependentSet: independent AND maximal on a ring; " +
      "isolated nodes join in round 1; rerun/partition invariant") {
    val ring = (0L until 12L).map(i => (i, (i + 1) % 12))
      .toDF("start_id", "end_id")
    val iso = Seq(99L).toDF("id")
    val mis = GraphOps.maximalIndependentSet(ring, nodes = Some(iso))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val members = mis.keySet
    // independence: no ring edge has both endpoints in the set
    assert((0L until 12L).forall(i =>
      !(members(i) && members((i + 1) % 12))))
    // maximality: every non-member has a member neighbor
    assert((0L until 12L).forall(i => members(i) ||
      members((i + 11) % 12) || members((i + 1) % 12)))
    assert(mis(99L) == 1L) // no neighbors → first round
    val rerun = GraphOps.maximalIndependentSet(ring.repartition(7),
        nodes = Some(iso))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rerun == mis)
  }

  test("maximalIndependentSet: star center and leaves never coexist; " +
      "another seed still yields a valid MIS") {
    val star = (1L to 6L).map(i => (0L, i)).toDF("start_id", "end_id")
    for (seed <- Seq(42L, 7L)) {
      val m = GraphOps.maximalIndependentSet(star, seed = seed)
        .collect().map(_.getLong(0)).toSet
      // either {center} or all leaves — both are the only valid MISes
      assert(m == Set(0L) || m == (1L to 6L).toSet)
    }
    intercept[IllegalArgumentException] {
      GraphOps.maximalIndependentSet(star, maxRounds = 0)
    }
  }

  test("kHop: min-hop labels, no revisits, bounded depth") {
    val seeds = Seq(0L).toDF("id")
    val out = GraphOps.kHop(edges, seeds, 2).orderBy("hop").collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    assert(out.toSeq == Seq(0L -> 0, 1L -> 1, 2L -> 2)) // 3 is 3 hops away
  }

  test("kHop: cycles terminate (anti-join blocks revisits)") {
    val seeds = Seq(4L).toDF("id")
    val out = GraphOps.kHop(edges, seeds, 10).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(4L -> 0, 5L -> 1)) // 4 reached at 0, never again at 2
  }

  test("kHop: hops=0 returns just the deduped seeds; empty frontier exits") {
    val seeds = Seq(9L, 9L, 0L).toDF("id")
    assert(GraphOps.kHop(edges, seeds, 0).count() == 2)
    // 9 has no out-edges: frontier empties after round 1 regardless of hops
    val out = GraphOps.kHop(edges, Seq(9L).toDF("id"), 100).collect()
    assert(out.map(r => r.getLong(0) -> r.getInt(1)).toSeq == Seq(9L -> 0))
  }

  test("kHop: multi-seed frontiers merge and keep first reach") {
    // 0 reaches 2 in 2 hops, but 2 is also a seed → hop 0 wins
    val out = GraphOps.kHop(edges, Seq(0L, 2L).toDF("id"), 3).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(0L -> 0, 2L -> 0, 1L -> 1, 3L -> 1))
  }

  test("pageRank weighted: flow follows edge weight; constant weights " +
      "reproduce unweighted bit-for-bit") {
    // 0 → 1 (w=3) and 0 → 2 (w=1); 1 and 2 dangling. One iteration:
    // d0 = r(1)+r(2) = 2/3; r1(1) = 0.05 + 0.85·(1/3·3/4 + (2/3)/3)
    val g = Seq((0L, 1L, 3.0), (0L, 2L, 1.0)).toDF("start_id", "end_id", "w")
    val r = GraphOps.pageRank(g, iterations = 1, weightCol = Some("w"))
      .collect().map(row => row.getLong(0) -> row.getDouble(1)).toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-12)
    val base = 0.05 + 0.85 * (2.0 / 3.0 / 3.0)
    assert(math.abs(r(0L) - base) < 1e-12)
    assert(math.abs(r(1L) - (base + 0.85 * (1.0 / 3.0 * 3.0 / 4.0))) < 1e-12)
    assert(math.abs(r(2L) - (base + 0.85 * (1.0 / 3.0 / 4.0))) < 1e-12)
    // constant weight 2.0: (r·2)/(2k) == r/k exactly in IEEE — identical
    // doubles to the unweighted path
    val g2 = Seq((1L, 0L), (1L, 2L), (3L, 2L), (4L, 5L), (9L, 2L))
      .toDF("start_id", "end_id")
    val unw = GraphOps.pageRank(g2, iterations = 4)
      .collect().map(row => row.getLong(0) -> row.getDouble(1)).toMap
    val cw = GraphOps.pageRank(g2.withColumn("w", lit(2.0)), iterations = 4,
        weightCol = Some("w"))
      .collect().map(row => row.getLong(0) -> row.getDouble(1)).toMap
    assert(cw == unw)
  }

  test("clusteringCoefficients: clique = 1, path middle = 0, " +
      "triangle-with-pendant = 1/3, degree-1 nodes = 0") {
    val k4 = (for (i <- 0L to 3L; j <- i + 1 to 3L) yield (i, j))
      .toDF("start_id", "end_id")
    val ck4 = GraphOps.clusteringCoefficients(k4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(ck4.size == 4 && ck4.values.forall(_ == ((3L, 3L, 1.0))))
    // triangle 1-2-3 with pendant 3-4: node 3 has deg 3, 1 triangle
    val tp = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .toDF("start_id", "end_id")
    val c = GraphOps.clusteringCoefficients(tp)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(c(1L) == ((2L, 1L, 1.0)) && c(2L) == ((2L, 1L, 1.0)))
    assert(c(3L) == ((3L, 1L, 2.0 * 1 / (3 * 2))))
    assert(c(4L) == ((1L, 0L, 0.0)))
    // path middle node: deg 2, no triangles -> 0
    val path = Seq((1L, 2L), (2L, 3L)).toDF("start_id", "end_id")
    val cp = GraphOps.clusteringCoefficients(path)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(cp == Map(1L -> 0.0, 2L -> 0.0, 3L -> 0.0))
  }

  test("kCore: peels fringes to the dense core; path graphs peel to " +
      "empty over many rounds") {
    // K4 {0,1,2,3} with a pendant chain 3-10-11: 3-core = the K4 exactly
    val k4 = for (i <- 0L to 3L; j <- i + 1 to 3L) yield (i, j)
    val g = (k4 ++ Seq((3L, 10L), (10L, 11L))).toDF("start_id", "end_id")
    assert(GraphOps.kCore(g, 3).collect().map(_.getLong(0)).toSet ==
      Set(0L, 1L, 2L, 3L))
    // 2-core of a pure path is empty — needs length/2 peeling rounds
    val path = (0L until 9L).map(i => (i, i + 1)).toDF("start_id", "end_id")
    assert(GraphOps.kCore(path, 2).isEmpty)
    // ... five rounds: a peel cut short at maxIter fails, never a superset
    val cut = intercept[IllegalArgumentException](
      GraphOps.kCore(path, 2, maxIter = 2))
    assert(cut.getMessage.contains("maxIter"), cut.getMessage)
    assert(GraphOps.kCore(path, 2, maxIter = 5).isEmpty)
    // 2-core of a cycle is the whole cycle (nothing peels)
    val cyc = ((0L until 5L).map(i => (i, (i + 1) % 5))).toDF(
      "start_id", "end_id")
    assert(GraphOps.kCore(cyc, 2).count() == 5)
    // 1-core = all non-isolated endpoints, single round
    assert(GraphOps.kCore(path, 1).count() == 10)
  }

  test("kTruss: K4 survives 4-truss, pendant and bridge edges peel; " +
      "triangle-free graphs empty; cascade peeling") {
    // K4 {0..3} + pendant edge (3,10): 4-truss = the K4's 6 edges
    val k4 = for (i <- 0L to 3L; j <- i + 1 to 3L) yield (i, j)
    val g = (k4 ++ Seq((3L, 10L))).toDF("start_id", "end_id")
    val out = GraphOps.kTruss(g, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == k4.toSet)
    // two triangles sharing edge (0,1): every edge is in exactly one
    // triangle except the shared one — 3-truss keeps all 5 edges,
    // 4-truss needs 2 triangles per edge: only after the fringe peels
    // does the shared edge lose ITS support too → empty (cascade)
    val bowtie = Seq((0L, 1L), (0L, 2L), (1L, 2L), (0L, 3L), (1L, 3L))
      .toDF("start_id", "end_id")
    assert(GraphOps.kTruss(bowtie, 3).count() == 5)
    assert(GraphOps.kTruss(bowtie, 4).isEmpty)
    // the cascade takes two rounds: one round fails instead of
    // returning the shared edge
    val cut = intercept[IllegalArgumentException](
      GraphOps.kTruss(bowtie, 4, maxIter = 1))
    assert(cut.getMessage.contains("maxIter"), cut.getMessage)
    assert(GraphOps.kTruss(bowtie, 4, maxIter = 2).isEmpty)
    // a path has no triangles → 3-truss already empty
    val path = (0L until 5L).map(i => (i, i + 1)).toDF("start_id", "end_id")
    assert(GraphOps.kTruss(path, 3).isEmpty)
    intercept[IllegalArgumentException] { GraphOps.kTruss(path, 2) }
  }

  test("seedDistances + harmonicCentrality: path graph closed form, " +
      "hop cap, directed mode, partition invariance") {
    // path 1-2-3-4-5, seeds {1,5}
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("start_id", "end_id")
    val seeds = Seq(1L, 5L).toDF("id")
    val h = GraphOps.harmonicCentrality(path, seeds, maxHops = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getLong(2)))).toMap
    assert(h(1L) == ((0.25, 1L)))                  // only seed 5 at d=4
    assert(h(2L) == ((1.0 + 1.0 / 3, 2L)))
    assert(h(3L) == ((1.0, 2L)))                   // 1/2 + 1/2
    assert(h(4L) == ((1.0 / 3 + 1.0, 2L)))
    assert(h(5L) == ((0.25, 1L)))
    // hop cap: d > 2 pairs vanish; node 1 unreached by any other seed
    val capped = GraphOps.harmonicCentrality(path, seeds, maxHops = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getLong(2)))).toMap
    assert(!capped.contains(1L) && capped(3L) == ((1.0, 2L)))
    // directed: edges only flow forward from seed 1
    val d = GraphOps.harmonicCentrality(
      Seq((1L, 2L), (2L, 3L)).toDF("start_id", "end_id"),
      Seq(1L).toDF("id"), maxHops = 5, directed = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(d == Map(2L -> 1.0, 3L -> 0.5))
    val re = GraphOps.harmonicCentrality(path.repartition(7), seeds,
      maxHops = 10).collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getLong(2)))).toMap
    assert(re == h)
  }

  test("closenessCentrality: path graph closed form, unreached absent, " +
      "harmonic-consistent n_reached") {
    // path 1-2-3-4-5, seeds {1,5}
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("start_id", "end_id")
    val seeds = Seq(1L, 5L).toDF("id")
    val c = GraphOps.closenessCentrality(path, seeds, maxHops = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(c(1L) == ((4L, 1L, 0.25)))       // seed 5 at d=4
    assert(c(2L) == ((4L, 2L, 0.5)))        // d=1 (seed1) + d=3 (seed5)
    assert(c(3L) == ((4L, 2L, 0.5)))        // 2 + 2
    assert(c(4L) == ((4L, 2L, 0.5)))        // 3 + 1
    assert(c(5L) == ((4L, 1L, 0.25)))
    // isolated node: absent (closeness undefined, not zero)
    val iso = GraphOps.closenessCentrality(
      Seq((1L, 2L)).toDF("start_id", "end_id"),
      Seq(1L).toDF("id"), maxHops = 3)
      .collect().map(_.getLong(0)).toSet
    assert(iso == Set(2L)) // seed itself has only d=0 rows → absent too
  }

  test("betweennessCentrality: path and diamond closed forms, hop " +
      "truncation, partition invariance") {
    // path 1-2-3-4-5, ALL nodes as seeds: full Brandes. Closed form for
    // a 5-path (undirected, per-pair counted from both endpoints):
    // bc(2) = bc(4) = 6, bc(3) = 8, endpoints 0.
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("start_id", "end_id")
    val all = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val bc = GraphOps.betweennessCentrality(path, all, maxHops = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(bc(1L) == 0.0 && bc(5L) == 0.0)
    assert(bc(2L) == 6.0 && bc(4L) == 6.0)
    assert(bc(3L) == 8.0)
    // diamond 1-2-4, 1-3-4 from seed 1: two equal shortest paths to 4,
    // so 2 and 3 each carry δ = σ_v/σ_4 · (1+0) = 1/2
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
      .toDF("start_id", "end_id")
    val d1 = GraphOps.betweennessCentrality(diamond, Seq(1L).toDF("id"),
      maxHops = 5).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(d1(2L) == 0.5 && d1(3L) == 0.5 && d1(4L) == 0.0)
    // hop truncation: maxHops = 1 sees no interior nodes from seed 1
    val t1 = GraphOps.betweennessCentrality(path, Seq(1L).toDF("id"),
      maxHops = 1).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(t1 == Map(2L -> 0.0))
    // partition invariance
    val re = GraphOps.betweennessCentrality(path.repartition(7), all,
      maxHops = 10).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(re == bc)
  }

  test("degreeAssortativity: star is perfectly disassortative, regular " +
      "graph has undefined r, bipartite-regular is -1-free") {
    // star 0-{1,2,3}: every edge joins deg 3 with deg 1 → r = -1 exactly
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("start_id", "end_id")
    val s = GraphOps.degreeAssortativity(star).head()
    assert(s.getDouble(0) == -1.0)
    assert(s.getLong(1) == 3L && s.getLong(2) == 4L)
    // 4-cycle: degree-regular → zero variance → null r
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .toDF("start_id", "end_id")
    val c = GraphOps.degreeAssortativity(cycle).head()
    assert(c.isNullAt(0))
    assert(c.getLong(1) == 4L)
    // direction/parallel/self-loop hygiene: same result canonicalized
    val messy = Seq((1L, 0L), (0L, 1L), (0L, 2L), (2L, 0L), (0L, 3L),
      (3L, 3L)).toDF("start_id", "end_id")
    assert(GraphOps.degreeAssortativity(messy).head().getDouble(0) == -1.0)
  }

  test("eccentricity: path closed form, truncation lower-bounds, " +
      "disconnected seed") {
    // path 1-2-3-4-5: ecc(1) = 4, ecc(3) = 2
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("start_id", "end_id")
    val out = GraphOps.eccentricity(path, Seq(1L, 3L).toDF("id"),
      maxHops = 10).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((4L, 4L)))
    assert(out(3L) == ((2L, 4L)))
    // truncation: the cap clamps the observable eccentricity
    val capped = GraphOps.eccentricity(path, Seq(1L).toDF("id"),
      maxHops = 2).head()
    assert(capped.getLong(1) == 2L && capped.getLong(2) == 2L)
    // isolated seed: eccentricity 0, nothing reached
    val iso = GraphOps.eccentricity(path, Seq(99L).toDF("id"), maxHops = 3)
      .head()
    assert(iso.getLong(1) == 0L && iso.getLong(2) == 0L)
  }

  test("labelPropagation: bridged cliques settle into per-clique " +
      "communities; deterministic across partitionings") {
    // two K3s {1,2,3} and {10,11,12} joined by the bridge 3-10; hand-run
    // sync-LPA (min-label ties): stable from round 4 at {1,2,3}->1,
    // {10,11,12}->3 — the bridge does NOT merge the cliques
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
      .toDF("start_id", "end_id")
    val out = GraphOps.labelPropagation(g, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 3L, 12L -> 3L))
    val re = GraphOps.labelPropagation(g.repartition(7), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(re == out)
    // round 1 on distinct-label neighborhoods = min neighbor id
    val r1 = GraphOps.labelPropagation(g, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(1L -> 2L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 10L, 12L -> 10L))
  }

  test("linkPrediction: common neighbors + Adamic-Adar on a 4-cycle; " +
      "adjacency excluded; hub cap prunes wedges") {
    // square 1-2-3-4-1: the only non-adjacent pairs are the diagonals
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .toDF("start_id", "end_id")
    val out = GraphOps.linkPrediction(sq)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out.keySet == Set((1L, 3L), (2L, 4L)))
    assert(out((1L, 3L))._1 == 2L)
    assert(math.abs(out((1L, 3L))._2 - 2.0 / math.log(2.0)) < 1e-12)
    // star 0-{1..5} plus 1-2: every leaf pair's sole common neighbor is
    // the hub; capping the hub degree below 5 leaves nothing predictable
    val star = (1L to 5L).map(i => (0L, i)) :+ (1L, 2L)
    val sdf = star.toDF("start_id", "end_id")
    val uncapped = GraphOps.linkPrediction(sdf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped == (for (i <- 1L to 5L; j <- i + 1 to 5L
      if !(i == 1 && j == 2)) yield (i, j)).toSet)
    assert(GraphOps.linkPrediction(sdf, maxHubDegree = Some(3)).isEmpty)
  }

  test("shortestPaths: weighted relaxation beats fewer-hop paths") {
    // 0→1 direct costs 10; 0→2→1 costs 2 — the weighted answer is NOT BFS
    val g = Seq((0L, 1L, 10.0), (0L, 2L, 1.0), (2L, 1L, 1.0), (1L, 3L, 0.5))
      .toDF("start_id", "end_id", "w")
    val rows = GraphOps.shortestPaths(g, Seq(0L).toDF("id"), Some("w"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2)))
      .toMap
    assert(rows.view.mapValues(_._1).toMap ==
      Map(0L -> 0.0, 1L -> 2.0, 2L -> 1.0, 3L -> 2.5))
    // predecessors reconstruct the winning path 0→2→1→3 (seed via = self)
    assert(rows(0L)._2 == 0L && rows(2L)._2 == 0L &&
      rows(1L)._2 == 2L && rows(3L)._2 == 1L)
  }

  test("shortestPaths: unweighted default is BFS hop distance; " +
      "unreachable nodes absent; cycles converge") {
    val d = GraphOps.shortestPaths(edges, Seq(0L).toDF("id"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // 4↔5 cycle and 9 are unreachable from 0
    assert(d == Map(0L -> 0.0, 1L -> 1.0, 2L -> 2.0, 3L -> 3.0))
    val cyc = GraphOps.shortestPaths(edges, Seq(4L).toDF("id"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(cyc == Map(4L -> 0.0, 5L -> 1.0))
  }

  test("shortestPaths: equal-cost zero/negative edges cannot create a " +
      "via reconstruction cycle") {
    // 9→5 (1), 5→3 (0), 3→5 (0): rounds keep presenting 5 with an
    // equal-cost candidate via 3 — a lexicographic tie-break would set
    // via(5)=3 while via(3)=5 and strand reconstruction in a loop
    val g = Seq((9L, 5L, 1.0), (5L, 3L, 0.0), (3L, 5L, 0.0))
      .toDF("start_id", "end_id", "w")
    val via = GraphOps.shortestPaths(g, Seq(9L).toDF("id"), Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(via == Map(9L -> 9L, 5L -> 9L, 3L -> 5L)) // walks end at seed
    // negative-edge variant of the same trap
    val gn = Seq((9L, 5L, 1.0), (5L, 3L, 1.0), (3L, 5L, -1.0))
      .toDF("start_id", "end_id", "w")
    val vn = GraphOps.shortestPaths(gn, Seq(9L).toDF("id"), Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(vn == Map(9L -> 9L, 5L -> 9L, 3L -> 5L))
  }

  test("pageRank weighted: non-positive weight sums fail fast, not NaN") {
    val g = Seq((0L, 1L, 0.0), (0L, 2L, 0.0), (3L, 0L, 1.0))
      .toDF("start_id", "end_id", "w")
    val e = intercept[Exception] {
      GraphOps.pageRank(g, iterations = 1, weightCol = Some("w")).collect()
    }
    assert(e.getMessage.contains("outgoing weight sum must be positive"))
  }

  test("shortestPaths: negative edges relax (Bellman-Ford), " +
      "negative cycles stop at maxIter") {
    // 0→1 (5), 0→2 (1), 2→1 (-3): best path to 1 costs -2
    val g = Seq((0L, 1L, 5.0), (0L, 2L, 1.0), (2L, 1L, -3.0))
      .toDF("start_id", "end_id", "w")
    val d = GraphOps.shortestPaths(g, Seq(0L).toDF("id"), Some("w"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(d == Map(0L -> 0.0, 1L -> -2.0, 2L -> 1.0))
    // a reachable negative cycle terminates via maxIter, not divergence
    val cyc = Seq((0L, 1L, 1.0), (1L, 0L, -2.0)).toDF("start_id", "end_id", "w")
    val bounded = GraphOps.shortestPaths(cyc, Seq(0L).toDF("id"), Some("w"),
      maxIter = 4)
    assert(bounded.count() == 2) // finished; distances are depth-4 bounds
  }

  test("shortestPaths: multi-seed takes the per-node minimum") {
    val g = Seq((0L, 1L, 4.0), (7L, 1L, 1.0)).toDF("start_id", "end_id", "w")
    val d = GraphOps.shortestPaths(g, Seq(0L, 7L).toDF("id"), Some("w"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(d == Map(0L -> 0.0, 7L -> 0.0, 1L -> 1.0))
  }

  test("Checkpointer.Reliable: fails fast without a dir, then matches " +
      "Local up to summation order once one is set") {
    val g = Seq((1L, 0L), (1L, 2L), (3L, 2L), (4L, 5L), (9L, 2L))
      .toDF("start_id", "end_id")
    if (spark.sparkContext.getCheckpointDir.isEmpty)
      intercept[IllegalArgumentException] {
        GraphOps.pageRank(g, iterations = 2, ckpt = Checkpointer.Reliable)
      }
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val local = GraphOps.pageRank(g, iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val reliable = GraphOps.pageRank(g, iterations = 3,
        ckpt = Checkpointer.Reliable)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // Last-ulp tolerance, NOT bit-equality: Reliable keeps inherited
    // plan statistics (only pathological ones reset), so its broadcast
    // decisions — and with them double summation ORDER — can differ
    // from Local's measured-stats plans. Same math, different
    // association; exact-integer operators (CC below) stay bit-equal.
    assert(reliable.keySet == local.keySet)
    reliable.foreach { case (id, r) =>
      assert(math.abs(r - local(id)) <= math.ulp(local(id)) * 4,
        s"id $id: $r vs ${local(id)}")
    }
    val cc = GraphOps.connectedComponents(g, ckpt = Checkpointer.Reliable)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 9L -> 0L,
      4L -> 4L, 5L -> 4L))
  }

  test("randomWalks: steps replay the hash choice exactly, sinks stop " +
      "the walk, reruns are identical") {
    // 1 → {2, 3}, 2 → {1, 3}, 3 → {} (sink)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 1L), (2L, 3L))
      .toDF("start_id", "end_id")
    val seeds = Seq(1L).toDF("id")
    val out = GraphOps.randomWalks(edges, seeds, walkLength = 3, seed = 42L)
      .orderBy("step").collect()
      .map(r => r.getAs[Long]("step") -> r.getAs[Long]("node"))
    // replay with the JVM hash twin against dst-ranked adjacency
    val adj = Map(1L -> Seq(2L, 3L), 2L -> Seq(1L, 3L))
    var node = 1L
    var expected = Seq(0L -> 1L)
    var t = 1
    var alive = true
    while (t <= 3 && alive) {
      adj.get(node) match {
        case Some(nbrs) =>
          val h = graft.functions.PortableHash.hash48(s"1:$t:$node", 42L)
          node = nbrs((h % nbrs.length).toInt)
          expected :+= t.toLong -> node
          t += 1
        case None => alive = false // sink: walk ends early
      }
    }
    assert(out.toSeq == expected)
    // deterministic: a second run (different partitioning) is identical
    val again = GraphOps.randomWalks(edges.repartition(7), seeds,
        walkLength = 3, seed = 42L)
      .orderBy("step").collect()
      .map(r => r.getAs[Long]("step") -> r.getAs[Long]("node"))
    assert(again.toSeq == out.toSeq)
    // a different seed changes at least the hash inputs' trajectory space
    // without breaking the walk invariants: consecutive steps are edges
    val other = GraphOps.randomWalks(edges, seeds, walkLength = 3,
        seed = 7L).collect()
      .map(r => (r.getAs[Long]("step"), r.getAs[Long]("node")))
      .sortBy(_._1)
    other.sliding(2).foreach { case Array((_, u), (_, v)) =>
      assert(adj.getOrElse(u, Seq()).contains(v)) }
  }

  test("biasedRandomWalks: extreme return weight oscillates, extreme " +
      "explore weight marches down the path") {
    // undirected path 0—1—2—3 (symmetrized)
    val p = Seq((0L, 1L), (1L, 2L), (2L, 3L))
    val sym = (p ++ p.map(_.swap)).toDF("start_id", "end_id")
    val seeds = Seq(0L).toDF("id")
    // return dominates: after reaching 1, every pick lands in the huge
    // return range (miss probability 2/(1e9+2) per step, and the hash
    // picks are fixed by the seed — asserted exactly below)
    val ret = GraphOps.biasedRandomWalks(sym, seeds, walkLength = 4,
        returnWeight = 1000000000L, commonWeight = 1L, exploreWeight = 1L)
      .orderBy("step").collect().map(_.getAs[Long]("node")).toSeq
    assert(ret == Seq(0L, 1L, 0L, 1L, 0L))
    // explore dominates: from 1 (prev 0), neighbor 2 is distance-2 from
    // 0 → explore weight wins every pick; the walk marches to 3 and
    // then bounces between 2 and 3 (3's only neighbor is 2)
    val exp = GraphOps.biasedRandomWalks(sym, seeds, walkLength = 3,
        returnWeight = 1L, commonWeight = 1L,
        exploreWeight = 1000000000L)
      .orderBy("step").collect().map(_.getAs[Long]("node")).toSeq
    assert(exp == Seq(0L, 1L, 2L, 3L))
  }

  test("biasedRandomWalks: steps replay the cumulative-range choice " +
      "exactly; partition-invariant; sinks stop") {
    // triangle 1-2-3 plus tail 3→4 (directed; 4 is a sink)
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (2L, 3L),
      (3L, 2L), (3L, 4L)).toDF("start_id", "end_id")
    val seeds = Seq(1L).toDF("id")
    val adj = Map(1L -> Seq(2L, 3L), 2L -> Seq(1L, 3L),
      3L -> Seq(1L, 2L, 4L))
    val edgeSet = Set((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (2L, 3L),
      (3L, 2L), (3L, 4L))
    val out = GraphOps.biasedRandomWalks(edges, seeds, walkLength = 5,
        returnWeight = 1L, commonWeight = 4L, exploreWeight = 2L,
        seed = 42L)
      .orderBy("step").collect().map(_.getAs[Long]("node")).toSeq
    // JVM replay: weight each neighbor vs prev, walk the cum ranges
    var node = 1L; var prev = 1L
    var expected = Seq(1L); var t = 1; var alive = true
    while (t <= 5 && alive) {
      adj.get(node) match {
        case Some(nbrs) =>
          val wts = nbrs.map(x => if (x == prev) 1L
            else if (edgeSet((prev, x))) 4L else 2L)
          val pick = graft.functions.PortableHash
            .hash48(s"1:$t:$node", 42L) % wts.sum
          val idx = wts.scanLeft(0L)(_ + _).tail.indexWhere(pick < _)
          prev = node; node = nbrs(idx)
          expected :+= node; t += 1
        case None => alive = false
      }
    }
    assert(out == expected)
    val again = GraphOps.biasedRandomWalks(edges.repartition(7), seeds,
        walkLength = 5, returnWeight = 1L, commonWeight = 4L,
        exploreWeight = 2L, seed = 42L)
      .orderBy("step").collect().map(_.getAs[Long]("node")).toSeq
    assert(again == out)
    intercept[IllegalArgumentException] {
      GraphOps.biasedRandomWalks(edges, seeds, walkLength = 1,
        returnWeight = 0L)
    }
  }

  test("modularity: disjoint triangles closed form, trivial partition " +
    "zero, cut edges penalize, unlabeled nodes excluded") {
    // two disjoint triangles, partition = the components:
    // m = 6, per community m_c = 3, d_c = 6 → q_c = 3/6 − (6/12)² = 0.25
    val tri2 = Seq((0L, 1L), (1L, 2L), (2L, 0L),
      (3L, 4L), (4L, 5L), (5L, 3L)).toDF("start_id", "end_id")
    val parts = Seq((0L, 10L), (1L, 10L), (2L, 10L),
      (3L, 20L), (4L, 20L), (5L, 20L)).toDF("id", "community")
    val out = GraphOps.modularity(tri2, parts).orderBy("community")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(out == Seq((10L, 3L, 3L, 6L, 0.25), (20L, 3L, 3L, 6L, 0.25)))
    // the all-in-one partition always scores exactly 0
    val one = parts.select($"id", lit(7L).as("community"))
    assert(GraphOps.modularity(tri2, one).collect()
      .map(_.getDouble(4)).toSeq == Seq(0.0))
    // a single cut edge with singleton communities: m_in = 0 each,
    // q_c = 0 − (1/2)² = −0.25 (Q = −0.5, the anti-community worst case)
    val cut = Seq((0L, 1L)).toDF("start_id", "end_id")
    val singletons = Seq((0L, 0L), (1L, 1L)).toDF("id", "community")
    assert(GraphOps.modularity(cut, singletons).orderBy("community")
      .collect().map(r => (r.getLong(2), r.getDouble(4))).toSeq ==
      Seq((0L, -0.25), (0L, -0.25)))
    // nodes missing from the labeling drop out (inner membership join)
    assert(GraphOps.modularity(tri2, parts.filter($"id" < 3))
      .collect().map(_.getLong(0)).toSeq == Seq(10L))
  }

  test("louvain: planted two-community graph recovered, deterministic " +
    "across partitionings, beats singletons") {
    // two K3s {1,2,3} / {10,11,12} joined by the bridge 3-10: merging
    // the cliques scores Q = 0, keeping them apart Q = 2·(3/7 − (7/14)²)
    // ≈ 0.357 — greedy moves must find the two-clique partition
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
      .toDF("start_id", "end_id")
    val out = GraphOps.louvain(g, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 10L, 11L, 12L))
    val c1 = Set(1L, 2L, 3L).map(out)
    val c2 = Set(10L, 11L, 12L).map(out)
    assert(c1.size == 1 && c2.size == 1 && c1 != c2,
      s"expected the two planted cliques as communities, got $out")
    val q = GraphOps.modularity(g, GraphOps.louvain(g, rounds = 4))
      .agg(org.apache.spark.sql.functions.sum("q_c")).head().getDouble(0)
    assert(math.abs(q - (2.0 * (3.0 / 7.0 - 0.25))) < 1e-12)
    // partitioning must not change the result (gated synchronous moves)
    val re = GraphOps.louvain(g.repartition(7), rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(re == out)
  }

  test("louvainCoarsen: supergraph weights exact; weighted louvain on " +
    "the coarse graph groups heavy pairs") {
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
      .toDF("start_id", "end_id")
    val lbl = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L), (12L, 10L)).toDF("id", "community")
    // 3 intra edges per clique → self-loops of weight 3; one bridge
    val coarse = GraphOps.louvainCoarsen(g, lbl)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDecimal(2).longValueExact())).toSet
    assert(coarse == Set((1L, 1L, 3L), (1L, 10L, 1L), (10L, 10L, 3L)))
    // weighted louvain over a coarse-style graph: supernodes 1-2 and
    // 3-4 tied by weight-10 edges, a weight-1 cross link — heavy pairs
    // must pair up (self-loops ride along without distorting moves)
    val wg = Seq((1L, 2L, 10L), (3L, 4L, 10L), (2L, 3L, 1L),
      (1L, 1L, 5L), (4L, 4L, 5L))
      .toDF("start_id", "end_id", "w")
    val wout = GraphOps.louvain(wg, rounds = 4, weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wout.keySet == Set(1L, 2L, 3L, 4L))
    assert(wout(1L) == wout(2L) && wout(3L) == wout(4L) &&
      wout(1L) != wout(3L), s"expected heavy pairs grouped, got $wout")
  }

  test("leidenRefine: a planted internally disconnected community " +
    "splits into its connected parts and modularity strictly rises; " +
    "connected communities pass through") {
    // two disjoint triangles SHARE one label — the planted Louvain
    // defect (no path between them inside the community); a third
    // triangle is its own, connected, community
    val g = Seq((0L, 1L), (1L, 2L), (2L, 0L),
      (3L, 4L), (4L, 5L), (5L, 3L),
      (10L, 11L), (11L, 12L), (12L, 10L)).toDF("start_id", "end_id")
    val bad = Seq((0L, 99L), (1L, 99L), (2L, 99L),
      (3L, 99L), (4L, 99L), (5L, 99L),
      (10L, 7L), (11L, 7L), (12L, 7L)).toDF("id", "community")
    val out = GraphOps.leidenRefine(g, bad)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each connected part gets its min member id; boundaries hold
    assert(Set(0L, 1L, 2L).map(out) == Set(0L))
    assert(Set(3L, 4L, 5L).map(out) == Set(3L))
    assert(Set(10L, 11L, 12L).map(out) == Set(10L))
    def q(lbl: org.apache.spark.sql.DataFrame) =
      GraphOps.modularity(g, lbl)
        .agg(org.apache.spark.sql.functions.sum("q_c"))
        .head().getDouble(0)
    assert(q(GraphOps.leidenRefine(g, bad)) > q(bad))
  }

  test("leiden: plain louvainMultiLevel leaves internally disconnected " +
    "communities on the benchmark graph; leiden returns none and never " +
    "scores below it") {
    val li = spark.read.parquet(sf() + "/lineitem.parquet")
      .filter($"l_orderkey" % 20 === 0)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
    val a = li.alias("a"); val b = li.alias("b")
    val edges = a.join(b,
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("start_id"), col("b.pk").as("end_id"))
      .cache()
    def nDisconnected(lbl: org.apache.spark.sql.DataFrame): Long =
      GraphOps.leidenRefine(edges, lbl)
        .withColumnRenamed("community", "part")
        .join(lbl, Seq("id"))
        .groupBy("community")
        .agg(countDistinct(col("part")).as("np"))
        .filter(col("np") > 1).count()
    def q(lbl: org.apache.spark.sql.DataFrame) =
      GraphOps.modularity(edges, lbl)
        .agg(org.apache.spark.sql.functions.sum("q_c"))
        .head().getDouble(0)
    val lou = GraphOps.louvainMultiLevel(edges).cache()
    assert(nDisconnected(lou) > 0, // the trap plain Louvain fails
      "expected the benchmark graph to strand disconnected communities")
    val lei = GraphOps.leiden(edges).cache()
    assert(nDisconnected(lei) == 0)
    assert(q(lei) >= q(lou)) // refinement never costs modularity
  }

  test("leiden weightCol: edge weights change the partition — heavy " +
    "pairs pull together across the unweighted community boundary") {
    // 6-cycle 1-2-3-4-13-14-1 with HEAVY weights on the (1,2) (3,4)
    // (13,14) edges and weight-1 links between them: unweighted sees a
    // regular cycle (weights invisible), weighted must co-assign every
    // heavy pair — 20:1 inside vs outside mass makes splitting a heavy
    // pair strictly modularity-negative. The pair ids are chosen with
    // DIFFERING md5-48 gate parity (1/2 → 1/0, 3/4 → 0/1, 13/14 →
    // 0/1): a mutually-best pair with EQUAL parity moves in lockstep in
    // every round — swapping labels in ungated rounds, both-or-neither
    // in gated ones — and never coalesces under a fixed budget; the
    // gated rounds exist exactly to break this tie, and they can only
    // do it when the parities differ.
    val cycle = Seq(
      (1L, 2L, 20L), (3L, 4L, 20L), (13L, 14L, 20L),
      (2L, 3L, 1L), (4L, 13L, 1L), (14L, 1L, 1L))
    val g = cycle.toDF("start_id", "end_id", "w")
    val weighted = GraphOps.leiden(g, weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(weighted(1L) == weighted(2L) && weighted(3L) == weighted(4L)
      && weighted(13L) == weighted(14L),
      s"heavy pairs must share a community, got $weighted")
    // the heavy pairs are distinct communities (merging two pairs adds
    // only a weight-1 edge against a squared-degree penalty)
    assert(Set(weighted(1L), weighted(3L), weighted(13L)).size == 3)
    val unweighted = GraphOps.leiden(g)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(weighted != unweighted,
      "weights must change the partition on the planted cycle")
    // weighted Q (scored on the weighted graph) beats the unweighted
    // partition's weighted Q — the point of threading weightCol
    def q(lbl: Map[Long, Long]): Double = {
      val m = cycle.map(_._3).sum.toDouble
      val inW = cycle
        .filter { case (a, b, _) => lbl(a) == lbl(b) }.map(_._3).sum
      val deg = cycle.flatMap { case (a, b, w) =>
          Seq(a -> w.toDouble, b -> w.toDouble) }
        .groupBy(_._1).map { case (id, ws) => id -> ws.map(_._2).sum }
      val d2 = deg.groupBy { case (id, _) => lbl(id) }
        .map { case (_, ds) => math.pow(ds.values.sum, 2) }.sum
      inW / m - d2 / (4.0 * m * m)
    }
    assert(q(weighted) > q(unweighted))
  }

  test("incrementalCommunities: delta-local relabel — untouched nodes " +
    "keep stored labels verbatim, a new clique coalesces, an " +
    "in-community delta is a fixpoint") {
    // old graph: triangles {1,2,3} and {10,11,12}; stored labels from
    // a full run
    val old = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L)).toDF("start_id", "end_id")
    val prev = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L), (12L, 10L)).toDF("id", "community")
    // delta: a brand-new triangle {20,21,22} bridged to node 3
    val delta = Seq((20L, 21L), (20L, 22L), (21L, 22L), (3L, 20L))
      .toDF("start_id", "end_id")
    val all = old.unionByName(delta)
    // 4 gated rounds: the {20,21,22} gate parities are {0,0,1}, and a
    // same-parity pair (20,21) swap-oscillates through its first two
    // opportunities before the third round's richer neighborhood
    // (22 already merged) breaks the tie — 2 rounds would strand it.
    val out = GraphOps.incrementalCommunities(all, delta, prev,
        rounds = 4, hops = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 10L, 11L, 12L, 20L, 21L, 22L))
    // {10,11,12} is outside the delta's 2-hop region (the bridge stops
    // at 3 → 1,2) — stored labels survive VERBATIM
    assert(Set(10L, 11L, 12L).forall(id => out(id) == prev
      .filter(col("id") === id).head().getLong(1)))
    // the new triangle coalesces into one community of its own
    assert(out(20L) == out(21L) && out(21L) == out(22L))
    assert(Set(1L, 2L, 3L).map(out) != Set(out(20L)))
    // old triangle {1,2,3} is in-region but already optimal — fixpoint
    assert(Set(1L, 2L, 3L).map(out).size == 1)
    // a delta INSIDE an existing community changes nothing at all
    val sameDelta = Seq((1L, 2L)).toDF("start_id", "end_id")
    val noop = GraphOps.incrementalCommunities(old, sameDelta, prev,
        rounds = 4, hops = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(noop == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("maintainNeighborAgg: adds, deletes, and mixed changes all " +
    "equal the full recompute bit-for-bit; untouched rows survive; " +
    "null semantics preserved") {
    // chain 1→2→3→4 with side feeds 10→2, 11→3; features = id
    val all = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 2L), (11L, 3L))
      .toDF("start_id", "end_id")
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L)
    val f = nodes.toDF("id").select(col("id"), col("id").as("fv"))
    def full(e: org.apache.spark.sql.DataFrame, r: Int) =
      GraphOps.neighborAgg(e, f, "id", Seq("fv"), rounds = r)
        .collect().map(x => x.getLong(0) -> Option(x.get(1))).toMap
    // ADD: delta (10,2),(11,3) on top of the chain
    val base = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("start_id", "end_id")
    val delta = Seq((10L, 2L), (11L, 3L)).toDF("start_id", "end_id")
    val prevAdd = GraphOps.neighborAgg(base, f, "id", Seq("fv"),
      rounds = 2)
    val incr = GraphOps.maintainNeighborAgg(all, delta, f, prevAdd,
        "id", Seq("fv"), rounds = 2)
      .collect().map(x => x.getLong(0) -> Option(x.get(1))).toMap
    assert(incr == full(all, 2), s"incr=$incr full=${full(all, 2)}")
    // DELETE: same primitive, ground truth = remaining
    val prevDel = GraphOps.neighborAgg(all, f, "id", Seq("fv"),
      rounds = 2)
    val decr = GraphOps.maintainNeighborAgg(base, delta, f, prevDel,
        "id", Seq("fv"), rounds = 2)
      .collect().map(x => x.getLong(0) -> Option(x.get(1))).toMap
    assert(decr == full(base, 2))
    // sources keep NULL (no in-edges) through maintenance
    assert(incr(1L).isEmpty && incr(10L).isEmpty && decr(11L).isEmpty)
    // MIXED in one call: add (11,3) while deleting (10,2)
    val ground = Seq((1L, 2L), (2L, 3L), (3L, 4L), (11L, 3L))
      .toDF("start_id", "end_id")
    val changed = Seq((10L, 2L), (11L, 3L)).toDF("start_id", "end_id")
    val prevMixed = GraphOps.neighborAgg(all.join(
        Seq((11L, 3L)).toDF("start_id", "end_id"),
        Seq("start_id", "end_id"), "left_anti"),
      f, "id", Seq("fv"), rounds = 2)
    val mixed = GraphOps.maintainNeighborAgg(ground, changed, f,
        prevMixed, "id", Seq("fv"), rounds = 2)
      .collect().map(x => x.getLong(0) -> Option(x.get(1))).toMap
    assert(mixed == full(ground, 2))
    // a non-sum aggregator rides the same machinery
    val prevMax = GraphOps.neighborAgg(base, f, "id", Seq("fv"),
      rounds = 2, agg = "max")
    val maxed = GraphOps.maintainNeighborAgg(all, delta, f, prevMax,
        "id", Seq("fv"), rounds = 2, agg = "max")
      .collect().map(x => x.getLong(0) -> Option(x.get(1))).toMap
    val fullMax = GraphOps.neighborAgg(all, f, "id", Seq("fv"),
        rounds = 2, agg = "max")
      .collect().map(x => x.getLong(0) -> Option(x.get(1))).toMap
    assert(maxed == fullMax)
  }

  test("decrementalCommunities: touched communities rebuild from " +
    "remaining-edge ground truth — a severed community splits, fully " +
    "stripped members become singletons, untouched labels survive " +
    "verbatim, unknown deletes are no-ops") {
    // old graph: barbell {1,2,3}–(3,4)–{4,5,6} (one stored community),
    // triangle {10,11,12}, triangle {20,21,22}; labels from CC
    val old = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (20L, 21L), (20L, 22L), (21L, 22L)).toDF("start_id", "end_id")
    val prev = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L).toDF("id", "community")
    // delete the bridge (splits the barbell) and ALL of {10,11,12}'s
    // edges (strips that community bare)
    val deleted = Seq((3L, 4L), (10L, 11L), (10L, 12L), (11L, 12L))
      .toDF("start_id", "end_id")
    val remaining = old.join(deleted, Seq("start_id", "end_id"),
      "left_anti")
    val out = GraphOps.decrementalCommunities(remaining, deleted, prev,
        rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every stored node keeps a label row — edge deletion never
    // deletes a node
    assert(out.keySet == prev.collect().map(_.getLong(0)).toSet)
    // untouched community {20,21,22}: stored labels VERBATIM
    assert(Set(20L, 21L, 22L).forall(id => out(id) == 20L))
    // the severed barbell re-coalesces as TWO communities
    assert(out(1L) == out(2L) && out(2L) == out(3L))
    assert(out(4L) == out(5L) && out(5L) == out(6L))
    assert(out(1L) != out(4L), "severed halves must not share a label")
    // fully-stripped members stand alone as singletons
    assert(out(10L) == 10L && out(11L) == 11L && out(12L) == 12L)
    // deletes with endpoints unknown to the store are no-ops
    val noop = GraphOps.decrementalCommunities(old,
        Seq((100L, 101L)).toDF("start_id", "end_id"), prev, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(noop == prev.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("louvain initLabels: a seeded optimal partition is a fixpoint " +
    "under gated rounds") {
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
      .toDF("start_id", "end_id")
    val seed = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L), (12L, 10L)).toDF("id", "community")
    val out = GraphOps.louvain(g, rounds = 2, schedule = "gg",
        initLabels = Some(seed))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L),
      s"seeded optimum must not move, got $out")
  }

  test("powerLawFit: star closed form, dMin filter, degree-regular " +
    "graph yields null alpha") {
    // star 0–{1,2,3,4}: degrees 4,1,1,1,1 → Σ ln d = ln 4 (per-term
    // e9-integerized), alpha = 1 + 5/ln4, se = (alpha−1)/√5
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))
      .toDF("start_id", "end_id")
    val r = GraphOps.powerLawFit(star).collect().head
    val ln4e9 = math.floor(math.log(4.0 / 1.0) * 1e9 + 0.5)
    val alpha = 1.0 + 5.0 / (ln4e9 / 1e9)
    assert(r.getLong(0) == 5L && r.getLong(1) == 1L)
    assert(r.getDouble(2) == alpha)
    assert(r.getDouble(3) == (alpha - 1.0) / math.sqrt(5.0))
    // dMin = 2 keeps only the center (d=4): alpha = 1 + 1/ln(4/2)
    val r2 = GraphOps.powerLawFit(star, dMin = 2L).collect().head
    val ln2e9 = math.floor(math.log(4.0 / 2.0) * 1e9 + 0.5)
    assert(r2.getLong(0) == 1L &&
      r2.getDouble(2) == 1.0 + 1.0 / (ln2e9 / 1e9))
    // every degree equal to dMin → zero log-mass → null (undefined MLE)
    val cycle = Seq((0L, 1L), (1L, 0L)).toDF("start_id", "end_id")
    val r3 = GraphOps.powerLawFit(cycle).collect().head
    assert(r3.getLong(0) == 2L && r3.isNullAt(2) && r3.isNullAt(3))
    intercept[IllegalArgumentException](GraphOps.powerLawFit(star, 0L))
  }

  private def sccMap(g: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    GraphOps.stronglyConnectedComponents(g).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("scc: cycles keep min label, one-way bridge does not merge") {
    // 3-cycle {1,2,3} → bridge → 2-cycle {4,5}; direction matters:
    // 4 reaches nothing in the triangle, so the bridge stays a cut
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 4L))
      .toDF("start_id", "end_id")
    assert(sccMap(g) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 4L))
  }

  test("scc: pure path DAG is all singletons (pair split, not n rounds)") {
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("start_id", "end_id")
    assert(sccMap(g) == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L,
      5L -> 5L))
    // a path needs outer rounds ≈ 2 under the (F, B) split; maxRounds=2
    // must therefore succeed where single-label coloring would need 5
    assert(GraphOps.stronglyConnectedComponents(g, maxRounds = 2)
      .count() == 5L)
  }

  test("scc: asymmetric F/B convergence (fused freeze path)") {
    // On an ascending chain, B is the identity from iteration one
    // (every node's least reachable id is itself) while F needs
    // several hop+jump iterations to pull 1 down the chain — the
    // fused loop must freeze the converged B direction and keep
    // iterating F alone, still certifying both fixpoints. A cycle on
    // top checks the frozen direction's labels stay live in the
    // (F = B) extraction.
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 7L), (7L, 8L), (8L, 9L), (10L, 11L), (11L, 10L))
      .toDF("start_id", "end_id")
    assert(sccMap(g) == ((1L to 9L).map(i => i -> i).toMap ++
      Map(10L -> 10L, 11L -> 10L)))
  }

  test("scc: equal (F, B) pair on parallel branches must NOT merge") {
    // 1→2→0 and 1→3→0: nodes 2 and 3 share F=1 (only 1 reaches them)
    // and B=0 (0 is the least node both reach) but there is no cycle —
    // an algorithm that trusted the (F, B) pair as a final label would
    // fuse them; extraction must demand F = B
    val g = Seq((1L, 2L), (2L, 0L), (1L, 3L), (3L, 0L))
      .toDF("start_id", "end_id")
    assert(sccMap(g) == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("scc: self-loops are SCC-irrelevant but their nodes still label") {
    val g = Seq((7L, 7L), (1L, 2L), (2L, 1L), (2L, 2L))
      .toDF("start_id", "end_id")
    assert(sccMap(g) == Map(1L -> 1L, 2L -> 1L, 7L -> 7L))
  }

  test("scc: disconnected directed graphs resolve independently") {
    val g = Seq((1L, 2L), (2L, 1L), (8L, 9L), (9L, 8L), (5L, 6L))
      .toDF("start_id", "end_id")
    assert(sccMap(g) == Map(1L -> 1L, 2L -> 1L, 8L -> 8L, 9L -> 8L,
      5L -> 5L, 6L -> 6L))
  }

  test("scc condensation: quotient DAG, intra-SCC edges collapse") {
    // triangle {1,2,3} → 2-cycle {4,5} → sink 6, plus feeder 0 → 1;
    // parallel original edges between the same SCC pair collapse to one
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (1L, 4L),
      (4L, 5L), (5L, 4L), (5L, 6L), (0L, 1L)).toDF("start_id", "end_id")
    val dag = GraphOps.condensation(g,
      GraphOps.stronglyConnectedComponents(g))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dag == Set((1L, 4L), (4L, 6L), (0L, 1L)))
  }

  test("incrementalScc: quotient composition equals the full recompute " +
      "bit-for-bit; untouched SCCs keep labels; reapply is a fixpoint") {
    val base = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (7L, 8L)).toDF("start_id", "end_id")
    val bl = GraphOps.stronglyConnectedComponents(base)
    val bq = GraphOps.condensation(base, bl)
    // 5→1 closes the big cycle {1,2,3,4,5}; 8→9 adds a brand-new node;
    // 10→10 is a self-loop-only new node (must still label itself)
    val delta = Seq((5L, 1L), (8L, 9L), (10L, 10L))
      .toDF("start_id", "end_id")
    val st = GraphOps.incrementalScc(delta, bl, bq)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = toMap(GraphOps.stronglyConnectedComponents(
      base.unionByName(delta)))
    assert(toMap(st.labels) == full)
    assert(Set(1L, 2L, 3L, 4L, 5L).map(full).toSet == Set(1L))
    assert(full(10L) == 10L)
    // quotient store = the full condensation under the new labels
    val fullQ = GraphOps.condensation(base.unionByName(delta),
        GraphOps.stronglyConnectedComponents(base.unionByName(delta)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(st.quotient.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == fullQ)
    // untouched SCC {7,8}... 8→9 touches it but must not relabel it
    assert(toMap(st.labels)(7L) == toMap(bl)(7L))
    // at-least-once: reapplying the same delta is a fixpoint
    val st2 = GraphOps.incrementalScc(delta, st.labels, st.quotient)
    assert(toMap(st2.labels) == toMap(st.labels))
    assert(st2.quotient.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == fullQ)
  }

  test("decrementalScc: splits, singletons, non-splits, bridge deletes, " +
      "and isolated endpoints all equal the full recompute bit-for-bit") {
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def check(all: Seq[(Long, Long)], deleted: Seq[(Long, Long)]): Unit = {
      val g = all.toDF("start_id", "end_id")
      val l = GraphOps.stronglyConnectedComponents(g)
      val q = GraphOps.condensation(g, l)
      val remaining = all.filterNot(deleted.contains)
        .toDF("start_id", "end_id")
      val st = GraphOps.decrementalScc(remaining,
        deleted.toDF("start_id", "end_id"), l, q)
      val fullL = GraphOps.stronglyConnectedComponents(remaining)
      assert(toMap(st.labels) == toMap(fullL),
        s"labels diverge for delete $deleted")
      assert(toSet(st.quotient) ==
        toSet(GraphOps.condensation(remaining, fullL)),
        s"quotient diverges for delete $deleted")
    }
    // SCC {1,2,3,4} with internal 2-cycles; deleting 2→3 splits it in
    // TWO ({1,2} and {3,4} — 4→1 becomes a mere quotient edge)
    val ring = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 3L),
      (4L, 1L), (5L, 6L), (6L, 5L), (4L, 5L))
    check(ring, Seq((2L, 3L)))
    // deleting the only closing edge of a 3-cycle splits to SINGLETONS
    check(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)), Seq((3L, 1L)))
    // redundant internal edge: delete does NOT split (labels verbatim)
    check(Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L)), Seq((2L, 1L)))
    // bridge between two SCCs: quotient-only change, labels untouched
    check(ring, Seq((4L, 5L)))
    // an endpoint losing its LAST edge leaves the vertex set entirely
    check(Seq((1L, 2L), (2L, 1L), (2L, 9L)), Seq((2L, 9L)))
    // multi-delete across categories at once
    check(ring, Seq((2L, 3L), (4L, 5L), (6L, 5L)))
    // unknown-edge delete is a no-op; spurious delete (edge still
    // present) costs work, never correctness
    check(ring, Seq((100L, 200L)))
    val g = ring.toDF("start_id", "end_id")
    val l = GraphOps.stronglyConnectedComponents(g)
    val st = GraphOps.decrementalScc(g,
      Seq((2L, 3L)).toDF("start_id", "end_id"), l,
      GraphOps.condensation(g, l))
    assert(toMap(st.labels) == toMap(l))
  }

  test("bridges and articulationPoints: definition-exact cut edges and " +
      "cut vertices on known graphs; direction and duplicates ignored") {
    def br(e: Seq[(Long, Long)]) =
      GraphOps.bridges(e.toDF("start_id", "end_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def ap(e: Seq[(Long, Long)]) =
      GraphOps.articulationPoints(e.toDF("start_id", "end_id"))
        .collect().map(_.getLong(0)).toSet
    // two triangles joined by one edge: the joiner is the only bridge,
    // its endpoints the only articulation points
    val twoTri = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 4L))
    assert(br(twoTri) == Set((3L, 4L)))
    assert(ap(twoTri) == Set(3L, 4L))
    // chain: every edge is a bridge, every interior node cuts
    assert(br(Seq((1L, 2L), (2L, 3L))) == Set((1L, 2L), (2L, 3L)))
    assert(ap(Seq((1L, 2L), (2L, 3L))) == Set(2L))
    // a pure cycle has no bridge and no articulation point
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    assert(br(cyc).isEmpty && ap(cyc).isEmpty)
    // direction and duplicates are ignored; self-loops never count
    assert(br(Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L))) ==
      Set((1L, 2L)))
    // cycle with a chord: still 2-edge-connected
    assert(br(cyc :+ ((1L, 3L))).isEmpty)
    // disconnected components are independent
    assert(br(twoTri ++ Seq((10L, 11L))) == Set((3L, 4L), (10L, 11L)))
    assert(ap(twoTri ++ Seq((10L, 11L), (11L, 12L))) ==
      Set(3L, 4L, 11L))
  }

  test("neighborAgg: k-round message passing matches hand-unrolled " +
      "joins; directions; empty-neighborhood NULLs; mean") {
    val e = Seq((1L, 3L), (2L, 3L), (3L, 4L), (4L, 3L))
      .toDF("start_id", "end_id")
    val f = Seq((1L, 10L, 1L), (2L, 20L, 2L), (3L, 300L, 3L),
      (4L, 4000L, 4L)).toDF("id", "v", "w")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").collect()
        .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
        .toSeq
    // 1 round, in-direction (src→dst pull): 3 ← {1,2,4}; 4 ← {3};
    // 1 and 2 have no in-neighbors → NULL
    assert(rows(GraphOps.neighborAgg(e, f, "id", Seq("v", "w"))) == Seq(
      (1L, None, None), (2L, None, None),
      (3L, Some(10L + 20L + 4000L), Some(1L + 2L + 4L)),
      (4L, Some(300L), Some(3L))))
    // 2 rounds: round-2 aggregates round-1 values; NULLs don't count
    assert(rows(GraphOps.neighborAgg(e, f, "id", Seq("v", "w"),
      rounds = 2)) == Seq(
      (1L, None, None), (2L, None, None),
      (3L, Some(300L), Some(3L)),       // only 4 contributed round-1
      (4L, Some(4030L), Some(7L))))
    // out-direction pushes against the edges; max aggregator
    assert(rows(GraphOps.neighborAgg(e, f, "id", Seq("v", "w"),
      direction = "out", agg = "max")) == Seq(
      (1L, Some(300L), Some(3L)), (2L, Some(300L), Some(3L)),
      (3L, Some(4000L), Some(4L)), (4L, Some(300L), Some(3L))))
    // mean divides per round; both directions double the 3↔4 pair
    val m = GraphOps.neighborAgg(e, f, "id", Seq("v"),
      direction = "both", agg = "mean").orderBy("id").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m(1L) == 300.0 && m(3L) == (10.0 + 20.0 + 4000.0 + 4000.0) / 4)
    intercept[IllegalArgumentException] {
      GraphOps.neighborAgg(e, f, "id", Seq("v"), rounds = 17)
    }
    intercept[IllegalArgumentException] {
      GraphOps.neighborAgg(e, f, "id", Seq("v"), agg = "median")
    }
  }

  test("descendantCounts: exact closure sizes on a known DAG; reverse " +
      "counts ancestors; duplicates and cycles are safe") {
    val dag = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 3L), (3L, 5L),
      (1L, 2L)).toDF("src_scc", "dst_scc") // duplicate edge dedups
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(toMap(GraphOps.descendantCounts(dag)) ==
      Map(1L -> 3L, 2L -> 2L, 3L -> 1L, 4L -> 2L, 5L -> 0L))
    assert(toMap(GraphOps.descendantCounts(dag, reverse = true)) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 3L, 4L -> 0L, 5L -> 4L))
    // cyclic input: the closure is still finite (self excluded)
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("src_scc", "dst_scc")
    assert(toMap(GraphOps.descendantCounts(cyc)) ==
      Map(1L -> 1L, 2L -> 1L))
    // composes with condensation: collapse {0,1}, then 2 -> 3
    val g = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 3L))
      .toDF("start_id", "end_id")
    val labels = GraphOps.stronglyConnectedComponents(g)
    assert(toMap(GraphOps.descendantCounts(
      GraphOps.condensation(g, labels))) ==
      Map(0L -> 2L, 2L -> 1L, 3L -> 0L))
  }

  test("landmarkReachability: bit-parallel masks match per-source BFS; " +
      "64 landmarks fill all bits incl. the sign bit; >64 fails fast") {
    val e = Seq((1L, 2L), (2L, 3L), (4L, 5L), (3L, 4L))
      .toDF("start_id", "end_id")
    val r = GraphOps.landmarkReachability(e,
        Seq(1L, 4L).toDF("id"))
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2)))
      .toMap
    // bit 0 = landmark 1 (smaller id), bit 1 = landmark 4
    assert(r == Map(
      1L -> (1L, 1L), 2L -> (1L, 1L), 3L -> (1L, 1L),
      4L -> (3L, 2L), 5L -> (3L, 2L)))
    // cycle: masks stay monotone and converge
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("start_id", "end_id")
    val rc = GraphOps.landmarkReachability(cyc, Seq(2L).toDF("id"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(rc == Map(1L -> 1L, 2L -> 1L))
    // 64 landmarks on a star: the hub ORs every bit -> mask -1L
    val star = (0L until 64L).map(i => (i, 1000L))
      .toDF("start_id", "end_id")
    val hub = GraphOps.landmarkReachability(star,
        (0L until 64L).toDF("id"))
      .filter(col("id") === 1000L).head()
    assert(hub.getLong(1) == -1L && hub.getLong(2) == 64L)
    // >64 distinct landmarks fail fast
    intercept[IllegalArgumentException](GraphOps.landmarkReachability(
      star, (0L until 65L).toDF("id")))
    intercept[IllegalArgumentException](GraphOps.landmarkReachability(
      star, spark.emptyDataFrame.withColumn("id", lit(1L))))
  }

  test("topologicalLevels: longest-path depth on a known DAG; cycles " +
      "fail fast; composes with condensation") {
    val dag = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 3L), (3L, 5L))
      .toDF("src_scc", "dst_scc")
    val lv = GraphOps.topologicalLevels(dag).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // level = LONGEST path in: 3 sits at 2 (via 1->2->3), not 1
    assert(lv == Map(1L -> 0L, 4L -> 0L, 2L -> 1L, 3L -> 2L, 5L -> 3L))
    // a cycle can never converge — fail fast instead of spinning
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("src_scc", "dst_scc")
    val ex = intercept[IllegalArgumentException](
      GraphOps.topologicalLevels(cyc, maxIter = 10).count())
    assert(ex.getMessage.contains("cycle"))
    // end-to-end: triangle {1,2,3} -> 2-cycle {4,5} -> sink 6, feeder
    // 0 -> 1: condensation nodes {0,1,4,6} chain 0 -> 1 -> 4 -> 6
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (1L, 4L),
      (4L, 5L), (5L, 4L), (5L, 6L), (0L, 1L)).toDF("start_id", "end_id")
    val lv2 = GraphOps.topologicalLevels(GraphOps.condensation(g,
        GraphOps.stronglyConnectedComponents(g))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lv2 == Map(0L -> 0L, 1L -> 1L, 4L -> 2L, 6L -> 3L))
  }

  test("scc: truncated inner propagation fails fast, not wrong labels") {
    // maxIter=1 can never certify the inner fixpoint (certification
    // needs one unchanged-sum round), so dirMinProp must throw instead
    // of returning half-propagated F/B labels that would sever an SCC
    val g = Seq((1L, 2L), (2L, 1L)).toDF("start_id", "end_id")
    val ex = intercept[IllegalArgumentException](
      GraphOps.stronglyConnectedComponents(g, maxIter = 1).count())
    assert(ex.getMessage.contains("did not converge"))
  }

  test("scc: partition invariance") {
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 4L), (6L, 1L)).toDF("start_id", "end_id")
    val one = sccMap(g.repartition(1))
    val many = sccMap(g.repartition(13))
    assert(one == many)
    // 6 joins nothing: it feeds the triangle but nothing points back
    assert(one == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
      6L -> 6L))
  }
}
