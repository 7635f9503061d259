package graft

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlExecutions
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.operators.{Dedup, GraphOps}

/** The min-label loops run one Spark SQL execution per round: the
  * convergence sums ride the round's own checkpoint
  * ([[Checkpointer.observed]]) instead of a probe query. Also pins the
  * observed row's exactness under both checkpointers, and SCC / CC
  * against sequential reference algorithms on random graphs. */
class ConvergenceRoundSpec extends SparkSpec {
  import spark.implicits._

  private def assertCheckpointsOnly(execs: Seq[String]): Unit =
    assert(execs.forall(_.startsWith("localCheckpoint ")),
      execs.mkString("executions:\n", "\n", ""))

  test("connectedComponents: one SQL execution per round, none for probes") {
    // path 1-2-3-4; a round's label is min(neighbour labels,
    // comp(comp(v))): 1234 → 1123 → 1112 → 1111 → 1111 (unchanged sum:
    // converged), so 4 rounds after the labels and edges checkpoints
    val vertices = (1L to 4L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val (execs, labels) = SqlExecutions.during(spark)(
      Dedup.connectedComponents(vertices, "id", pairs))
    assert(execs.size == 2 + 4, execs.mkString("\n"))
    assertCheckpointsOnly(execs)
    assert(labels.as[(Long, Long)].collect().toMap ==
      (1L to 4L).map(_ -> 1L).toMap)
  }

  test("stronglyConnectedComponents: one SQL execution per inner round " +
      "and one per outer round, none for probes or edgeless rounds") {
    // 1 → 2 → 3 → 1, 3 → 4. Outer round 1: F goes 1234 → 1123 → 1112
    // → 1111 → 1111 and B 1234 → 1214 → 1114 → 1114, 4 inner rounds
    // (F certifies last); {1,2,3} retires, 4 stays (F = 1, B = 4), and
    // the round's live-edges checkpoint comes out empty. Outer round 2
    // then labels the singleton {4} without propagating. The set-up
    // takes two checkpoints (live edges, vertex ids).
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
      .toDF("start_id", "end_id")
    val (execs, labels) = SqlExecutions.during(spark)(
      GraphOps.stronglyConnectedComponents(g))
    assert(execs.size == 2 + (4 + 1), execs.mkString("\n"))
    assertCheckpointsOnly(execs)
    assert(labels.as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
  }

  test("Checkpointer.observed: exact metrics from the checkpoint's own " +
      "execution, Local and Reliable") {
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-observe").toString)
    // a shuffle puts the observed rows in a later stage than the scan
    val df = spark.range(0L, 10000L, 1L, 7)
      .groupBy((col("id") % 97).as("k")).agg(sum("id").as("s"))
    for (c <- Seq(Checkpointer.Local, Checkpointer.Reliable)) {
      val (execs, (out, row)) = SqlExecutions.during(spark)(
        c.observed(df, count(lit(1)), sum(col("s")), max(col("k"))))
      assert(execs.size == 1, s"$c: ${execs.mkString("\n")}")
      assert(row.getLong(0) == 97L, c)
      assert(row.getLong(1) == (0L until 10000L).sum, c)
      assert(row.getLong(2) == 96L, c)
      assert(out.count() == 97L, c)
    }
    // an empty frame observes its empty aggregate
    val (_, empty) = Checkpointer.Local.observed(
      spark.range(0L).toDF(), count(lit(1)), sum(col("id")))
    assert(empty.getLong(0) == 0L && empty.isNullAt(1))
  }

  // Random small graphs over ids 0..n-1 (self-loops and repeated edges
  // arise freely); each sample is a batch of graphs placed on disjoint
  // id ranges and solved in ONE Spark call, then compared per graph.
  private val edgesGen: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(1, 10)
    m <- Gen.choose(1, 2 * n)
    es <- Gen.listOfN(m, Gen.zip(Gen.choose(0L, n - 1L),
      Gen.choose(0L, n - 1L)))
  } yield es

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(4).withWorkers(1),
      prop)
    assert(res.passed, res.status.toString)
  }

  private def offset(k: Int)(e: (Long, Long)) = (e._1 + 100L * k,
    e._2 + 100L * k)

  /** Tarjan's SCC, each node labelled with its component's least id. */
  private def tarjan(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.groupMap(_._1)(_._2)
    val index, low = mutable.Map.empty[Long, Int]
    val stack = mutable.Stack.empty[Long]
    val out = mutable.Map.empty[Long, Long]
    def strong(v: Long): Unit = {
      index(v) = index.size
      low(v) = index(v)
      stack.push(v)
      adj.getOrElse(v, Nil).foreach { w =>
        if (!index.contains(w)) {
          strong(w)
          low(v) = low(v) min low(w)
        } else if (stack.contains(w)) low(v) = low(v) min index(w)
      }
      if (low(v) == index(v)) {
        val comp = mutable.ArrayBuffer.empty[Long]
        while (comp.lastOption != Some(v)) comp += stack.pop()
        comp.foreach(out(_) = comp.min)
      }
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct
      .foreach(v => if (!index.contains(v)) strong(v))
    out.toMap
  }

  test("property: stronglyConnectedComponents ≡ Tarjan on random graphs") {
    check(Prop.forAll(Gen.listOfN(12, edgesGen)) { graphs =>
      val placed = graphs.zipWithIndex.map { case (g, k) =>
        g.map(offset(k)) }
      val got = GraphOps.stronglyConnectedComponents(
          placed.flatten.toDF("start_id", "end_id"))
        .as[(Long, Long)].collect().toMap
      got == placed.map(tarjan).reduce(_ ++ _)
    })
  }

  /** Union-find over the pairs whose endpoints both lie in `vertices`,
    * each vertex labelled with its component's least id. */
  private def unionFind(vertices: Seq[Long],
      pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map(vertices.map(v => v -> v): _*)
    def find(v: Long): Long =
      if (parent(v) == v) v else { parent(v) = find(parent(v)); parent(v) }
    pairs.filter(p => parent.contains(p._1) && parent.contains(p._2))
      .foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        parent(ra max rb) = ra min rb
      }
    parent.keys.map(v => v -> find(v)).toMap
  }

  // vertex ids repeat; pair endpoints range past the vertex ids, so
  // some pairs touch ids outside `vertices`
  private val ccGen: Gen[(Seq[Long], Seq[(Long, Long)])] = for {
    n <- Gen.choose(1, 10)
    vs <- Gen.nonEmptyListOf(Gen.choose(0L, n - 1L))
    m <- Gen.choose(0, 2 * n)
    ps <- Gen.listOfN(m, Gen.zip(Gen.choose(0L, n + 2L),
      Gen.choose(0L, n + 2L)))
  } yield (vs, ps)

  test("property: connectedComponents ≡ union-find on random graphs") {
    check(Prop.forAll(Gen.listOfN(12, ccGen)) { graphs =>
      val placed = graphs.zipWithIndex.map { case ((vs, ps), k) =>
        (vs.map(_ + 100L * k), ps.map(offset(k))) }
      val got = Dedup.connectedComponents(
          placed.flatMap(_._1).toDF("id"), "id",
          placed.flatMap(_._2).toDF("id_a", "id_b"))
        .as[(Long, Long)].collect()
      got.length == got.map(_._1).distinct.length &&
        got.toMap == placed.map((unionFind _).tupled).reduce(_ ++ _)
    })
  }
}
