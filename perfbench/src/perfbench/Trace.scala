package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the library, with Spark work
  * attributed to them.
  *
  * Each span sets a job group of its own; the `SparkListener` maps every
  * job and stage to the span whose group it carries, and sums the task
  * metrics per span. The `QueryExecutionListener` records each query's
  * Catalyst phase times and the exchanges and joins of its executed plan,
  * and files it under the span open when its analysis started. Spans and
  * counters stay in memory; [[Trace.Off]] runs the same code with none of
  * this. */
trait Tracer {
  def span[T](name: String)(body: => T): T
}

object Trace {

  /** Tracing off: spans are plain calls. */
  object Off extends Tracer {
    def span[T](name: String)(body: => T): T = body
  }

  final case class Span(id: Int, name: String, parent: Int, iter: Int,
      startMs: Long, startNs: Long) {
    var endMs: Long = startMs
    var endNs: Long = startNs
    val readStart: Long = Trace.fileBytesRead()
    var readEnd: Long = readStart
    def ms: Double = (endNs - startNs) / 1e6
    def bytesRead: Long = readEnd - readStart
  }

  /** Bytes read so far through Hadoop's local file system by every thread
    * of this process: the file scans, not the cached or checkpointed
    * blocks Spark reads back from its block manager. */
  def fileBytesRead(): Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
      .get("file")).flatMap(s => Option(s.getLong("bytesRead")))
      .map(_.longValue).getOrElse(0L)

  /** Task totals of one span's own stages. */
  final class Counters {
    var tasks, runMs, gcMs, shuffleWrite, spill, inRecords, outRecords = 0L
    def +=(o: Counters): Unit = {
      tasks += o.tasks; runMs += o.runMs; gcMs += o.gcMs
      shuffleWrite += o.shuffleWrite; spill += o.spill
      inRecords += o.inRecords; outRecords += o.outRecords
    }
  }

  final case class Job(span: Int, startMs: Long, var endMs: Long)

  final case class Query(span: Int, analysisMs: Long, optimizationMs: Long,
      planningMs: Long, exchanges: Int, broadcastJoins: Int,
      sortMergeJoins: Int)

  final case class Block(span: Int, rdd: Int, bytes: Long)

  /** Shuffle exchanges and join strategies of an executed plan, adaptive
    * final plans and subqueries included. */
  def planShape(plan: SparkPlan): (Int, Int, Int) = {
    var ex, bj, smj = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: ShuffleExchangeLike => ex += 1
        case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec =>
          bj += 1
        case _: SortMergeJoinExec => smj += 1
        case _ =>
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ => p.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(plan)
    (ex, bj, smj)
  }
}

/** Tracing on. Register with [[start]], unregister with [[stop]]. */
final class Trace(spark: SparkSession) extends Tracer {
  import Trace._

  private val sc = spark.sparkContext
  private val lock = new Object
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  @volatile private var open = -1
  var iter = 0

  private val jobs = mutable.ArrayBuffer[Job]()
  private val jobIndex = mutable.Map[Int, Job]()
  private val stageSpan = mutable.Map[Int, Int]()
  private val counters = mutable.Map[Int, Counters]()
  private val queries = mutable.ArrayBuffer[Query]()
  private val blocks = mutable.ArrayBuffer[Block]()

  private val Group = "perfbench-span-"

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Group)).map(_.stripPrefix(Group).toInt)
      .getOrElse(-1)

  /** The innermost span open at wall-clock `ms`. */
  private def spanAt(ms: Long): Int = lock.synchronized {
    spans.reverseIterator.find(s =>
      s.startMs <= ms && (s.endMs >= ms || s.endNs == s.startNs))
      .map(_.id).getOrElse(-1)
  }

  def span[T](name: String)(body: => T): T = {
    val s = lock.synchronized {
      val s = Span(spans.length, name, stack.headOption.map(_.id).getOrElse(-1),
        iter, System.currentTimeMillis(), System.nanoTime())
      spans += s
      s
    }
    stack = s :: stack
    open = s.id
    sc.setJobGroup(Group + s.id, name, interruptOnCancel = false)
    try body
    finally {
      lock.synchronized {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        s.readEnd = fileBytesRead()
      }
      stack = stack.tail
      stack.headOption match {
        case Some(p) =>
          open = p.id
          sc.setJobGroup(Group + p.id, p.name, interruptOnCancel = false)
        case None =>
          open = -1
          sc.clearJobGroup()
      }
    }
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val j = Job(spanOf(e.properties), e.time, e.time)
      jobs += j
      jobIndex(e.jobId) = j
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobIndex.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      lock.synchronized {
        stageSpan(e.stageInfo.stageId) = spanOf(e.properties)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val c = counters.getOrElseUpdate(
          stageSpan.getOrElse(e.stageId, -1), new Counters)
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inRecords += m.inputMetrics.recordsRead
        c.outRecords += m.outputMetrics.recordsWritten
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD && info.storageLevel.isValid) {
        val span = open
        lock.synchronized {
          blocks += Block(span, info.blockId.asRDDId.get.rddId,
            info.memSize + info.diskSize)
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      val at = phases.get("analysis").map(_.startTimeMs)
        .getOrElse(System.currentTimeMillis())
      val (ex, bj, smj) =
        try planShape(qe.executedPlan) catch { case _: Exception => (0, 0, 0) }
      val q = Query(spanAt(at), ms("analysis"), ms("optimization"),
        ms("planning"), ex, bj, smj)
      lock.synchronized(queries += q)
    }
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(qe)
  }

  def start(): this.type = {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
    this
  }

  /** Wait until the listener bus has delivered every event, to the
    * query-execution listeners too, then unregister. */
  def stop(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark)
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
  }

  // ------------------------------------------------------------ read-outs

  /** Ids of `root` and every span below it. */
  def subtree(root: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Seq[Int] =
      id +: kids.getOrElse(id, Nil).toSeq.flatMap(s => go(s.id))
    go(root).toSet
  }

  /** Spans of iteration `it` named `name`. */
  def named(it: Int, name: String): Seq[Span] =
    spans.filter(s => s.iter == it && s.name == name).toSeq

  def ids(ss: Seq[Span]): Set[Int] = ss.flatMap(s => subtree(s.id)).toSet

  def ms(ss: Seq[Span]): Double = ss.map(_.ms).sum

  def totals(ids: Set[Int]): Counters = {
    val c = new Counters
    ids.foreach(id => counters.get(id).foreach(c += _))
    c
  }

  def jobCount(ids: Set[Int]): Int = jobs.count(j => ids(j.span))

  /** Wall time of `ss` not covered by any of their jobs, in ms. */
  def driverGapMs(ss: Seq[Span]): Double = ss.map { s =>
    val in = subtree(s.id)
    val iv = jobs.filter(j => in(j.span))
      .map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var (curA, curB) = (-1L, -1L)
    iv.foreach { case (a, b) =>
      if (a > curB) {
        covered += math.max(0L, curB - curA)
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    covered += math.max(0L, curB - curA)
    math.max(0.0, s.ms - covered)
  }.sum

  def queriesIn(ids: Set[Int]): Seq[Query] = queries.filter(q => ids(q.span)).toSeq

  def blocksIn(ids: Set[Int]): Seq[Block] = blocks.filter(b => ids(b.span)).toSeq

  /** Span duration minus the part of it its child spans cover. */
  def selfMs(s: Span): Double =
    s.ms - spans.filter(_.parent == s.id).map(_.ms).sum
}
