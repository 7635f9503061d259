package org.apache.spark.sql.graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts the Spark SQL executions and jobs a call starts (in this
  * package for the listener bus, which Spark keeps package-private). */
object SqlExecutions {

  /** Run `body` and return the descriptions of the SQL executions it
    * started, in start order, with its result. A description is the
    * action's call site, e.g. `localCheckpoint at Checkpointer.scala:59`. */
  def during[T](spark: SparkSession)(body: => T): (Seq[String], T) = {
    val (descriptions, _, out) = record(spark, _.description)(body)
    (descriptions, out)
  }

  /** Run `body` and return the physical plan of each SQL execution it
    * started (as explained at the execution's start, in start order), the
    * number of Spark jobs it ran, and its result. */
  def plansDuring[T](spark: SparkSession)(body: => T)
      : (Seq[String], Int, T) =
    record(spark, _.physicalPlanDescription)(body)

  private def record[A, T](spark: SparkSession,
      pick: SparkListenerSQLExecutionStart => A)(body: => T)
      : (Seq[A], Int, T) = {
    val bus = spark.sparkContext.listenerBus
    val seen = new ConcurrentLinkedQueue[A]
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(event: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
      override def onOtherEvent(event: SparkListenerEvent): Unit =
        event match {
          case e: SparkListenerSQLExecutionStart => seen.add(pick(e))
          case _ =>
        }
    }
    bus.waitUntilEmpty()
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      bus.waitUntilEmpty()
      (seen.asScala.toSeq, jobs.get, out)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
