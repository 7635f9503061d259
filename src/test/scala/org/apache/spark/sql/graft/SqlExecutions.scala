package org.apache.spark.sql.graft

import java.util.concurrent.ConcurrentLinkedQueue

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
      : (Seq[String], Int, T) = {
    val (plans, jobGroups, out) = record(spark, _.physicalPlanDescription)(body)
    (plans, jobGroups.size, out)
  }

  /** Run `body` and return the job group id of every Spark job it ran
    * ("" for a job started outside any group), in start order, with its
    * result. */
  def jobGroupsDuring[T](spark: SparkSession)(body: => T): (Seq[String], T) = {
    val (_, jobGroups, out) = record(spark, _.description)(body)
    (jobGroups, out)
  }

  private def record[A, T](spark: SparkSession,
      pick: SparkListenerSQLExecutionStart => A)(body: => T)
      : (Seq[A], Seq[String], T) = {
    val bus = spark.sparkContext.listenerBus
    val seen = new ConcurrentLinkedQueue[A]
    val jobs = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(event: SparkListenerJobStart): Unit =
        jobs.add(Option(event.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("")): Unit
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
      (seen.asScala.toSeq, jobs.asScala.toSeq, out)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
