package org.apache.spark.sql.graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts the Spark SQL executions a call starts (in this package for
  * the listener bus, which Spark keeps package-private). */
object SqlExecutions {

  /** Run `body` and return the descriptions of the SQL executions it
    * started, in start order, with its result. A description is the
    * action's call site, e.g. `localCheckpoint at Checkpointer.scala:59`. */
  def during[T](spark: SparkSession)(body: => T): (Seq[String], T) = {
    val bus = spark.sparkContext.listenerBus
    val seen = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit =
        event match {
          case e: SparkListenerSQLExecutionStart => seen.add(e.description)
          case _ =>
        }
    }
    bus.waitUntilEmpty()
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      bus.waitUntilEmpty()
      (seen.asScala.toSeq, out)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
