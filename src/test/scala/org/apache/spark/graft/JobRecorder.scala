package org.apache.spark.graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The Spark jobs and SQL executions one block of driver code starts, for
  * tests that bound how much distributed work a call does. Jobs are those
  * of the block's job group (threads the block creates inherit it). Lives
  * in Spark's package because draining the asynchronous listener bus is
  * Spark-private. */
final class JobRecorder private (group: String) extends SparkListener {
  private val jobIds = new ConcurrentLinkedQueue[Int]()
  private val plans = new ConcurrentLinkedQueue[String]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Option(e.properties).exists(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
      jobIds.add(e.jobId)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
    case _ =>
  }

  def jobs: Int = jobIds.size

  /** Physical plan descriptions of every SQL execution started meanwhile. */
  def executionPlans: Seq[String] = plans.asScala.toSeq
}

object JobRecorder {
  def during[T](sc: SparkContext)(body: => T): (Try[T], JobRecorder) = {
    val group = s"job-recorder-${java.util.UUID.randomUUID()}"
    sc.listenerBus.waitUntilEmpty()
    val r = new JobRecorder(group)
    sc.addSparkListener(r)
    sc.setJobGroup(group, "recorded block")
    try {
      val out = Try(body)
      sc.listenerBus.waitUntilEmpty()
      (out, r)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(r)
    }
  }
}
