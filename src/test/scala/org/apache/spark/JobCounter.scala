package org.apache.spark

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts the Spark jobs a block starts. The listener bus is drained
  * before the listener is added and again before the count is read, so
  * no earlier job leaks in and no job of the block is missed. */
object JobCounter {
  /** A started job: its `spark.job.description` (null when started
    * without one) and its call site (`collect at PrefixSum.scala:102`).
    * A job of a SQL action takes the action's call site, which the SQL
    * execution records: AQE starts each query stage's job from a pool
    * thread, so the job's own stage names read `CompletableFuture`. */
  final case class Job(label: String, site: String)

  def jobsIn[T](sc: SparkContext)(body: => T): (T, Int) = {
    val (r, labels) = labelsIn(sc)(body)
    (r, labels.size)
  }

  /** The `spark.job.description` of every job the block starts, in start
    * order; null for a job started without one. */
  def labelsIn[T](sc: SparkContext)(body: => T): (T, Seq[String]) = {
    val (r, jobs) = startedIn(sc)(body)
    (r, jobs.map(_.label))
  }

  /** Every job the block starts, in start order. */
  def startedIn[T](sc: SparkContext)(body: => T): (T, Seq[Job]) = {
    sc.listenerBus.waitUntilEmpty()
    val jobs = new ConcurrentLinkedQueue[Job]
    val sqlSites = new ConcurrentHashMap[Long, String]
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => sqlSites.put(x.executionId, x.description)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        jobs.add(Job(prop(SparkContext.SPARK_JOB_DESCRIPTION).orNull,
          prop(SQLExecution.EXECUTION_ID_KEY).flatMap(id => Option(sqlSites.get(id.toLong)))
            .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name)).orNull))
      }
    }
    sc.addSparkListener(l)
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(l)
  }
}
