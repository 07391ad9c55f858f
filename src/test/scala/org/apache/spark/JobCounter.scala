package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts. The listener bus is drained
  * before the listener is added and again before the count is read, so
  * no earlier job leaks in and no job of the block is missed. */
object JobCounter {
  def jobsIn[T](sc: SparkContext)(body: => T): (T, Int) = {
    val (r, labels) = labelsIn(sc)(body)
    (r, labels.size)
  }

  /** The `spark.job.description` of every job the block starts, in start
    * order; null for a job started without one. */
  def labelsIn[T](sc: SparkContext)(body: => T): (T, Seq[String]) = {
    sc.listenerBus.waitUntilEmpty()
    val labels = new ConcurrentLinkedQueue[Option[String]]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        labels.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty(SparkContext.SPARK_JOB_DESCRIPTION))))
    }
    sc.addSparkListener(l)
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, labels.asScala.toSeq.map(_.orNull))
    } finally sc.removeSparkListener(l)
  }
}
