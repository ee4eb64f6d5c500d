package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block submits from the calling thread. */
object SparkJobs {
  private val seq = new AtomicInteger

  def count[T](body: => T): (T, Int) = {
    val (out, descriptions) = describe(body)
    (out, descriptions.length)
  }

  /** The job description (`setJobDescription`, null if unset) of each
    * Spark job the block submits, in submission order. */
  def describe[T](body: => T): (T, Seq[String]) = {
    val sc = TestSession.spark.sparkContext
    val group = s"graft-job-count-${seq.incrementAndGet()}"
    val descriptions = mutable.ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          descriptions.synchronized {
            descriptions += e.properties.getProperty("spark.job.description")
          }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val out = body
      ListenerBusDrain(sc)
      (out, descriptions.synchronized(descriptions.toSeq))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
