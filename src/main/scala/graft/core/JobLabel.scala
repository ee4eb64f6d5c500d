package graft.core

import org.apache.spark.SparkContext

/** Names the Spark jobs an operator submits: after `label(phase)`, every
  * job the calling thread submits is described `"<op> <phase>"`.
  * [[close]] restores the description the caller had when the label was
  * made; operators call it from `finally`, so every exit path restores
  * it. The job group is left alone. */
final class JobLabel(sc: SparkContext, op: String) extends AutoCloseable {
  private val callerDescription = sc.getLocalProperty(JobLabel.DescriptionKey)

  def apply(phase: String): Unit = sc.setJobDescription(s"$op $phase")

  def close(): Unit = sc.setLocalProperty(JobLabel.DescriptionKey, callerDescription)
}

object JobLabel {

  /** The local property `SparkContext.setJobDescription` sets. */
  private val DescriptionKey = "spark.job.description"

  /** `body` under a label for `op`, closed on every exit path. */
  def around[T](sc: SparkContext, op: String)(body: JobLabel => T): T = {
    val label = new JobLabel(sc, op)
    try body(label) finally label.close()
  }
}
