package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}

/** Counts the Spark jobs a block submits from the calling thread. */
object SparkJobs {
  private val seq = new AtomicInteger

  def count[T](body: => T): (T, Int) = {
    val (out, descriptions) = describe(body)
    (out, descriptions.length)
  }

  /** The job description (`setJobDescription`, null if unset) of each
    * Spark job the block submits, in submission order. */
  def describe[T](body: => T): (T, Seq[String]) =
    observe[T, String](body) { (group, descriptions) =>
      new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (e.properties != null &&
              e.properties.getProperty("spark.jobGroup.id") == group)
            descriptions.synchronized {
              descriptions += e.properties.getProperty("spark.job.description")
            }
      }
    }

  /** A stage the block ran: its job's description, its task count,
    * whether it writes shuffle output, and the names and operation
    * scopes of its RDDs (a SQL scan's scope names its table, e.g.
    * `Scan parquet spark_catalog.default.<table>`). */
  final case class Stage(description: String, tasks: Int, shuffleMap: Boolean,
      rdds: Seq[String]) {
    def scans(table: String): Boolean =
      rdds.exists(r => r.contains("Scan") && r.endsWith(s".$table"))
  }

  /** The stages the block's Spark jobs ran, in submission order. */
  def stages[T](body: => T): (T, Seq[Stage]) =
    observe[T, Stage](body) { (group, stages) =>
      new SparkListener {
        // a job's result stage is created after its parents: the top id
        private val resultStages = mutable.Set.empty[Int]
        override def onJobStart(e: SparkListenerJobStart): Unit =
          resultStages.synchronized(resultStages += e.stageIds.max)
        override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
          if (e.properties != null &&
              e.properties.getProperty("spark.jobGroup.id") == group) {
            val s = e.stageInfo
            stages.synchronized {
              stages += Stage(e.properties.getProperty("spark.job.description"),
                s.numTasks, !resultStages.synchronized(resultStages(s.stageId)),
                s.rddInfos.flatMap(r => r.name +: r.scope.map(_.name).toSeq))
            }
          }
      }
    }

  /** The task count of each stage of the block's jobs described
    * `description` that scans `table`, and `table`'s bucket count: a
    * bucketed scan runs one task per bucket it reads. */
  def tableReads[T](table: String, description: String)(body: => T): (T, Seq[Int], Int) = {
    val (out, ran) = stages(body)
    val buckets = TestSession.spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).bucketSpec.get.numBuckets
    (out, ran.filter(st => st.description == description && st.scans(table))
      .map(_.tasks), buckets)
  }

  /** Runs `body` in a fresh job group in which the `n`th Spark job, and
    * every later one, is cancelled as it starts. Returns what `body`
    * threw, or None if it returned before a cancellation landed. */
  def cancelFrom(n: Int)(body: => Any): Option[Throwable] = {
    val sc = TestSession.spark.sparkContext
    try {
      observe[Any, Int](body) { (group, started) =>
        new SparkListener {
          override def onJobStart(e: SparkListenerJobStart): Unit =
            if (e.properties != null &&
                e.properties.getProperty("spark.jobGroup.id") == group) {
              val k = started.synchronized { started += e.jobId; started.length }
              if (k >= n) sc.cancelJob(e.jobId, s"job $k of $group cancelled")
            }
        }
      }
      None
    } catch { case scala.util.control.NonFatal(t) => Some(t) }
  }

  /** Runs `body` in a fresh job group with the listener `make(group,
    * out)` registered, and returns what the listener appended to `out`. */
  private def observe[T, E](body: => T)(
      make: (String, mutable.ArrayBuffer[E]) => SparkListener): (T, Seq[E]) = {
    val sc = TestSession.spark.sparkContext
    val group = s"graft-job-count-${seq.incrementAndGet()}"
    val out = mutable.ArrayBuffer.empty[E]
    val listener = make(group, out)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val result = body
      ListenerBusDrain(sc)
      (result, out.synchronized(out.toSeq))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
