package graft.tools

import java.util.Locale

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Equivalence check for Iterative.pagerank / personalizedPagerank in
  * fixed and convergence (tol > 0, the b_pagerank_tol / b_ppr_tol
  * windows) modes: prints row count, Σrank and an order-independent
  * checksum of the ROUNDED ranks, with the Spark jobs, stages and task
  * time each call took. Run on two binaries in the same sandbox:
  * identical signatures = both stopped at the same round with the same
  * rounded ranks.
  *
  * Usage: runMain graft.tools.R19PrDeltaCheck <sfDir>
  */
object R19PrDeltaCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def sig(df: org.apache.spark.sql.DataFrame): String = {
      val r = df
        .select(col("v"), round(col("rank"), 9).as("rank"))
        .agg(count(lit(1)).as("n"), sum(col("rank")).as("s"),
          sum(pmod(xxhash64(col("v"), col("rank")), lit(1000000007L)))
            .as("h"))
        .head()
      "n=%d sum=%.12f h=%d".formatLocal(Locale.ROOT,
        r.getLong(0), r.getDouble(1), r.getLong(2))
    }

    // job/stage/task-time accounting (noise-robust: total task time is
    // CPU spent, not wall clock on a drifting window)
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val stageLog =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int, String)]
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          taskMs.addAndGet(s.stageInfo.taskMetrics.executorRunTime)
          stageLog.add((s.stageInfo.taskMetrics.executorRunTime,
            s.stageInfo.numTasks,
            s.stageInfo.name.linesIterator.next().take(120)))
        }
      })
    def measured(name: String)(body: => org.apache.spark.sql.DataFrame): Unit = {
      val (j0, s0, t0) = (jobs.get, stages.get, taskMs.get)
      val w0 = System.nanoTime()
      val df = body
      val s1 = sig(df)
      val wall = (System.nanoTime() - w0) / 1e9
      // let async listener events drain before reading the counters
      Thread.sleep(300)
      println(("[prdelta] %s %s jobs=%d stages=%d taskSec=%.2f " +
        "wall=%.2f").formatLocal(Locale.ROOT, name, s1,
        jobs.get - j0, stages.get - s0, (taskMs.get - t0) / 1e3, wall))
      import scala.jdk.CollectionConverters._
      stageLog.asScala.toSeq.sortBy(-_._1).take(8).foreach { case (ms, nt, n) =>
        println("[prdelta]   stage %.2fs tasks=%d %s"
          .formatLocal(Locale.ROOT, ms / 1e3, nt, n))
      }
      stageLog.clear()
      graft.core.Checkpoints.release(df)
    }

    // empty-stage calibration: 32 trivial RDD tasks, no SQL, no shuffle
    // — whatever task time this reads is the box/JVM per-task floor
    spark.sparkContext.parallelize(1 to 32, 32).map(_ => 1).count() // warm
    Seq(1, 8, 32, 128, 32, 8, 1).foreach { np =>
      val (s0, t0) = (stages.get, taskMs.get)
      val w0 = System.nanoTime()
      spark.sparkContext.parallelize(1 to np, np).map(_ => 1).count()
      Thread.sleep(300)
      println("[prdelta] calib_p%d stages=%d taskSec=%.2f wall=%.2f"
        .formatLocal(Locale.ROOT, np, stages.get - s0,
          (taskMs.get - t0) / 1e3, (System.nanoTime() - w0) / 1e9 - 0.3))
      stageLog.clear()
    }

    val edges = graft.graph.GraphOps.edgesFromLineitem(spark, sfDir)
    // one untimed warm pass (codegen, file listing)
    graft.core.Checkpoints.release(
      graft.graph.Iterative.pagerank(edges, 0.85, 0.0, 5))
    measured("pagerank_fixed5") {
      graft.graph.Iterative.pagerank(edges, 0.85, 0.0, 5) }
    measured("ppr_fixed5") {
      graft.graph.Iterative.personalizedPagerank(edges, Seq(0L, 7L, 42L),
        alpha = 0.85, iters = 5) }
    measured("pagerank_tol") {
      graft.graph.Iterative.pagerank(edges, 0.85, 1e-6, 50) }
    measured("ppr_tol") {
      graft.graph.Iterative.personalizedPagerank(edges, Seq(0L, 7L, 42L),
        alpha = 0.85, iters = 5, tol = 1e-6, maxIter = 50) }
    spark.stop()
  }
}
