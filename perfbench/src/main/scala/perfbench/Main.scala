package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up a workload from its seed, drive it as a
  * closed loop with one client for `--seconds`, check every job's output
  * and print one JSON result line last.
  *
  * `--trace 0` prints the end-to-end metrics. `--trace 1` interleaves
  * untraced and traced jobs and prints the per-layer metrics, plus the
  * tracing overhead (median traced job minus median untraced job) and the
  * spans file. */
object Main {

  private val PrepareRepeats = 2
  private val MinJobs = 1

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.byName(opt("workload")).getOrElse(
      sys.error(s"unknown workload ${opt("workload")}; one of " +
        Workloads.all.map(_.name).mkString(", ")))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val threads = opt("threads").toInt
    val dir = new File(opt("dir"))
    val spansOut = opt.get("spans").map(new File(_))

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(dir, "local").getAbsolutePath)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val env = new Env(spark, seed, new Tracer(spark.sparkContext))
    try {
      // Set-up = session start + input generation and index builds +
      // warm-up jobs. Generation and builds repeat and count once, as
      // their median; the session start and the warm-up (class loading,
      // JIT, codegen caches) only happen once per JVM.
      val prepares = (0 until PrepareRepeats).map { k =>
        if (k > 0) deleteTree(new File(dir, s"input-${k - 1}"))
        val t = System.nanoTime()
        workload.prepare(env, new File(dir, s"input-$k"))
        (System.nanoTime() - t) / 1e9
      }
      val tw = System.nanoTime()
      for (k <- 0 until workload.warmUpJobs) workload.job(env, -1 - k)
      val setup = (tw - t0) / 1e9 - prepares.sum + Stats.median(prepares) +
        (System.nanoTime() - tw) / 1e9
      if (traced) env.tracer.enable()

      val plain, tracedJobs = mutable.ArrayBuffer.empty[Double]
      var inputBytes, items = 0L
      var attempted, failed = 0
      val failures = mutable.ArrayBuffer.empty[String]
      val loopStart = System.nanoTime()
      def elapsed = (System.nanoTime() - loopStart) / 1e9
      var i = 0
      // A traced run interleaves untraced and traced jobs in ABBA order, so
      // the warming trend of the first jobs cancels out of the overhead.
      while (elapsed < seconds || i < (if (traced) 4 * MinJobs else MinJobs)) {
        val tracedJob = traced && (i % 4 == 1 || i % 4 == 2)
        attempted += 1
        try {
          var out: JobOut = null
          val s = env.tracer.job(s"${workload.name}.job", tracedJob) {
            out = workload.job(env, i)
          }
          if (tracedJob) tracedJobs += s
          else { plain += s; inputBytes += out.inputBytes; items += out.items }
          if (out.failures.nonEmpty) { failed += 1; failures ++= out.failures }
        } catch {
          case e: Exception =>
            failed += 1; failures += s"job $i threw $e"
        }
        i += 1
      }
      val (extras, endFailures) = workload.finish(env)
      if (endFailures.nonEmpty) { attempted += 1; failed += 1; failures ++= endFailures }
      failures.take(20).foreach(f => System.err.println(s"[perfbench] check failed: $f"))

      val metrics: Seq[(String, Double, String)] =
        if (!traced) Seq(
          ("setup_s", setup, "s"),
          ("job_s", Stats.median(plain.toSeq), "s"),
          ("input_mb_per_s", inputBytes / 1e6 / plain.sum, "MB/s"),
          ("peak_rss_mb", peakRssMb(), "MB"))
        else perLayer(workload, env.tracer.summary(), extras,
          Stats.median(tracedJobs.toSeq) - Stats.median(plain.toSeq),
          items / plain.sum)
      spansOut.foreach(env.tracer.write)
      System.err.println(s"[perfbench] ${workload.name} seed=$seed jobs=${plain.size}+" +
        s"${tracedJobs.size} setup=${f"$setup%.2f"} prepare=${prepares.map(x => f"$x%.2f").mkString(",")} " +
        s"job_s=${plain.map(x => f"$x%.3f").mkString(",")}")
      val json = metrics.map { case (n, v, u) =>
        require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
        s""""$n": {"value": $v, "unit": "$u"}"""
      }.mkString("{", ", ", "}")
      println(s"""{"correct": ${failed == 0}, "attempted": $attempted, """ +
        s""""failed": $failed, "metrics": $json}""")
    } finally {
      workload.cleanup(env)
      spark.stop()
    }
  }

  /** Every per-layer metric of BENCHMARK.json. Spans the workload does not
    * call report 0: that layer did no work. */
  private def perLayer(w: Workload, sum: Map[String, Map[String, Double]],
      extras: Map[String, Double], overhead: Double,
      itemsPerS: Double): Seq[(String, Double, String)] = {
    val spanMetrics = for {
      span <- Names.spans
      (counter, unit) <- Names.counters
    } yield (s"$span.$counter", sum.get(span).fold(0.0)(_(counter)), unit)
    val extra = Names.extras.map { case (n, unit) =>
      val v = n match {
        case "trace.overhead_s" => overhead
        case "rmat_graph.edges_per_s" => if (w.name == "rmat_graph") itemsPerS else 0.0
        case "crawl_admit.docs_per_s" => if (w.name == "crawl_admit") itemsPerS else 0.0
        case other => extras.getOrElse(other, 0.0)
      }
      (n, v, unit)
    }
    spanMetrics ++ extra
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(sys.error("no VmHWM in /proc/self/status"))
    finally src.close()
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** The per-layer metric names, in BENCHMARK.json order. */
object Names {
  val spans: Seq[String] = Workloads.all.flatMap(_.spans)
  val counters: Seq[(String, String)] = Seq(
    "s" -> "s", "driver_s" -> "s", "jobs" -> "count", "tasks" -> "count",
    "cpu_s" -> "s", "gc_s" -> "s", "shuffle_mb" -> "MB",
    "fetch_wait_s" -> "s", "spill_mb" -> "MB")
  val extras: Seq[(String, String)] = Seq(
    "sources.dedup_gate.recall" -> "ratio",
    "sources.dedup_gate.precision" -> "ratio",
    "sources.ivf_serve.recall_at10" -> "ratio",
    "sources.files_per_bucket" -> "count",
    "sources.write_amp" -> "ratio",
    "sources.space_amp" -> "ratio",
    "rmat_graph.edges_per_s" -> "1/s",
    "crawl_admit.docs_per_s" -> "1/s",
    "trace.overhead_s" -> "s")

}
