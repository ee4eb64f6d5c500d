package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into the program, plus the Spark
  * work each span caused.
  *
  * A traced span sets a job group of its own on the calling thread; the
  * [[Counters]] listener keys every job, stage and task on that group, so
  * the executor-side counters of a span are exactly the work its call
  * submitted. Spans are kept in memory and written out once, at the end
  * of the run. With tracing off, [[step]] only reads the clock. */
final class Tracer(sc: SparkContext) {

  final case class Span(id: Long, parent: Long, trace: Long, name: String,
      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
    def group: String = Tracer.groupPrefix + id
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var open: List[Long] = Nil
  private var traceId = 0L
  private var counters: Counters = _

  /** Timed seconds of the current job: the sum of its steps, so the
    * untimed checks between steps never count. */
  var jobSeconds = 0.0

  /** Whether the job now running records spans. */
  def jobTraced: Boolean = open.nonEmpty

  def enable(): Unit = if (counters == null) {
    counters = new Counters
    sc.addSparkListener(counters)
  }

  /** Run one job. When `traced`, the job is the root span of its own
    * trace and every step inside it is a child span. Returns the job's
    * timed seconds. */
  def job(name: String, traced: Boolean)(body: => Unit): Double = {
    jobSeconds = 0.0
    if (traced) {
      traceId += 1
      record(name, body)
    } else body
    jobSeconds
  }

  /** One timed call into the program. */
  def step[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try if (open.nonEmpty) record(name, body) else body
    finally jobSeconds += (System.nanoTime() - t0) / 1e9
  }

  private def record[T](name: String, body: => T): T = {
    val id = nextId; nextId += 1
    val parent = open.headOption.getOrElse(0L)
    val prevGroup = sc.getLocalProperty(Tracer.JobGroupKey)
    sc.setJobGroup(Tracer.groupPrefix + id, name)
    open = id :: open
    val (ns, ms) = (System.nanoTime(), System.currentTimeMillis())
    try body
    finally {
      spans += Span(id, parent, traceId, name, ns, System.nanoTime(), ms,
        System.currentTimeMillis())
      open = open.tail
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, "")
    }
  }

  /** Per span name: the per-layer counters of BENCHMARK.json. `s` is
    * the median wall time per call; every other counter is a per-call
    * mean over all traced calls. */
  def summary(): Map[String, Map[String, Double]] = {
    if (counters == null) return Map.empty
    org.apache.spark.PerfbenchBus.drain(sc)
    spans.filter(_.parent != 0).groupBy(_.name).map { case (name, ss) =>
      val n = ss.size.toDouble
      def mean(f: Counters.Acc => Double): Double =
        ss.map(s => f(counters.acc(s.group))).sum / n
      name -> Map(
        "calls" -> n,
        "s" -> Stats.median(ss.map(_.seconds).toSeq),
        "driver_s" -> ss.map(s => driverSeconds(s)).sum / n,
        "jobs" -> mean(_.jobs.toDouble),
        "tasks" -> mean(_.tasks.toDouble),
        "cpu_s" -> mean(_.cpuNs / 1e9),
        "gc_s" -> mean(_.gcMs / 1e3),
        "shuffle_mb" -> mean(_.shuffleBytes / 1e6),
        "fetch_wait_s" -> mean(_.fetchWaitMs / 1e3),
        "spill_mb" -> mean(_.spillBytes / 1e6),
        "output_mb" -> mean(_.outputBytes / 1e6))
    }
  }

  /** Span wall time during which none of its jobs was running. */
  private def driverSeconds(s: Span): Double = {
    val iv = counters.acc(s.group).intervals
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var (curA, curB) = (-1L, -1L)
    iv.foreach { case (a, b) =>
      if (a > curB) { busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    busy += curB - curA
    math.max(0.0, s.seconds - busy / 1e3)
  }

  /** Every span, with the Spark work its own job group ran, as one JSON
    * object per line. */
  def write(f: File): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    f.getParentFile.mkdirs()
    val out = new PrintWriter(f, "UTF-8")
    try spans.sortBy(_.id).foreach { s =>
      val a = counters.acc(s.group)
      out.println(s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""jobs":${a.jobs},"tasks":${a.tasks},"cpu_ns":${a.cpuNs},"gc_ms":${a.gcMs},""" +
        s""""shuffle_bytes":${a.shuffleBytes},"fetch_wait_ms":${a.fetchWaitMs},""" +
        s""""spill_bytes":${a.spillBytes},"output_bytes":${a.outputBytes}}""")
    } finally out.close()
  }
}

object Tracer {
  val groupPrefix = "perfbench-span-"
  /** The local property SparkContext.setJobGroup sets. */
  val JobGroupKey = "spark.jobGroup.id"
}

/** Accumulates Spark's own job and task metrics per span job group. Runs
  * on the listener bus thread; read only after the bus has drained. */
final class Counters extends SparkListener {
  import Counters.Acc
  private val accs = mutable.HashMap.empty[String, Acc]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]

  def acc(group: String): Acc = synchronized(accs.getOrElse(group, new Acc))

  private def groupOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.JobGroupKey)))
      .filter(_.startsWith(Tracer.groupPrefix))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      accs.getOrElseUpdate(g, new Acc).jobs += 1
      jobGroup(e.jobId) = g
      jobStart(e.jobId) = e.time
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { g =>
      accs(g).intervals += ((jobStart.remove(e.jobId).get, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    groupOf(e.properties).foreach(g => stageGroup(e.stageInfo.stageId) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = accs.getOrElseUpdate(g, new Acc)
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillBytes += m.diskBytesSpilled
      a.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}

object Counters {
  final class Acc {
    var jobs, tasks, cpuNs, gcMs, shuffleBytes, fetchWaitMs, spillBytes,
        outputBytes = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
}
