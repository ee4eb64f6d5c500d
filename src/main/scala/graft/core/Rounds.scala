package graft.core

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.Partitioner
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** The round discipline of every iterative loop, the analog of the
  * reference's round → `MPI_Allreduce` stop flag → in-place KV swap
  * (`oink/cc_find.cpp:84-86`): one lifecycle — job labels, a live set of
  * held state, [[close]] — with two kinds of step.
  *
  * Block steps: Pregel-style rounds over co-partitioned, cached
  * per-partition state, the discipline of `RMat.generate`,
  * `Iterative.ccFind`, `Iterative.pagerank` and `Triangles.triangleCount`
  * — one collate per round, as in the reference's `oink/rmat.cpp:50-70`
  * generate→cull loop and `oink/cc_find.cpp`. State is an RDD holding
  * exactly ONE block per partition of `spark.sql.shuffle.partitions`
  * partitions, vertex or key v living in partition [[Rounds.partOf]]: the
  * loop-invariant data (an adjacency, an edge set), built once, plus
  * primitive arrays aligned to it. Data moves as blocks, the shape of the
  * reference's `aggregate()` over `Irregular::exchange`
  * (`src/mapreduce.cpp:385-563`): each sending partition addresses at
  * most one message block — a few primitive arrays it has already
  * combined — to each receiving partition, one shuffle carries the
  * blocks, and each receiver gets its blocks sorted by sender partition.
  * Folding them in that order makes floating-point sums reproducible for
  * a given layout. [[init]] builds the state from routed blocks; a round
  * ([[step]]) exchanges the state's blocks, folds them into the state of
  * the same partition — a narrow zip, no join to plan — and submits ONE
  * action, `runJob`, whose per-partition summaries come back in partition
  * order.
  *
  * Frame steps: [[iterate]] runs a loop whose state is a DataFrame
  * planned anew each round (`Iterative.ccFindStar`, `lubyMis`, `kCore`,
  * `Triangles.kTruss`, `Anf`, ...). Each round's frame is
  * local-checkpointed lazily — the analog of the reference's in-place KV
  * replacement — and the loop's one measuring action materializes it
  * (usually [[rows]]); the round before is released once it has.
  * Loop-invariant inputs are [[hold]]: persisted for the loop
  * (`oink/sssp.cpp:75-76` idiom); frames a round keeps beyond its own
  * state are [[keep]]: checkpointed until [[close]].
  *
  * Every job a `Rounds` submits is described as `"<op> init"`,
  * `"<op> round <k>"` or `"<op> frame"` (a frame round may run several
  * jobs); [[close]] restores the caller's description. The job group is
  * left alone.
  *
  * Every block RDD and frame is local-checkpointed: cached, with its
  * lineage cut once a job materializes it, so a long loop does not drag a
  * growing chain of parents into every task. [[close]] frees whatever is
  * still live or held, except what the loop returns ([[frame]],
  * [[result]]); loops call it from `finally`, so the failure paths free
  * their rounds too, and the caller's `Checkpoints.release` of the
  * returned frame frees the rest.
  */
final class Rounds(spark: SparkSession, op: String) extends AutoCloseable {
  private val sc = spark.sparkContext
  private val live = mutable.LinkedHashSet.empty[RDD[_]]
  private val held = mutable.ArrayBuffer.empty[DataFrame]
  private val label = new JobLabel(sc, op)
  private var round = 0

  /** The number of state partitions. */
  val parts: Int = spark.conf.get("spark.sql.shuffle.partitions").toInt
  describe("init")

  /** Round-0 state: `send` turns each partition of `src` into blocks
    * addressed to state partitions, and `build` makes partition p's block
    * from p and the blocks it received. Lazy — the first job that reads it
    * materializes it. */
  def init[A, M: ClassTag, B: ClassTag](src: RDD[A])(
      send: Iterator[A] => Iterator[(Int, M)])(
      build: (Int, Iterator[(Int, M)]) => B): RDD[B] =
    keep(exchange(src.mapPartitions(send)).mapPartitionsWithIndex(
      (p, blocks) => Iterator.single(build(p, blocks)), preservesPartitioning = true))

  /** One round: `send` addresses each state block's message blocks,
    * `update` folds the (sender, block) pairs a partition received into
    * its state block. Runs the round's one job, releases `state`, and
    * returns the next state with its per-partition summaries. */
  def step[B: ClassTag, M: ClassTag, S: ClassTag](state: RDD[B])(
      send: B => Iterator[(Int, M)])(
      update: (B, Iterator[(Int, M)]) => B)(summary: B => S): (RDD[B], Array[S]) = {
    val next = keep(state.zipPartitions(exchange(state.flatMap(send)),
      preservesPartitioning = true)((s, m) => Iterator.single(update(s.next(), m))))
    round += 1
    describe(s"round $round")
    val out = summarize(next)(summary)
    live -= state
    state.unpersist(blocking = false)
    (next, out)
  }

  /** One job over the state: `f` of each block, in partition order. */
  def summarize[B, S: ClassTag](state: RDD[B])(f: B => S): Array[S] =
    sc.runJob(state, (it: Iterator[B]) => f(it.next()))

  /** The state's rows as a local-checkpointed frame (one job). The frame
    * outlives [[close]]; `Checkpoints.release` frees it. */
  def frame[B](state: RDD[B], schema: StructType)(rows: B => Iterator[Row]): DataFrame = {
    describe("frame")
    spark.createDataFrame(state.flatMap(rows), schema).localCheckpoint()
  }

  /** Frame rounds: round k makes the next state from the last with
    * `round`; each state — `init` too — is local-checkpointed lazily and
    * `more`, the state's measuring action, materializes it and says
    * whether to go on. The state before is released once the next is
    * measured. A frame `round` returns already [[keep]]-ed is the loop's
    * own and stays until [[close]]. Stops after `maxIter` rounds; returns
    * the last state and the rounds run. */
  def iterate(init: DataFrame, maxIter: Int)(round: DataFrame => DataFrame)(
      more: DataFrame => Boolean): (DataFrame, Int) = {
    def adopt(df: DataFrame): (DataFrame, Boolean) =
      if (checkpointOf(df).exists(live)) (df, false) else (keep(df), true)
    var (state, owned) = adopt(init)
    var go = more(state)
    var k = 0
    while (go && k < maxIter) {
      k += 1
      describe(s"round $k")
      val (next, nextOwned) = adopt(round(state))
      go = more(next)
      if (owned) checkpointOf(state).foreach { rdd => live -= rdd; rdd.unpersist(blocking = false) }
      state = next
      owned = nextOwned
    }
    (state, k)
  }

  /** `df` local-checkpointed (and materialized now if `eager`), held until
    * [[close]]. */
  def keep(df: DataFrame, eager: Boolean = false): DataFrame = {
    val kept = df.localCheckpoint(eager = false)
    live ++= checkpointOf(kept)
    if (eager) rows(kept)
    kept
  }

  /** A loop-invariant input, persisted until [[close]]. */
  def hold(df: DataFrame): DataFrame = {
    held += df.persist(StorageLevel.MEMORY_AND_DISK)
    df
  }

  /** The row count of a [[keep]]-ed frame: one job, which materializes
    * its checkpoint — the job of an eager `localCheckpoint`. */
  def rows(kept: DataFrame): Long = checkpointOf(kept).get.count()

  /** `df` checkpointed as the loop's frame (one job); it outlives
    * [[close]]. */
  def frame(df: DataFrame): DataFrame = {
    describe("frame")
    result(keep(df, eager = true))
  }

  /** `df`, which the loop returns: [[close]] leaves the checkpoints it
    * reads, for the caller's `Checkpoints.release`. */
  def result(df: DataFrame): DataFrame = {
    live --= df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }
    df
  }

  def close(): Unit = {
    live.foreach(_.unpersist(blocking = false))
    live.clear()
    held.foreach(_.unpersist(blocking = false))
    held.clear()
    label.close()
  }

  private def checkpointOf(df: DataFrame): Option[RDD[_]] = df.queryExecution.analyzed match {
    case l: LogicalRDD => Some(l.rdd)
    case _ => None
  }

  /** The (receiver, block) pairs of `blocks` delivered: partition p holds
    * the (sender, block) pairs addressed to p, by ascending sender. */
  private def exchange[M: ClassTag](blocks: RDD[(Int, M)]): RDD[(Int, M)] = {
    val senders = blocks.getNumPartitions
    val keyed = blocks.mapPartitionsWithIndex { (q, it) =>
      it.map { case (p, m) => (p.toLong * senders + q, m) }
    }
    new ShuffledRDD[Long, M, M](keyed, new Rounds.Receivers(parts, senders)).mapPartitions(
      _.toArray.sortBy(_._1).iterator.map { case (k, m) => ((k % senders).toInt, m) },
      preservesPartitioning = true)
  }

  private def describe(phase: String): Unit = label(phase)

  private def keep[B](rdd: RDD[B]): RDD[B] = {
    live += rdd.localCheckpoint()
    rdd
  }
}

object Rounds {

  /** `body` on a fresh `Rounds` for `op`, closed on every exit path. */
  def around[T](spark: SparkSession, op: String)(body: Rounds => T): T = {
    val rounds = new Rounds(spark, op)
    try body(rounds) finally rounds.close()
  }

  /** The state partition of key `v` among `parts`: `HashPartitioner`'s
    * placement of a boxed Long. */
  def partOf(v: Long, parts: Int): Int = {
    val h = java.lang.Long.hashCode(v) % parts
    if (h < 0) h + parts else h
  }

  /** Routes an exchange key `receiver * senders + sender` to its receiver. */
  private final class Receivers(parts: Int, senders: Int) extends Partitioner {
    def numPartitions: Int = parts
    def getPartition(key: Any): Int = (key.asInstanceOf[Long] / senders).toInt
  }

  /** The distinct values of `a`, ascending. Sorts `a` in place. */
  def sortedDistinct(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    var n = 0
    var i = 0
    while (i < a.length) {
      if (n == 0 || a(i) != a(n - 1)) { a(n) = a(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(a, n)
  }
}
