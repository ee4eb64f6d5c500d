package graft.core

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.Partitioner
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Pregel-style rounds over co-partitioned, cached per-partition state:
  * the round discipline of `RMat.generate`, `Iterative.ccFind`,
  * `Iterative.pagerank` and `Triangles.triangleCount` — one collate per
  * round, as in the reference's `oink/rmat.cpp:50-70` generate→cull loop
  * and `oink/cc_find.cpp`.
  *
  * State is an RDD holding exactly ONE block per partition of
  * `spark.sql.shuffle.partitions` partitions, vertex or key v living in
  * partition [[Rounds.partOf]]: the loop-invariant data (an adjacency, an
  * edge set), built once, plus primitive arrays aligned to it.
  *
  * Data moves as blocks, the shape of the reference's `aggregate()` over
  * `Irregular::exchange` (`src/mapreduce.cpp:385-563`): each sending
  * partition addresses at most one message block — a few primitive
  * arrays it has already combined — to each receiving partition, one
  * shuffle carries the blocks, and each receiver gets its blocks sorted
  * by sender partition. Folding them in that order makes floating-point
  * sums reproducible for a given layout. [[init]] builds the state from
  * routed blocks; a round ([[step]]) exchanges the state's blocks, folds
  * them into the state of the same partition — a narrow zip, no join to
  * plan — and submits ONE action, `runJob`, whose per-partition summaries
  * come back in partition order.
  *
  * Every job a `Rounds` submits is described as `"<op> init"`,
  * `"<op> round <k>"` or `"<op> frame"`; [[close]] restores the caller's
  * description. The job group is left alone.
  *
  * Every block RDD is local-checkpointed: cached, with its lineage cut
  * once a job materializes it, so a long loop does not drag a growing
  * chain of zipped parents into every task. [[close]] unpersists whatever
  * is still live; loops call it from `finally`, so the failure paths free
  * their rounds too.
  */
final class Rounds(spark: SparkSession, op: String) extends AutoCloseable {
  private val sc = spark.sparkContext
  private val live = mutable.LinkedHashSet.empty[RDD[_]]
  private val callerDescription = sc.getLocalProperty(Rounds.DescriptionKey)
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

  def close(): Unit = {
    live.foreach(_.unpersist(blocking = false))
    live.clear()
    sc.setLocalProperty(Rounds.DescriptionKey, callerDescription)
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

  private def describe(phase: String): Unit =
    sc.setJobDescription(s"$op $phase")

  private def keep[B](rdd: RDD[B]): RDD[B] = {
    live += rdd.localCheckpoint()
    rdd
  }
}

object Rounds {

  /** The local property `SparkContext.setJobDescription` sets. */
  private val DescriptionKey = "spark.job.description"

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
