package graft.core

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Pregel-style rounds over co-partitioned, cached per-partition state:
  * the round discipline of `RMat.generate`, `Iterative.ccFind` and
  * `Iterative.pagerank` — one collate per round, as in the reference's
  * `oink/rmat.cpp:50-70` generate→cull loop and `oink/cc_find.cpp`.
  *
  * State is an RDD holding exactly ONE block per partition of one
  * `HashPartitioner(spark.sql.shuffle.partitions)`: the loop-invariant
  * data (an adjacency, an edge set), built once, plus primitive arrays
  * aligned to it. A round reduces its keyed messages into that same
  * partitioner and zips them with the state partition by partition — a
  * narrow step, no join to plan — and submits ONE action, `runJob`, whose
  * per-partition summaries come back in partition order. Driver-side
  * floating-point sums over them are therefore reproducible, which
  * accumulators (merged in task-completion order) are not.
  *
  * Every block RDD is local-checkpointed: cached, with its lineage cut
  * once a job materializes it, so a long loop does not drag a growing
  * chain of zipped parents into every task. [[close]] unpersists whatever
  * is still live; loops call it from `finally`, so the failure paths free
  * their rounds too.
  */
final class Rounds(spark: SparkSession) extends AutoCloseable {
  private val sc = spark.sparkContext
  private val live = mutable.LinkedHashSet.empty[RDD[_]]

  val partitioner = new HashPartitioner(
    spark.conf.get("spark.sql.shuffle.partitions").toInt)

  /** Round-0 state: `pairs` hash-partitioned by key, one block built per
    * partition. Lazy — the first job that reads it materializes it. */
  def init[V: ClassTag, B: ClassTag](pairs: RDD[(Long, V)])(
      build: Iterator[(Long, V)] => B): RDD[B] =
    keep(pairs.partitionBy(partitioner)
      .mapPartitions(it => Iterator.single(build(it)), preservesPartitioning = true))

  /** One round: `msgs` reduced by key into the partitioner, each
    * partition's reduced messages folded into the state block of the same
    * partition by `update`. Runs the round's one job, releases `state`,
    * and returns the next state with its per-partition summaries. */
  def step[B: ClassTag, M: ClassTag, S: ClassTag](state: RDD[B],
      msgs: RDD[(Long, M)])(merge: (M, M) => M)(
      update: (B, Iterator[(Long, M)]) => B)(summary: B => S): (RDD[B], Array[S]) = {
    val next = keep(state.zipPartitions(msgs.reduceByKey(partitioner, merge),
      preservesPartitioning = true)((s, m) => Iterator.single(update(s.next(), m))))
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
  def frame[B](state: RDD[B], schema: StructType)(rows: B => Iterator[Row]): DataFrame =
    spark.createDataFrame(state.flatMap(rows), schema).localCheckpoint()

  def close(): Unit = {
    live.foreach(_.unpersist(blocking = false))
    live.clear()
  }

  private def keep[B](rdd: RDD[B]): RDD[B] = {
    live += rdd.localCheckpoint()
    rdd
  }
}

object Rounds {

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
