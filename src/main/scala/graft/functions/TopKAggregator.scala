package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Ranked input for per-key top-K aggregation. */
case class Ranked(score: Double, id: Long)

/** Typed `Aggregator` (SURVEY.md §7.3 "posting-list / top-N per key"):
  * keeps the K best (score desc, id asc) ids per group in a bounded
  * buffer — one aggregation pass with map-side partials, replacing the
  * sort+window formulation whose shuffle carries every row. The buffer
  * is at most K elements regardless of group size, so skewed keys cost
  * O(K) memory — the same bound the reference's per-proc top-K map
  * maintained (`oink/wordfreq.cpp:65-82` Count{n,limit} state).
  *
  * Output: comma-joined ids in rank order (string — engine-portable for
  * the oracle compare).
  */
class TopKIdsAggregator(k: Int) extends Aggregator[Ranked, Seq[Ranked], String] {

  private val ord: Ordering[Ranked] =
    Ordering.by[Ranked, (Double, Long)](r => (-r.score, r.id))

  override def zero: Seq[Ranked] = Vector.empty

  /** [[graft.core.TopK.keep]]: `in` inserted into the sorted buffer. */
  override def reduce(buf: Seq[Ranked], in: Ranked): Seq[Ranked] =
    graft.core.TopK.keep(buf, in, k)(ord)

  /** [[graft.core.TopK.best]]: the K best of two sorted buffers. */
  override def merge(a: Seq[Ranked], b: Seq[Ranked]): Seq[Ranked] =
    graft.core.TopK.best(a, b, k)(ord)

  override def finish(r: Seq[Ranked]): String = r.map(_.id).mkString(",")

  override def bufferEncoder: Encoder[Seq[Ranked]] = Encoders.kryo[Seq[Ranked]]
  override def outputEncoder: Encoder[String] = Encoders.STRING
}

object TopKIdsAggregator {
  /** DataFrame-callable form: `topkIds(3)(col(score), col(id))`. */
  def topkIds(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new TopKIdsAggregator(k),
      Encoders.product[Ranked])
}

/** Array-output sibling of [[TopKIdsAggregator]] for operators that
  * CONSUME the selection downstream (e.g. [[graft.llm.Sampling]]'s
  * stratifiedQuota explodes the kept ids and joins them back to their
  * rows) instead of printing it: same bounded O(K) buffer and
  * (score desc, id asc) total order, ids emitted as `array<bigint>` in
  * rank order. */
class TopKIdsArrayAggregator(k: Int)
    extends Aggregator[Ranked, Seq[Ranked], Array[Long]] {
  private val inner = new TopKIdsAggregator(k)
  override def zero: Seq[Ranked] = inner.zero
  override def reduce(buf: Seq[Ranked], in: Ranked): Seq[Ranked] =
    inner.reduce(buf, in)
  override def merge(a: Seq[Ranked], b: Seq[Ranked]): Seq[Ranked] =
    inner.merge(a, b)
  override def finish(r: Seq[Ranked]): Array[Long] = r.map(_.id).toArray
  override def bufferEncoder: Encoder[Seq[Ranked]] = inner.bufferEncoder
  override def outputEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
}

object TopKIdsArrayAggregator {
  /** DataFrame-callable form: `topkIdsArray(3)(col(score), col(id))`. */
  def topkIdsArray(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new TopKIdsArrayAggregator(k),
      Encoders.product[Ranked])
}
