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

  /** Inserts `in` into the sorted buffer, dropping whatever falls past
    * the K-th place; a full buffer whose last entry ranks at or above
    * `in` is returned as is. */
  override def reduce(buf: Seq[Ranked], in: Ranked): Seq[Ranked] =
    if (buf.nonEmpty && buf.length >= k && !ord.lt(in, buf.last)) buf
    else merge(buf, Vector(in))

  /** The K best of two sorted buffers, by one linear merge. */
  override def merge(a: Seq[Ranked], b: Seq[Ranked]): Seq[Ranked] = {
    val out = Vector.newBuilder[Ranked]
    val (x, y) = (a.iterator.buffered, b.iterator.buffered)
    var n = 0
    while (n < k && (x.hasNext || y.hasNext)) {
      out += (if (!y.hasNext || (x.hasNext && ord.lteq(x.head, y.head))) x.next() else y.next())
      n += 1
    }
    out.result()
  }

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
