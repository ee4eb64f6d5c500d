package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one top-k tail of the ranked families (kNN, IVF serving, BM25,
  * TF-IDF, hybrid retrieval): each family generates and scores its
  * candidates, then keeps the best k per key here — in a frame with
  * [[perKey]], in a task with the bounded buffer of [[keep]] and
  * [[best]]. */
object TopK {

  /** `buf` (sorted, at most `k` long) with `x` inserted and whatever
    * falls past the k-th place dropped; a full buffer whose last element
    * ranks at or above `x` is returned as is. */
  def keep[T](buf: Seq[T], x: T, k: Int)(implicit ord: Ordering[T]): Seq[T] =
    if (buf.nonEmpty && buf.length >= k && !ord.lt(x, buf.last)) buf
    else best(buf, Vector(x), k)

  /** The `k` best of two sorted buffers, by one linear merge; on ties
    * `a`'s elements come first. */
  def best[T](a: Seq[T], b: Seq[T], k: Int)(implicit ord: Ordering[T]): Seq[T] = {
    val out = Vector.newBuilder[T]
    val (x, y) = (a.iterator.buffered, b.iterator.buffered)
    var n = 0
    while (n < k && (x.hasNext || y.hasNext)) {
      out += (if (!y.hasNext || (x.hasNext && ord.lteq(x.head, y.head))) x.next() else y.next())
      n += 1
    }
    out.result()
  }

  /** The first `k` rows of each `key` group of `scored` in `order`,
    * numbered 1..k in a long column `rn` appended to the frame. One
    * window: every scored row is exchanged by key and sorted within its
    * group. */
  def perKey(scored: DataFrame, key: String, k: Int,
      order: Column*): DataFrame =
    scored
      .withColumn("rn",
        row_number().over(Window.partitionBy(col(key)).orderBy(order: _*)))
      .where(col("rn") <= k)
      .withColumn("rn", col("rn").cast("long"))
}
