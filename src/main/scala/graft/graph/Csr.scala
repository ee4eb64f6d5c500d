package graft.graph

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.core.Rounds

/** One partition of a graph in compressed sparse row form, the
  * loop-invariant half of a [[graft.core.Rounds]] state block: the
  * partition's vertices `vs`, ascending, and each vertex's distinct
  * neighbours, ascending, in `nbr(off(i) until off(i + 1))`. The
  * adjacency is symmetric; for a directed graph `out(j)` says whether
  * `nbr(j)` is an out-neighbour (null: every neighbour is). Per-round
  * arrays are indexed like `vs`.
  *
  * The routes of the partition's message blocks are built once, with the
  * adjacency. Between partitions p and q, the block p sends q is aligned
  * to the vertices of q that have a neighbour in p, ascending — on both
  * ends, because the adjacency is symmetric:
  *   - neighbour `nbr(j)` is entry `at(j)` of the blocks exchanged with
  *     its partition `to(j)`;
  *   - `from(q)` lists, as slots of `vs`, the vertices with a neighbour in
  *     partition q — the entries of a block partition q sends here, and
  *     the values a block sent to q pulls from here;
  *   - `width(q)` is the length of a block sent to q.
  * So a value pushed to a neighbour, or pulled from one, is an array
  * index on both ends: no receiver searches for a vertex per message.
  */
private[graph] final class Csr(val vs: Array[Long], val off: Array[Int],
    val nbr: Array[Long], val out: Array[Boolean], val to: Array[Int],
    val at: Array[Int], val from: Array[Array[Int]], val width: Array[Int])
    extends Serializable {

  def size: Int = vs.length

  def parts: Int = from.length

  def degree(i: Int): Int = off(i + 1) - off(i)

  def isOut(j: Int): Boolean = out == null || out(j)
}

private[graph] object Csr {

  /** An init message block: pairs (v(e), x(e)) addressed to v's partition,
    * `out(e)` saying whether x is an out-neighbour of v (null: all are). */
  final class Pairs(val v: Array[Long], val x: Array[Long], val out: Array[Boolean])
      extends Serializable

  /** The (src, dst) pairs of `edges` as longs; self-loops and null
    * endpoints dropped. */
  def edgePairs(edges: DataFrame): RDD[(Long, Long)] =
    edges.where(col("src") =!= col("dst"))
      .select(col("src").cast("long"), col("dst").cast("long")).rdd
      .map(r => (r.getLong(0), r.getLong(1)))

  /** The init blocks of a partition of edges among `parts` partitions:
    * each edge (a, b) as the pair (a, b) for a's partition and (b, a) for
    * b's. If `directed`, only the first is an out-neighbour pair. */
  def route(parts: Int, directed: Boolean)(
      edges: Iterator[(Long, Long)]): Iterator[(Int, Pairs)] = {
    val v = Array.fill(parts)(mutable.ArrayBuilder.make[Long])
    val x = Array.fill(parts)(mutable.ArrayBuilder.make[Long])
    val o = Array.fill(parts)(mutable.ArrayBuilder.make[Boolean])
    def add(a: Long, b: Long, isOut: Boolean): Unit = {
      val p = Rounds.partOf(a, parts)
      v(p) += a; x(p) += b
      if (directed) o(p) += isOut
    }
    edges.foreach { case (a, b) => add(a, b, isOut = true); add(b, a, isOut = false) }
    Iterator.range(0, parts).filter(v(_).length > 0).map { p =>
      (p, new Pairs(v(p).result(), x(p).result(), if (directed) o(p).result() else null))
    }
  }

  /** A partition's block from the pair blocks [[route]] sent it. A pair
    * (v, v) is dropped; duplicate pairs collapse, an entry being an
    * out-neighbour if any of its pairs is. */
  def apply(parts: Int, blocks: Iterator[(Int, Pairs)]): Csr = {
    val bs = blocks.map(_._2).toArray
    val k = bs.flatMap(_.v)
    val x = bs.flatMap(_.x)
    val directed = bs.exists(_.out != null)
    val vs = Rounds.sortedDistinct(k.clone())
    val slot = k.map(v => java.util.Arrays.binarySearch(vs, v))
    val off = new Array[Int](vs.length + 1)
    var e = 0
    while (e < k.length) { if (x(e) != k(e)) off(slot(e) + 1) += 1; e += 1 }
    var i = 0
    while (i < vs.length) { off(i + 1) += off(i); i += 1 }
    val nbr = new Array[Long](off(vs.length))
    val fill = off.clone()
    e = 0
    while (e < k.length) {
      if (x(e) != k(e)) { nbr(fill(slot(e))) = x(e); fill(slot(e)) += 1 }
      e += 1
    }
    // sort each neighbour list and drop its duplicates, compacting in place
    var n = 0
    i = 0
    while (i < vs.length) {
      java.util.Arrays.sort(nbr, off(i), off(i + 1))
      val start = n
      var j = off(i)
      while (j < off(i + 1)) {
        if (n == start || nbr(j) != nbr(n - 1)) { nbr(n) = nbr(j); n += 1 }
        j += 1
      }
      off(i) = start
      i += 1
    }
    off(vs.length) = n
    val adj = java.util.Arrays.copyOf(nbr, n)
    val out = if (!directed) null else {
      val o = new Array[Boolean](n)
      val outs = bs.flatMap(_.out)
      e = 0
      while (e < k.length) {
        if (outs(e) && x(e) != k(e))
          o(java.util.Arrays.binarySearch(adj, off(slot(e)), off(slot(e) + 1), x(e))) = true
        e += 1
      }
      o
    }
    // routes: each partition's neighbours, ascending, are the entries of
    // the blocks exchanged with it
    val to = adj.map(Rounds.partOf(_, parts))
    val ids = Array.fill(parts)(mutable.ArrayBuilder.make[Long])
    var j = 0
    while (j < n) { ids(to(j)) += adj(j); j += 1 }
    val entries = ids.map(b => Rounds.sortedDistinct(b.result()))
    val at = Array.tabulate(n)(j => java.util.Arrays.binarySearch(entries(to(j)), adj(j)))
    val from = Array.fill(parts)(mutable.ArrayBuilder.make[Int])
    val seen = Array.fill(parts)(-1)
    i = 0
    while (i < vs.length) {
      j = off(i)
      while (j < off(i + 1)) {
        if (seen(to(j)) != i) { seen(to(j)) = i; from(to(j)) += i }
        j += 1
      }
      i += 1
    }
    new Csr(vs, off, adj, out, to, at, from.map(_.result()), entries.map(_.length))
  }
}
