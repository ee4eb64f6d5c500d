package graft.graph

import graft.core.Rounds

/** One partition of a graph in compressed sparse row form: the
  * partition's vertices, ascending, and each vertex's distinct neighbours
  * in `nbr(off(i) until off(i + 1))`. The loop-invariant half of a
  * [[graft.core.Rounds]] state block; per-round arrays are indexed like
  * `vs`. */
private[graph] final class Csr(val vs: Array[Long], val off: Array[Int],
    val nbr: Array[Long]) extends Serializable {

  def size: Int = vs.length

  def degree(i: Int): Int = off(i + 1) - off(i)

  /** Position of vertex `v` in `vs`; `v` must belong to this partition. */
  def index(v: Long): Int = {
    val i = java.util.Arrays.binarySearch(vs, v)
    require(i >= 0, s"vertex $v is not in this partition")
    i
  }
}

private[graph] object Csr {

  /** Builds a partition from (v, x) pairs: x is a neighbour of v, except
    * that a pair (v, v) only registers v as a vertex. Duplicate pairs
    * collapse. */
  def apply(pairs: Iterator[(Long, Long)]): Csr = {
    val ks = Array.newBuilder[Long]
    val xs = Array.newBuilder[Long]
    pairs.foreach { case (k, x) => ks += k; xs += x }
    val (k, x) = (ks.result(), xs.result())
    val vs = Rounds.sortedDistinct(k.clone())
    val at = k.map(v => java.util.Arrays.binarySearch(vs, v))
    val off = new Array[Int](vs.length + 1)
    var e = 0
    while (e < k.length) { if (x(e) != k(e)) off(at(e) + 1) += 1; e += 1 }
    var i = 0
    while (i < vs.length) { off(i + 1) += off(i); i += 1 }
    val nbr = new Array[Long](off(vs.length))
    val fill = off.clone()
    e = 0
    while (e < k.length) {
      if (x(e) != k(e)) { nbr(fill(at(e))) = x(e); fill(at(e)) += 1 }
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
    new Csr(vs, off, java.util.Arrays.copyOf(nbr, n))
  }
}
