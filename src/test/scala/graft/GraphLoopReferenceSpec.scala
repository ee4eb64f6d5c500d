package graft

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

import graft.graph.{Anf, GraphOps, Iterative, Triangles}

/** The DataFrame graph loops against driver-side references written
  * without Spark: union-find, Luby and matching rounds replaying the
  * portable priority mixer, synchronous label propagation, k-core and
  * k-truss peeling, Bellman-Ford per source and exact r-hop reach. Every
  * case runs under 1, 3 and 8 shuffle partitions. */
class GraphLoopReferenceSpec extends AnyFunSuite {
  import TestSession._

  private type Edge = (Long, Long)

  /** A seeded random multigraph: sparse random edges on 0 until n (so
    * several components and long paths), some of them duplicated and
    * reversed, self-loops (two vertices with only a self-loop), two
    * isolated pairs, a 16-vertex path and the hub 0 joined to every
    * third vertex below n / 2. */
  private def multigraph(n: Int, seed: Int): Seq[Edge] = {
    val r = new scala.util.Random(seed)
    val random = Seq.fill(n)((r.nextInt(n).toLong, r.nextInt(n).toLong))
    val path = (0L until 15L).map(i => (n + 10L + i, n + 11L + i))
    random ++ random.take(n / 3).map(_.swap) ++ random.take(n / 4) ++
      Seq((3L, 3L), (n + 1L, n + 1L), (n + 2L, n + 2L), (n + 3L, n + 4L), (n + 5L, n + 6L)) ++
      path ++ (3 until n / 2 by 3).map(v => (0L, v.toLong))
  }

  /** Path 0–15 plus K5 on 20..24: 21 vertices. */
  private val pathK5: Seq[Edge] =
    (0L until 15L).map(i => (i, i + 1)) ++
      (for (i <- 20L to 24L; j <- (i + 1) to 24L) yield (i, j))

  private val graphs: Seq[(String, Seq[Edge])] = Seq(
    "path+K5" -> pathK5, "multigraph(30, 1)" -> multigraph(30, 1),
    "multigraph(60, 2)" -> multigraph(60, 2))

  private def underLayouts(body: Int => Unit): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    try Seq(1, 3, 8).foreach { n => spark.conf.set(key, n.toString); body(n) }
    finally spark.conf.set(key, prev)
  }

  /** The frame's rows, after which its checkpoints are released. */
  private def rows[T: scala.reflect.ClassTag](df: DataFrame)(f: org.apache.spark.sql.Row => T): Set[T] = {
    val out = df.collect().map(f).toSet
    graft.core.Checkpoints.release(df)
    out
  }

  // ---- driver-side graph helpers ----

  private def vertices(es: Seq[Edge]): Set[Long] = es.flatMap { case (a, b) => Seq(a, b) }.toSet

  /** Symmetric adjacency, self-loops dropped, deduplicated. */
  private def adjacency(es: Seq[Edge]): Map[Long, Set[Long]] =
    es.filter { case (a, b) => a != b }.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, ps) => v -> ps.map(_._2).toSet }

  /** Canonical undirected edges: a < b, self-loops dropped, deduplicated. */
  private def upper(es: Seq[Edge]): Set[Edge] =
    es.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.toSet

  private val P = 1000000007L

  private def lubyPriority(v: Long, seed: Long): Long =
    Math.floorMod(Math.floorMod(v, P) * 2654435761L + seed * 40503L, P)

  // ---- references ----

  private def unionFind(es: Seq[Edge]): Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(v: Long): Long = {
      val p = parent.getOrElseUpdate(v, v)
      if (p == v) v else { val r = find(p); parent(v) = r; r }
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    vertices(es).map(v => v -> find(v)).toMap
  }

  /** Luby rounds: an active vertex wins when its (priority, id) is below
    * every active neighbour's; winners and their neighbours leave. */
  private def luby(es: Seq[Edge], seed: Long, maxIter: Int): Set[Long] = {
    val adj = adjacency(es)
    var active = adj.keySet
    val mis = mutable.Set.empty[Long]
    var iter = 0
    while (active.nonEmpty && iter < maxIter) {
      val key = (v: Long) => (lubyPriority(v, seed), v)
      val winners = active.filter { v =>
        adj(v).filter(active).forall(n => Ordering[(Long, Long)].lt(key(v), key(n)))
      }
      mis ++= winners
      active = active -- winners -- winners.flatMap(adj)
      iter += 1
    }
    mis.toSet
  }

  /** Both-ends nomination rounds: every vertex nominates its minimum
    * (priority, src, dst) active edge; an edge nominated by both ends is
    * matched and its ends' edges leave. Returns the matching and the
    * rounds run. */
  private def matching(es: Seq[Edge]): (Set[Edge], Int) = {
    val seed = Iterative.MatchingSeed
    def prio(e: Edge): Long = lubyPriority(Math.floorMod(e._1, P) * 100003L + e._2, seed)
    var active = upper(es)
    val matched = mutable.Set.empty[Edge]
    var iter = 0
    while (active.nonEmpty && iter < 50) {
      val key = (e: Edge) => (prio(e), e._1, e._2)
      val best = active.toSeq.flatMap(e => Seq(e._1 -> e, e._2 -> e)).groupBy(_._1)
        .map { case (v, ps) => v -> ps.map(_._2).minBy(key) }
      val now = active.filter(e => best(e._1) == e && best(e._2) == e)
      matched ++= now
      val gone = now.flatMap { case (a, b) => Seq(a, b) }
      active = active.filterNot { case (a, b) => gone(a) || gone(b) }
      iter += 1
    }
    (matched.toSet, iter)
  }

  /** Synchronous label propagation: each vertex takes its neighbours'
    * most frequent label, ties to the smallest. */
  private def labelPropagation(es: Seq[Edge], rounds: Int): Map[Long, Long] = {
    val adj = adjacency(es)
    var labels = adj.keySet.map(v => v -> v).toMap
    for (_ <- 1 to rounds) {
      labels = adj.map { case (v, ns) =>
        v -> ns.toSeq.map(labels).groupBy(identity).toSeq
          .map { case (l, ls) => (-ls.size.toLong, l) }.min._2
      }
    }
    labels
  }

  /** Synchronous k-core peeling: every round drops all vertices of
    * degree below k at once. Returns each survivor's core degree. */
  private def kCore(es: Seq[Edge], k: Int, maxIter: Int): Map[Long, Long] = {
    var g = adjacency(es)
    var iter = 0
    var changed = true
    while (changed && iter < maxIter) {
      val keep = g.filter(_._2.size >= k).keySet
      val next = g.filter { case (v, _) => keep(v) }.map { case (v, ns) => v -> ns.filter(keep) }
        .filter(_._2.nonEmpty)
      changed = next.values.map(_.size).sum != g.values.map(_.size).sum
      g = next
      iter += 1
    }
    g.map { case (v, ns) => v -> ns.size.toLong }
  }

  /** Each edge's triangle count within `es`, by brute force. */
  private def support(es: Set[Edge]): Map[Edge, Long] = {
    val vs = es.flatMap { case (a, b) => Seq(a, b) }
    es.map { case (a, b) =>
      (a, b) -> vs.count(c => c != a && c != b &&
        es((math.min(a, c), math.max(a, c))) && es((math.min(b, c), math.max(b, c)))).toLong
    }.toMap
  }

  /** Synchronous k-truss peeling; returns the survivors with their
    * support and the rounds run (the last one changes nothing). */
  private def kTruss(es: Seq[Edge], k: Int): (Map[Edge, Long], Int) = {
    var u = upper(es)
    var iter = 0
    var changed = u.nonEmpty
    while (changed && iter < 30) {
      val s = support(u)
      val next = u.filter(e => s(e) >= k - 2)
      changed = next.size != u.size
      u = next
      iter += 1
    }
    (support(u), iter)
  }

  /** Synchronous Bellman-Ford per source over directed weighted edges:
    * round r relaxes every edge from the distances of round r − 1. */
  private def bellmanFord(es: Seq[(Long, Long, Double)], sources: Seq[Long],
      maxIter: Int): Map[(Long, Long), Double] =
    sources.distinct.flatMap { s =>
      var dist = Map(s -> 0.0)
      var iter = 0
      var changed = true
      while (changed && iter < maxIter) {
        val cand = es.flatMap { case (a, b, w) => dist.get(a).map(d => b -> (d + w)) }
          .groupBy(_._1).map { case (v, cs) => v -> cs.map(_._2).min }
        val next = dist ++ cand.filter { case (v, c) => dist.get(v).forall(c < _) }
        changed = next != dist
        dist = next
        iter += 1
      }
      dist.map { case (v, d) => (s, v) -> d }
    }.toMap

  /** |N(v, r)|, self included, for every vertex with a non-loop edge. */
  private def reach(es: Seq[Edge], r: Int): Map[Long, Long] = {
    val adj = adjacency(es)
    adj.keySet.map { v =>
      var seen = Set(v)
      var frontier = Set(v)
      for (_ <- 1 to r) {
        frontier = frontier.flatMap(adj) -- seen
        seen ++= frontier
      }
      v -> seen.size.toLong
    }.toMap
  }

  // ---- the loops against the references ----

  test("ccFindStar labels every vertex with its union-find component minimum") {
    for ((name, es) <- graphs) underLayouts { parts =>
      val got = rows(Iterative.ccFindStar(edges(es: _*)))(r => r.getLong(0) -> r.getLong(1))
      assert(got == unionFind(es).toSet, s"$name at $parts partitions")
    }
  }

  test("lubyMis replays Luby rounds of lubyPriority with id tiebreaks") {
    for ((name, es) <- graphs; (seed, maxIter) <- Seq((12345L, 50), (3L, 50), (12345L, 1)))
      underLayouts { parts =>
        val got = rows(Iterative.lubyMis(edges(es: _*), seed, maxIter))(_.getLong(0))
        assert(got == luby(es, seed, maxIter), s"$name seed $seed maxIter $maxIter at $parts")
      }
  }

  test("maximalMatching replays the both-ends nomination rounds at MatchingSeed") {
    for ((name, es) <- graphs) underLayouts { parts =>
      val (m, iter) = Iterative.maximalMatchingWithRounds(edges(es: _*))
      val got = rows(m)(r => (r.getLong(0), r.getLong(1)))
      assert((got, iter) == matching(es), s"$name at $parts partitions")
    }
  }

  test("labelPropagation equals synchronous rounds with (-count, label) ties") {
    for ((name, es) <- graphs; rounds <- Seq(1, 3)) underLayouts { parts =>
      val got = rows(Iterative.labelPropagation(edges(es: _*), rounds))(
        r => r.getLong(0) -> r.getLong(1))
      assert(got == labelPropagation(es, rounds).toSet, s"$name rounds $rounds at $parts")
    }
  }

  test("kCore equals synchronous peeling, also when stopped at maxIter") {
    for ((name, es) <- graphs; (k, maxIter) <- Seq((2, 50), (3, 50), (2, 1), (3, 2)))
      underLayouts { parts =>
        val got = rows(Iterative.kCore(edges(es: _*), k, maxIter))(
          r => r.getLong(0) -> r.getLong(1))
        assert(got == kCore(es, k, maxIter).toSet, s"$name k $k maxIter $maxIter at $parts")
      }
  }

  test("kTruss equals peeling with brute-force triangle support") {
    for ((name, es) <- graphs; k <- Seq(3, 4)) underLayouts { parts =>
      val (t, iter) = Triangles.kTrussWithRounds(edges(es: _*), k)
      val got = rows(t)(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      val (want, wantIter) = kTruss(es, k)
      assert((got, iter) == (want.toSet, wantIter), s"$name k $k at $parts")
    }
  }

  test("ssspMulti equals Bellman-Ford per source, also when stopped at maxIter") {
    for ((name, es) <- graphs; maxIter <- Seq(50, 2)) underLayouts { parts =>
      val weighted = GraphOps.withWeights(edges(es: _*))
      val ws = weighted.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      // the hub, a mid vertex, the largest source id and an absent id
      val sources = Seq(0L, 3L, es.map(_._1).max, -5L)
      val got = rows(Iterative.ssspMulti(weighted, sources, maxIter))(
        r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      assert(got == bellmanFord(ws, sources, maxIter).toSet, s"$name maxIter $maxIter at $parts")
    }
  }

  test("ANF with k above the vertex count returns exact r-hop reach") {
    for ((name, es) <- graphs) underLayouts { parts =>
      val g = edges(es: _*)
      val k = vertices(es).size + 8
      val exact = (0 to 3).map(reach(es, _))
      for (r <- 1 to 3)
        assert(rows(Anf.neighborhoodEstimate(g, r, k))(x => x.getLong(0) -> x.getLong(1)) ==
          exact(r).toSet, s"$name r $r at $parts")
      assert(rows(Anf.neighborhoodProfile(g, 3, k))(x => x.getLong(0) -> x.getLong(1)) ==
        (1 to 3).map(r => r.toLong -> exact(r).values.sum).toSet, s"$name profile at $parts")
      val harmonic = rows(Anf.harmonicCentrality(g, 3, k))(x => x.getLong(0) -> x.getDouble(1))
        .toMap
      assert(harmonic.keySet == exact(1).keySet)
      harmonic.foreach { case (v, h) =>
        val want = (1 to 3).map(r => (exact(r)(v) - exact(r - 1)(v)) / r.toDouble).sum
        assert(math.abs(h - want) < 1e-6, s"$name harmonic($v) at $parts")
      }
    }
  }
}
