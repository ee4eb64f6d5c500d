package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.graph.{Anf, GraphOps, Iterative, Triangles}
import graft.gen.RMat

/** Golden-graph tests: the reference's own e2e pipelines (in.cc, in.tri,
  * in.luby, in.sssp — SURVEY.md §5.3) on hand-checkable graphs. */
class GraphSpec extends AnyFunSuite {
  import TestSession._

  // path 1-2-3 + triangle 10-11-12 + isolated pair 20-21
  private def twoComponents = edges(
    (1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 10L), (20L, 21L))

  test("edgeUpper canonicalizes, culls self-loops and duplicates") {
    val e = edges((2L, 1L), (1L, 2L), (3L, 3L), (4L, 5L))
    val u = GraphOps.edgeUpper(e).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(u == Set((1L, 2L), (4L, 5L)))
  }

  test("ccFind labels components by min vertex id") {
    val labels = Iterative.ccFind(twoComponents)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("ccFindStar agrees with ccFind on golden graphs and a long path") {
    val golden = twoComponents
    val a = Iterative.ccFind(golden).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Iterative.ccFindStar(golden).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
    // path 0-1-...-63: diameter 63, star CC must still label all 0
    val path = edges((0L until 63L).map(i => (i, i + 1)): _*)
    val labels = Iterative.ccFindStar(path).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length == 64 && labels.forall(_._2 == 0L))
  }

  test("ccFindStar agrees with ccFind on the testdata sparse graph") {
    val g = graph.GraphOps.sparseEdgesFromLineitem(spark, sf0001)
    val a = Iterative.ccFind(g)
    val b = Iterative.ccFindStar(g)
    assert(a.count() == b.count())
    assert(a.join(b.withColumnRenamed("label", "label2"), "v")
      .where(org.apache.spark.sql.functions.col("label") =!=
        org.apache.spark.sql.functions.col("label2")).count() == 0)
  }

  test("ccStats histograms component sizes") {
    val stats = Iterative.ccStats(Iterative.ccFind(twoComponents))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stats == Map(3L -> 2L, 2L -> 1L))
  }

  test("labelPropagation converges to the min label on disjoint triangles") {
    // hand-replay: r1 each vertex takes its min neighbor; r2/r3 the min
    // label floods the triangle (same for the shifted copy)
    val g = edges((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 20L), (10L, 30L), (20L, 30L))
    val lp = Iterative.labelPropagation(g, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 20L -> 10L, 30L -> 10L))
  }

  test("kCore peels a hanging path, keeps K5, reports core degrees") {
    // K5 on 0..4 (degree 4 each) + path 0-10-11-12 that must peel away
    val k5 = for (i <- 0L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val g = edges(k5 ++ Seq((0L, 10L), (10L, 11L), (11L, 12L)): _*)
    val core = Iterative.kCore(g, k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == (0L to 4L).map(_ -> 4L).toMap)
    // k above the max degree empties the graph
    assert(Iterative.kCore(g, k = 5).count() == 0L)
  }

  test("triangleCount finds all 4 triangles of K4 and none in a path") {
    val k4 = edges((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(Triangles.triangleCount(k4).head().getLong(0) == 4L)
    val path = edges((1L, 2L), (2L, 3L), (3L, 4L))
    assert(Triangles.triangleCount(path).head().getLong(0) == 0L)
  }

  /** Triangles of the simple undirected graph under `pairs`, by testing
    * every vertex triple. */
  private def bruteForceTriangles(pairs: Seq[(Long, Long)]): Long = {
    val e = pairs.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.toSet
    val vs = e.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
    (for {
      i <- vs.indices; j <- i + 1 until vs.length; k <- j + 1 until vs.length
      if e((vs(i), vs(j))) && e((vs(i), vs(k))) && e((vs(j), vs(k)))
    } yield 1L).sum
  }

  /** A seeded random multigraph on 0 until n: duplicate and reversed
    * edges, self-loops (a vertex with only a self-loop is isolated), and
    * the hub 0 joined to every other vertex. */
  private def multigraph(n: Int, seed: Int): Seq[(Long, Long)] = {
    val r = new scala.util.Random(seed)
    val random = Seq.fill(3 * n)((r.nextInt(n).toLong, r.nextInt(n).toLong))
    random ++ random.take(n).map(_.swap) ++ random.take(n / 2) ++
      Seq((n + 1L, n + 1L), (n + 2L, n + 2L)) ++ (1 until n).map(v => (0L, v.toLong))
  }

  test("triangleCount equals a driver-side brute-force count on random multigraphs") {
    for ((n, seed) <- Seq((12, 1), (40, 2), (70, 3), (70, 4))) {
      val pairs = multigraph(n, seed)
      val m = pairs.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }
        .distinct.length
      if (n >= 40) assert(n - 1 > 2 * math.sqrt(m), s"hub degree ${n - 1} vs m = $m")
      assert(Triangles.triangleCount(edges(pairs: _*)).head().getLong(0) ==
        bruteForceTriangles(pairs), s"n = $n, seed = $seed")
    }
  }

  test("neighTriEdges emits neighbor + opposite triangle edges (oink/neigh_tri.cpp semantics, K4)") {
    val k4 = edges((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val rows = Triangles.neighTriEdges(k4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 24) // 2|E| neighbor rows + 3 per triangle
    val byV = rows.groupBy(_._1)
    (1L to 4L).foreach { v =>
      val others = (1L to 4L).filter(_ != v)
      val (nbr, opp) = byV(v).partition { case (_, a, b) => a == v || b == v }
      assert(nbr.map { case (_, a, b) => (a, b) }.toSet ==
        others.map(o => (math.min(v, o), math.max(v, o))).toSet)
      assert(opp.map { case (_, a, b) => (a, b) }.toSet ==
        others.combinations(2).map { case Seq(x, y) => (x, y) }.toSet)
      assert(opp.length == 3)
    }
  }

  test("triangles emits each triangle once with correct members") {
    val g = edges((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val tris = Triangles.triangles(g).collect()
      .map(r => Set(r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(tris.toSeq == Seq(Set(1L, 2L, 3L)))
  }

  test("lubyMis returns a maximal independent set") {
    val g = twoComponents
    val mis = Iterative.lubyMis(g).collect().map(_.getLong(0)).toSet
    val adj = GraphOps.edgeUpper(g).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // independent: no edge inside the set
    assert(!adj.exists { case (a, b) => mis(a) && mis(b) })
    // maximal: every non-member has a neighbor in the set
    val vs = adj.flatMap(e => Seq(e._1, e._2)).toSet
    val nbrs = vs.map(v => v -> adj.collect {
      case (a, b) if a == v => b
      case (a, b) if b == v => a
    }.toSet).toMap
    assert((vs -- mis).forall(v => nbrs(v).exists(mis)))
  }

  test("lubyMis on the golden graph equals sequential greedy by priority") {
    val s = spark
    import s.implicits._
    val ge = graph.GraphQueries.lubyGoldenEdges
    val seed = graph.GraphQueries.lubyGoldenSeed
    val mis = Iterative.lubyMis(ge.toDF("src", "dst"), seed = seed)
      .collect().map(_.getLong(0)).toSet
    // independent replay: Luby with strictly-minimal (prio, v) winners is
    // exactly the sequential greedy MIS in (prio, v) order; priorities
    // recomputed here in plain Scala arithmetic (the portable mixer of
    // Iterative.lubyPriority), independent of the engine
    val vs = ge.flatMap(e => Seq(e._1, e._2)).distinct
    val prio = vs.map(v =>
      v -> java.lang.Math.floorMod(
        java.lang.Math.floorMod(v, 1000000007L) * 2654435761L + seed * 40503L,
        1000000007L)).toMap
    val nbrs = vs.map { v =>
      v -> ge.collect {
        case (a, b) if a == v => b
        case (a, b) if b == v => a
      }.toSet
    }.toMap
    var chosen = Set.empty[Long]
    for (v <- vs.sortBy(v => (prio(v), v)))
      if (!nbrs(v).exists(chosen)) chosen += v
    info(s"golden MIS: ${mis.toSeq.sorted.mkString(",")}")
    assert(mis == chosen)
  }

  test("pagerank golden-graph ranks are exact dyadic rationals summing to 1") {
    val s = spark
    import s.implicits._
    val pr = Iterative.pagerank(
      graph.GraphQueries.prGoldenEdges.toDF("src", "dst"),
      alpha = 0.5, tol = 0.0, maxIter = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr.size == 8)
    // total mass is conserved exactly (dyadic arithmetic, no rounding)
    assert(pr.values.sum == 1.0)
    // every rank is an exact multiple of 2^-40 (dyadic denominators only;
    // 5 iterations × ≤4 bits each + 3 starting bits stays ≤ 2^-23)
    assert(pr.values.forall(r => (r * (1L << 40)) % 1.0 == 0.0))
  }

  test("sssp computes exact shortest distances") {
    val s = spark
    import s.implicits._
    // 1→2 (1.0), 2→3 (1.0), 1→3 (5.0): best 1→3 is via 2
    val w = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (1L, 3L, 5.0), (3L, 4L, 1.0))
      .toDF("src", "dst", "w")
    val dist = Iterative.sssp(w, 1L).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(dist == Map(1L -> 0.0, 2L -> 1.0, 3L -> 2.0, 4L -> 3.0))
  }

  test("pagerank ranks sum to 1 and favor the sink hub") {
    // star into vertex 1: everyone links to 1
    val g = edges((2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L))
    val pr = Iterative.pagerank(g, maxIter = 30).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-6)
    assert(pr(1L) == pr.values.max)
  }

  test("neighTri on K4: every vertex has 3 neighbors and 3 triangles") {
    val k4 = edges((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val nt = Triangles.neighTri(k4).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(nt == Map(1L -> ((3L, 3L)), 2L -> ((3L, 3L)), 3L -> ((3L, 3L)), 4L -> ((3L, 3L))))
  }

  test("triangleCount on a star graph is zero (skew shape, no wedge blowup)") {
    val star = edges((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (1L, 6L))
    assert(Triangles.triangleCount(star).head().getLong(0) == 0L)
  }

  test("ssspMulti matches a driver-side Dijkstra per source; goodSources picks top degree") {
    val s = spark
    import s.implicits._
    // seeded random digraph on 0..29 plus 40 → 41 → 0 (40 is reached from
    // no source, 41 only from itself) and the sink 50 (3 → 50), a source
    // that reaches nothing
    val r = new scala.util.Random(17)
    val arcs = Seq.fill(90)((r.nextInt(30).toLong, r.nextInt(30).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (a, b, 1.0 + r.nextInt(100) / 100.0) } ++
      Seq((40L, 41L, 0.5), (41L, 0L, 0.25), (3L, 50L, 1.3))
    // textbook Dijkstra: a vertex's distance is its predecessor's plus
    // the arc weight, the same path-order sum Bellman-Ford forms
    def dijkstra(src: Long): Map[Long, Double] = {
      val out = arcs.groupBy(_._1)
      val dist = scala.collection.mutable.Map(src -> 0.0)
      val done = scala.collection.mutable.Set.empty[Long]
      val queue = scala.collection.mutable.PriorityQueue((0.0, src))(
        Ordering.by[(Double, Long), Double](_._1).reverse)
      while (queue.nonEmpty) {
        val (d, u) = queue.dequeue()
        if (done.add(u)) out.getOrElse(u, Nil).foreach { case (_, v, w) =>
          if (dist.get(v).forall(d + w < _)) { dist(v) = d + w; queue.enqueue((d + w, v)) }
        }
      }
      dist.toMap
    }
    val sources = Seq(0L, 17L, 50L, 41L)
    val got = Iterative.ssspMulti(arcs.toDF("src", "dst", "w"), sources).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val want = sources.flatMap(src => dijkstra(src).map { case (v, d) => (src, v) -> d }).toMap
    assert(got == want)
    assert(!got.contains((0L, 40L)) && !got.contains((0L, 41L)))
    assert(got.keySet.filter(_._1 == 50L) == Set((50L, 50L)))
    // out-degree: 1→{2,3}, 2→{3}, 3→{4}, 5→{6}; top-2 = 1, then min-id of
    // the degree-1 tie group
    val w = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (1L, 3L, 5.0), (3L, 4L, 1.0),
      (5L, 6L, 2.0)).toDF("src", "dst", "w")
    assert(Iterative.goodSources(w, 2) == Seq(1L, 2L))
  }

  test("sssp omits unreachable vertices") {
    val s = spark
    import s.implicits._
    val w = Seq((1L, 2L, 1.0), (3L, 4L, 1.0)).toDF("src", "dst", "w")
    val dist = Iterative.sssp(w, 1L).collect().map(_.getLong(0)).toSet
    assert(dist == Set(1L, 2L))
  }

  test("rmat quadrant probabilities shape the distribution") {
    // heavy 'a' quadrant → edges concentrate at low vertex ids
    val p = RMat.Params(8, 4, 0.7, 0.1, 0.1, 0.1, 0.0, 11L)
    val g = RMat.generate(spark, p, numTasks = 4)
    val half = (1L << 8) / 2
    val lowLow = g.where(col("src") < half && col("dst") < half).count()
    assert(lowLow.toDouble / g.count() > 0.4, s"lowLow fraction ${lowLow.toDouble / g.count()}")
  }

  test("rmat generates the exact unique-edge count, deterministically") {
    val p = RMat.Params(6, 4, 0.45, 0.25, 0.15, 0.15, 0.0, 7L)
    val g1 = RMat.generate(spark, p, numTasks = 4)
    val n = 4L * (1L << 6)
    assert(g1.count() == n)
    val g2 = RMat.generate(spark, p, numTasks = 4)
    assert(g1.except(g2).count() == 0 && g2.except(g1).count() == 0)
    val maxV = g1.agg(greatest(max(col("src")), max(col("dst")))).head().getLong(0)
    assert(maxV < (1L << 6))
  }

  test("rmat degree histogram mass equals the edge count (pin invariant)") {
    // independent check behind the q_rmat_degree_stats VALUES pin:
    // out-degrees must sum to exactly nnonzero * 2^nlevels edges
    val p = RMat.Params(10, 8, 0.45, 0.25, 0.15, 0.15, 0.0, 42L)
    val stats = RMat.degreeStats(RMat.generate(spark, p, numTasks = 16))
    val mass = stats.agg(sum(col("degree") * col("n_vertices"))).head().getLong(0)
    assert(mass == 8L * (1L << 10))
  }

  /** Runs `body` under each spark.sql.shuffle.partitions in {1, 3, 8}. */
  private def underLayouts[T](body: => T): Seq[T] = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    try Seq(1, 3, 8).map { n => spark.conf.set(key, n.toString); body }
    finally spark.conf.set(key, prev)
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
    val out = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.core.Checkpoints.release(df)
    out
  }

  test("rmat, ccFind and pagerank do not depend on the partition layout") {
    val p = RMat.Params(9, 4, 0.57, 0.19, 0.19, 0.05, 0.0, 3L)
    val gens = underLayouts(pairs(RMat.generate(spark, p, numTasks = 8)))
    assert(gens.forall(_ == gens.head) && gens.head.size == 4 * (1 << 9))
    // one fixed input for the graph loops; twoComponents adds a path and
    // a triangle apart from the R-MAT graph
    val g = edges(gens.head.toSeq.map { case (a, b) => (a + 1000L, b + 1000L) } ++
      Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 10L), (20L, 21L)): _*)
    val ccs = underLayouts(pairs(Iterative.ccFind(g)))
    assert(ccs.forall(_ == ccs.head))
    assert(ccs.head.filter(_._1 < 1000L) == Set((1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L), (12L, 10L), (20L, 20L), (21L, 20L)))
    // the job count is the round count plus a constant, so equal job
    // counts mean the tol-mode loop stopped after the same round
    def sameRanks(name: String)(call: => org.apache.spark.sql.DataFrame): Unit = {
      val runs = underLayouts {
        val (pr, jobs) = SparkJobs.count(call)
        val ranks = pr.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        graft.core.Checkpoints.release(pr)
        (ranks, jobs)
      }
      runs.foreach { case (ranks, jobs) =>
        assert(jobs == runs.head._2, s"$name jobs per layout: ${runs.map(_._2)}")
        assert(ranks.keySet == runs.head._1.keySet)
        ranks.foreach { case (v, r) => assert(math.abs(r - runs.head._1(v)) < 1e-12) }
      }
    }
    val tris = underLayouts(Triangles.triangleCount(g).head().getLong(0))
    assert(tris.forall(_ == tris.head))
    val hubbed = multigraph(70, 5)
    val hubTris = underLayouts(Triangles.triangleCount(edges(hubbed: _*)).head().getLong(0))
    assert(hubTris.forall(_ == bruteForceTriangles(hubbed)), s"per layout: $hubTris")
    sameRanks("pagerank")(Iterative.pagerank(g, tol = 1e-6))
    // sources in the small components and in the R-MAT part
    sameRanks("personalizedPagerank")(
      Iterative.personalizedPagerank(g, Seq(1L, 12L, gens.head.head._1 + 1000L)))
  }

  test("rmat, ccFind and pagerank leave no persisted RDD behind") {
    val sc = spark.sparkContext
    def leftover(before: Set[Int]): Set[Int] = sc.getPersistentRDDs.keySet.toSet -- before
    def check(name: String)(call: => org.apache.spark.sql.DataFrame): Unit = {
      val before = sc.getPersistentRDDs.keySet.toSet
      graft.core.Checkpoints.release(call)
      assert(leftover(before).isEmpty, s"$name left RDDs ${leftover(before)} persisted")
    }
    val path = edges((0L until 15L).map(i => (i, i + 1)): _*)
    val star = edges((2L, 1L), (3L, 1L), (4L, 1L), (1L, 5L))
    val p = RMat.Params(7, 4, 0.57, 0.19, 0.19, 0.05, 0.0, 9L)
    check("ccFind")(Iterative.ccFind(path))
    check("ccFind at maxIter")(Iterative.ccFind(path, maxIter = 3))
    check("pagerank")(Iterative.pagerank(star))
    check("pagerank at maxIter")(Iterative.pagerank(star, tol = 1e-300, maxIter = 3))
    check("pagerank fixed rounds")(Iterative.pagerank(star, tol = 0.0, maxIter = 3))
    check("personalizedPagerank")(Iterative.personalizedPagerank(star, Seq(2L, 5L)))
    check("personalizedPagerank fixed rounds")(
      Iterative.personalizedPagerank(star, Seq(2L), tol = 0.0, maxIter = 3))
    check("rmat")(RMat.generate(spark, p, numTasks = 4))
    check("triangleCount")(Triangles.triangleCount(star))
    val before = sc.getPersistentRDDs.keySet.toSet
    // an edge frame that fails inside the first job of each loop
    val failing = path.select(
      when(col("src") === 7L, raise_error(lit("edge 7 fails"))).otherwise(col("src")).as("src"),
      col("dst"))
    Seq[(String, () => Any)](
      "ccFind" -> (() => Iterative.ccFind(failing)),
      "pagerank" -> (() => Iterative.pagerank(failing)),
      "triangleCount" -> (() => Triangles.triangleCount(failing))).foreach { case (name, call) =>
      val e = intercept[Exception](call())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("edge 7 fails")), e)
      assert(leftover(before).isEmpty, s"failed $name left RDDs ${leftover(before)} persisted")
    }
    intercept[IllegalArgumentException](RMat.generate(spark, p, numTasks = 4, maxRounds = 1))
    assert(leftover(before).isEmpty, s"failed rmat left RDDs ${leftover(before)} persisted")
    intercept[IllegalArgumentException](Iterative.personalizedPagerank(star, Seq(2L, 99L)))
    assert(leftover(before).isEmpty,
      s"personalizedPagerank with a missing source left RDDs ${leftover(before)} persisted")
  }

  test("ANF with an ample sketch returns exact r-hop reach sizes") {
    // path 1-2-3-4 plus isolated edge 10-11; below k the KMV sketch
    // degenerates to the exact distinct count, so every vertex must
    // report its true |N(v, r)| (self included)
    val g = edges((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
    def reach(r: Int) = Anf.neighborhoodEstimate(g, rounds = r, k = 32)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(reach(1) == Map(1L -> 2L, 2L -> 3L, 3L -> 3L, 4L -> 2L,
      10L -> 2L, 11L -> 2L))
    assert(reach(2) == Map(1L -> 3L, 2L -> 4L, 3L -> 4L, 4L -> 3L,
      10L -> 2L, 11L -> 2L))
    assert(reach(3) == Map(1L -> 4L, 2L -> 4L, 3L -> 4L, 4L -> 4L,
      10L -> 2L, 11L -> 2L))
  }

  test("clustering coefficient: triangle corners 1.0, wedge center binds") {
    // triangle 1-2-3 plus pendant 4 on vertex 1: cc(1) = 2·1/(3·2) = 1/3,
    // cc(2) = cc(3) = 1.0, cc(4) = 0 (degree 1)
    val e = edges((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L))
    val got = graft.graph.Triangles.clusteringCoefficient(e)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(got == Map(1L -> (3L, 0.333333), 2L -> (2L, 1.0),
      3L -> (2L, 1.0), 4L -> (1L, 0.0)))
  }

  test("maximal matching: a valid matching, maximal, greedy-deterministic") {
    import graft.graph.{GraphOps, Iterative}
    val g = twoComponents
    val matched = Iterative.maximalMatching(g)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val u = GraphOps.edgeUpper(g).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(matched.subsetOf(u))
    // a MATCHING: no vertex appears twice
    val mv = matched.toSeq.flatMap { case (a, b) => Seq(a, b) }
    assert(mv.distinct.size == mv.size)
    // MAXIMAL: every unmatched edge touches a matched vertex
    val mvSet = mv.toSet
    assert((u -- matched).forall { case (a, b) => mvSet(a) || mvSet(b) })
    // the isolated pair must always match; components of 3 contribute 1
    assert(matched((20L, 21L)))
    assert(matched.size == 3)
  }

  test("link prediction: 1/ln(deg) over common neighbors, hub cap drops") {
    import graft.graph.GraphOps
    // path 1-2-3 (+ star 10-{11,12,13}): (1,3) scores 1/ln(2); the star
    // leaves pair via its deg-3 center at 1/ln(3); existing edges absent
    val g = edges((1L, 2L), (2L, 3L),
      (10L, 11L), (10L, 12L), (10L, 13L))
    val got = GraphOps.linkPrediction(g, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got == Map(
      (1L, 3L) -> (1L, 1.442695),
      (11L, 12L) -> (1L, 0.910239),
      (11L, 13L) -> (1L, 0.910239),
      (12L, 13L) -> (1L, 0.910239)))
    // capping centers at degree 2 removes the star's candidates
    val capped = GraphOps.linkPrediction(g, topK = 10, maxDegree = Some(2L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 3L)))
  }

  test("k-truss peels under-supported edges; K4 survives k=4") {
    import graft.graph.Triangles
    // triangle 1-2-3 + pendant edge 3-4 + dangling path 4-5
    val g = edges((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
    val t3 = Triangles.kTruss(g, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(t3 == Map((1L, 2L) -> 1L, (2L, 3L) -> 1L, (1L, 3L) -> 1L))
    // K4: every edge in 2 triangles -> the whole graph IS a 4-truss;
    // bolting on triangle {4,5,6} (support 1 each) peels it back off
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val t4 = Triangles.kTruss(edges(k4 ++ Seq((4L, 5L), (5L, 6L), (4L, 6L)): _*),
      k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(t4 == k4.map(_ -> 2L).toMap)
  }

  test("personalized pagerank: golden path graph; S=V degenerates to pagerank") {
    import graft.graph.Iterative
    // A(1)→B(2), S={A}, α=0.5: after iter1 (0.5, 0.5); iter2: B's mass
    // is dangling and returns to A → A = 0.5 + 0.5·0.5 = 0.75, B = 0.25
    val e = edges((1L, 2L))
    val got = Iterative.personalizedPagerank(e, Seq(1L), alpha = 0.5,
      tol = 0.0, maxIter = 2).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 0.75, 2L -> 0.25))
    // with S = every vertex the PPR formula IS pagerank (associativity
    // differs, so compare at 1e-12, not bitwise)
    val g = twoComponents
    val ppr = Iterative.personalizedPagerank(g,
      Seq(1L, 2L, 3L, 10L, 11L, 12L, 20L, 21L), alpha = 0.85, tol = 0.0, maxIter = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pr = Iterative.pagerank(g, alpha = 0.85, tol = 0.0, maxIter = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ppr.keySet == pr.keySet)
    ppr.foreach { case (v, r) => assert(math.abs(r - pr(v)) < 1e-12) }
    // a source that is not a vertex must be rejected, not silently leak mass
    intercept[IllegalArgumentException] {
      Iterative.personalizedPagerank(e, Seq(99L))
    }
  }

  test("assortativity: star is -1, regular graph is null") {
    val star = edges((0L, 1L), (0L, 2L), (0L, 3L))
    val r = graft.graph.GraphOps.degreeAssortativity(star).collect()(0)
    assert(r.getLong(0) == 6L && r.getDouble(1) == -1.0)
    // triangle: every vertex degree 2 -> zero variance -> undefined
    val tri = edges((1L, 2L), (2L, 3L), (3L, 1L))
    assert(graft.graph.GraphOps.degreeAssortativity(tri).collect()(0).isNullAt(1))
  }
}
