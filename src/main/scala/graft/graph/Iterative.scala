package graft.graph

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.core.Rounds

/** Iterative graph algorithms of the OINK command library (SURVEY.md §2.4):
  * connected components (`oink/cc_find.cpp`), Luby maximal independent set
  * (`oink/luby_find.cpp`), single-source shortest paths (`oink/sssp.cpp`),
  * and PageRank (completing the reference's stub `oink/pagerank.cpp:52-64`
  * against its documented spec `oinkdoc/pagerank.txt`).
  *
  * Shared iteration discipline (SURVEY.md §7.4.2). [[ccFind]],
  * [[pagerank]] and [[personalizedPagerank]] (like
  * `graft.gen.RMat.generate` and `Triangles.triangleCount`) run
  * Pregel-style rounds on [[graft.core.Rounds]]: the loop-invariant
  * adjacency is built once as one [[Csr]] block per partition, from edge
  * pairs routed there in blocks, together with the routes of its message
  * blocks; the per-round state lives in primitive arrays aligned to it.
  * Each round, every partition sends each other partition one block of
  * primitive arrays — labels min-combined, contributions summed per
  * neighbour — that the receiver folds in sender order straight into its
  * arrays, and ONE Spark job (`runJob`) returns the per-partition
  * summaries — the changed-label count, Σcontrib and Σ|Δrank| — that
  * decide convergence on the driver (the analog of the reference's
  * terminal `MPI_Allreduce` flag, `oink/cc_find.cpp:84-86`). They return
  * a `localCheckpoint()`ed frame and unpersist every round's RDDs on all
  * exit paths.
  *
  * The other loops here ([[ccFindStar]], [[lubyMis]], [[ssspMulti]],
  * [[kCore]], ...) still plan a DataFrame per round: every round ends in
  * `localCheckpoint()` to cut lineage (the analog of the reference's
  * in-place KV replacement), convergence is a driver-side count, and
  * loop-invariant inputs are partitioned by their join key once and
  * persisted (`oink/sssp.cpp:75-76` idiom).
  */
object Iterative {

  /** Symmetric adjacency (v, nbr), self-loops dropped, deduped. */
  private def symmetric(edges: DataFrame): DataFrame = {
    val u = GraphOps.edgeUpper(edges)
    u.select(col("src").as("v"), col("dst").as("nbr"))
      .union(u.select(col("dst").as("v"), col("src").as("nbr")))
  }

  /** cc_find (`oink/cc_find.cpp:38-109`): connected components by min-label
    * propagation to fixpoint; label = min vertex id in the component
    * (matches `oinkdoc/cc_find.txt`). Returns (v, label).
    *
    * The reference's nthresh zone-splitting handles skew in its giant-zone
    * groupBy; here the per-round aggregation is a plain `min`, which each
    * sender combines per neighbour before the exchange, so a giant
    * component never concentrates on one task — the skew the reference
    * had to hand-salt doesn't arise.
    */
  def ccFind(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val rounds = new Rounds(edges.sparkSession, "ccFind")
    try {
      val parts = rounds.parts
      var state = rounds.init(Csr.edgePairs(edges))(Csr.route(parts, directed = false)) {
        (_, pairs) =>
          val adj = Csr(parts, pairs)
          new CcBlock(adj, adj.vs.clone(), Array.fill(adj.size)(true))
      }
      // frontier propagation: only vertices whose label just improved can
      // improve a neighbor, so a round messages from the CHANGED vertices
      // only — after the first rounds the frontier is the boundary of the
      // still-merging components, a vanishing fraction of the graph. The
      // changed count doubles as the convergence signal.
      var changedN = 1L
      var iter = 0
      while (changedN > 0 && iter < maxIter) {
        val (next, changed) = rounds.step(state)(ccMessages)(ccUpdate)(
          _.changed.count(identity).toLong)
        state = next
        changedN = changed.sum
        iter += 1
      }
      rounds.frame(state, CcSchema)(b =>
        Iterator.range(0, b.adj.size).map(i => Row(b.adj.vs(i), b.label(i))))
    } finally rounds.close()
  }

  /** A [[ccFind]] state block: each vertex's label and whether the last
    * round lowered it. */
  private final class CcBlock(val adj: Csr, val label: Array[Long],
      val changed: Array[Boolean]) extends Serializable

  /** The changed labels, min-combined per neighbour: for each receiving
    * partition, the block entries (see [[Csr]]) and their labels. */
  private def ccMessages(b: CcBlock): Iterator[(Int, (Array[Int], Array[Long]))] = {
    val a = b.adj
    val min = new Array[Array[Long]](a.parts)
    var i = 0
    while (i < a.size) {
      if (b.changed(i)) {
        var j = a.off(i)
        while (j < a.off(i + 1)) {
          val q = a.to(j)
          if (min(q) == null) min(q) = Array.fill(a.width(q))(Long.MaxValue)
          if (b.label(i) < min(q)(a.at(j))) min(q)(a.at(j)) = b.label(i)
          j += 1
        }
      }
      i += 1
    }
    Iterator.range(0, a.parts).filter(min(_) != null).map { q =>
      val at = min(q).indices.filter(min(q)(_) != Long.MaxValue).toArray
      (q, (at, at.map(min(q))))
    }
  }

  private def ccUpdate(b: CcBlock,
      blocks: Iterator[(Int, (Array[Int], Array[Long]))]): CcBlock = {
    val label = b.label.clone()
    val changed = new Array[Boolean](label.length)
    blocks.foreach { case (q, (at, m)) =>
      val slots = b.adj.from(q)
      var k = 0
      while (k < at.length) {
        val i = slots(at(k))
        if (m(k) < label(i)) { label(i) = m(k); changed(i) = true }
        k += 1
      }
    }
    new CcBlock(b.adj, label, changed)
  }

  private val CcSchema = StructType(Seq(
    StructField("v", LongType, nullable = false),
    StructField("label", LongType, nullable = false)))

  /** Connected components via alternating large-star / small-star edge
    * rewrites — O(log n) rounds regardless of graph diameter, versus
    * O(diameter) for [[ccFind]]'s label propagation. The scale path for
    * high-diameter graphs (chains, meshes); same output contract as
    * ccFind: (v, label) with label = min vertex id of the component.
    *
    * Each round: large-star hangs every neighbor larger than u off the
    * minimum of u's neighborhood; small-star re-hangs the smaller
    * neighbors. At fixpoint every component is a star rooted at its
    * minimum vertex.
    */
  def ccFindStar(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val vertices = GraphOps.vertexExtract(edges).persist(StorageLevel.MEMORY_AND_DISK)
    // canonical orientation big→small, matching the per-round output so
    // the convergence set-difference compares like with like
    var e = GraphOps.edgeUpper(edges)
      .select(col("dst").as("u"), col("src").as("v"))
      .localCheckpoint()
    var eCount = -1L
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // large-star: over symmetric neighborhoods, attach big neighbors to
      // the neighborhood minimum
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      // no distinct here: sym is a distinct set and mins is 1-row-per-u,
      // so duplicates arise only when two neighborhoods share a minimum —
      // bounded volume the small-star groupBy and the final distinct
      // absorb anyway, whereas the distinct was a full extra shuffle
      // every round
      val large = sym.join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
      // small-star: orient edges large→small, re-hang small neighbors on
      // the minimum (plus the center itself)
      val down = large
        .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val smallMins = down.groupBy(col("u")).agg(min(col("v")).as("m"))
      val rehung = down.join(smallMins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(down.join(smallMins, "u").select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("nu"), greatest(col("u"), col("v")).as("nv"))
        .select(col("nv").as("u"), col("nu").as("v"))
        .distinct()
        .localCheckpoint(eager = false) // the count below materializes
      // convergence: both sides are distinct canonical edge sets, so
      // unequal COUNTS prove the sets differ — a scan-only job on the
      // fresh checkpoint, no join. Only when counts match (typically the
      // final round, and rarely a mid-run coincidence) is the exact
      // symmetric difference computed, as one full-outer join with
      // null-side markers. Saves the per-round diff-join shuffle for
      // every converging round.
      val rehungCount = rehung.count()
      changed =
        if (rehungCount != eCount) 1L
        else rehung.withColumn("l", lit(1))
          .join(e.withColumn("r", lit(1)), Seq("u", "v"), "full")
          .where(col("l").isNull || col("r").isNull)
          .count()
      eCount = rehungCount
      graft.core.Checkpoints.release(e) // after the diff-join consumed it
      e = rehung
      iter += 1
    }
    // at fixpoint components are stars rooted at their minimum: each
    // non-root points at the root; roots label themselves
    val labels = e.select(col("u").as("v"), col("v").as("label"))
    val out = vertices.join(labels, Seq("v"), "left")
      .select(col("v"), coalesce(col("label"), col("v")).as("label"))
      .localCheckpoint()
    vertices.unpersist()
    graft.core.Checkpoints.release(e) // final star set folded into out
    out
  }

  /** cc_stats (`oink/cc_stats.cpp:47-56`): #components per size. */
  def ccStats(labels: DataFrame): DataFrame =
    labels.groupBy(col("label")).agg(count(lit(1)).as("csize"))
      .groupBy(col("csize")).agg(count(lit(1)).as("n_components"))

  /** Per-vertex Luby priority: portable integer mixer (multiply + offset,
    * mod a large prime — the [[graft.llm.Sampling.bucket]] family), NOT an
    * engine hash builtin, so any engine — including the DuckDB oracle —
    * replays the priorities and therefore the exact MIS. Values stay
    * below 2^62 for ANY long vertex id — the id is reduced mod 1e9+7
    * before the multiply (ANSI mode throws on the unbounded product; see
    * Sampling.bucket), with identical priorities for ids below 1e9+7.
    * Ties (possible since the range is finite) are broken by vertex id
    * in the winner rule, identically on every engine. */
  def lubyPriority(v: org.apache.spark.sql.Column, seed: Long): org.apache.spark.sql.Column =
    pmod(pmod(v, lit(1000000007L)) * lit(2654435761L) + lit(seed * 40503L),
      lit(1000000007L))

  /** Greedy distributed maximal matching (the Israeli–Itai shape,
    * deterministic): per round every vertex nominates its minimum
    * (priority, src, dst) incident active edge; an edge nominated by
    * BOTH endpoints joins the matching and its endpoints deactivate.
    * Edge priorities come from the replayable [[lubyPriority]] mixer
    * over a src/dst fold, so rounds unroll identically on the oracle.
    * The globally minimal active edge always matches, so every round
    * strictly shrinks the active set (converges, typically in
    * O(log n) rounds); matching growth is monotone, so an oracle
    * unrolling ≥ the convergence depth lands on the identical set.
    * Returns the matched edges (src, dst).
    *
    * Scale: per round one explode + min aggregate (map-side partials)
    * and two vertex-keyed equi-joins; the active edge frame shrinks
    * monotonically and is checkpointed lazily (the convergence count
    * materializes it). */
  def maximalMatching(edges: DataFrame, seed: Long = 7L,
      maxIter: Int = 50): DataFrame =
    maximalMatchingWithRounds(edges, seed, maxIter)._1

  /** [[maximalMatching]] plus the CONVERGED round count — the q_matching
    * oracle unrolls a fixed number of nomination rounds, and convergence
    * depth grows with graph size (O(log n)), so the registered query
    * asserts rounds ≤ the unrolled constant for a clear margin-breach
    * message instead of an opaque hash diff (r10 ADVICE). */
  def maximalMatchingWithRounds(edges: DataFrame, seed: Long = 7L,
      maxIter: Int = 50): (DataFrame, Int) = {
    val eprio = lubyPriority(
      pmod(col("src"), lit(1000000007L)) * lit(100003L) + col("dst"), seed)
    var u = GraphOps.edgeUpper(edges).withColumn("prio", eprio)
      .localCheckpoint()
    val rounds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var m = u.count()
    var iter = 0
    val empty = u.select(col("src"), col("dst")).limit(0).localCheckpoint()
    while (m > 0 && iter < maxIter) {
      val e = struct(col("prio"), col("src"), col("dst"))
      val best = u
        .select(explode(array(col("src"), col("dst"))).as("v"), e.as("e"))
        .groupBy(col("v")).agg(min(col("e")).as("b"))
      val matched = u
        .join(best.select(col("v").as("src"), col("b").as("bs")), "src")
        .join(best.select(col("v").as("dst"), col("b").as("bd")), "dst")
        .where(e === col("bs") && e === col("bd"))
        .select(col("src"), col("dst"))
        .localCheckpoint()
      rounds += matched
      val mv = matched
        .select(explode(array(col("src"), col("dst"))).as("v")).distinct()
      val u2 = u
        .join(mv.select(col("v").as("src")), Seq("src"), "left_anti")
        .join(mv.select(col("v").as("dst")), Seq("dst"), "left_anti")
        .select(col("src"), col("dst"), col("prio"))
        .localCheckpoint(eager = false) // the count below materializes
      m = u2.count()
      graft.core.Checkpoints.release(u)
      u = u2
      iter += 1
    }
    graft.core.Checkpoints.release(u)
    ((empty +: rounds.toSeq).reduce(_ unionByName _), iter)
  }

  /** luby_find (`oink/luby_find.cpp:60-90`): maximal independent set.
    * The reference draws per-vertex random priorities from a seeded RNG
    * (`oink/cc_find.cpp:45-46` pattern); we use the replayable
    * [[lubyPriority]] mixer — same role, deterministic on any cluster
    * layout AND on the oracle engine. Returns (v) ∈ MIS. */
  def lubyMis(edges: DataFrame, seed: Long = 12345L, maxIter: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    // the adjacency never changes — checkpoint ONCE; each round filters
    // it against the shrinking active set at use time (the nbr-side prio
    // join only keeps active neighbors, and inactive centers fall out of
    // the left join from `active`). Round 4 change: the previous version
    // re-checkpointed a shrinking adj copy every round — one more
    // materialization per round for no change in the winner rule.
    val adj = symmetric(edges).localCheckpoint()
    var active = adj.select(col("v")).distinct()
      .withColumn("prio", lubyPriority(col("v"), seed))
      .localCheckpoint()
    // winners per round are each checkpointed; the MIS union is assembled
    // once at the end instead of re-checkpointing an ever-growing
    // accumulator every round (one fewer job per round, same result)
    val rounds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var activeN = active.count()
    var iter = 0
    while (activeN > 0 && iter < maxIter) {
      // winner: priority strictly below every active neighbor's
      val nbrPrio = adj
        .join(active.select(col("v").as("nbr"), col("prio").as("nprio")), "nbr")
        .groupBy(col("v")).agg(min(struct(col("nprio"), col("nbr"))).as("minNbr"))
      val winners = active.join(nbrPrio, Seq("v"), "left")
        .where(col("minNbr").isNull ||
          struct(col("prio"), col("v")) < col("minNbr"))
        .select(col("v"))
        .localCheckpoint()
      rounds += winners
      // remove winners and their neighborhoods (inactive neighbors are
      // harmless in `removed` — the anti-join ignores them)
      val removed = winners
        .union(adj.join(winners, "v").select(col("nbr").as("v")))
        .distinct()
      val nextActive = active.join(removed, Seq("v"), "left_anti")
        .localCheckpoint(eager = false) // the count below materializes
      activeN = nextActive.count()
      graft.core.Checkpoints.release(active) // winners are separately checkpointed
      active = nextActive
      iter += 1
    }
    val out = rounds.reduceOption(_ union _).getOrElse(
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        active.select("v").schema))
    graft.core.Checkpoints.release(active, adj)
    out
  }

  /** Label propagation communities: every vertex starts as its own label
    * and each synchronous round adopts the most frequent label among its
    * neighbors (tie → smallest label). FIXED round count — LPA has no
    * convergence guarantee (synchronous updates can 2-cycle), so a fixed
    * budget is the honest spec AND what lets the oracle unroll the exact
    * rounds. Deterministic end to end. Per round: one adjacency join +
    * two partial-aggregated shuffles ((v, label) counts, then argmax per
    * v via min(struct(-cnt, label)) — never a per-vertex collect). */
  def labelPropagation(edges: DataFrame, rounds: Int = 3): DataFrame = {
    val adj = symmetric(edges)
      .repartition(col("nbr"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = adj.select(col("v")).distinct()
      .withColumn("label", col("v"))
      .localCheckpoint()
    var i = 0
    while (i < rounds) {
      val next = adj
        .join(labels.select(col("v").as("nbr"), col("label")), "nbr")
        .groupBy(col("v"), col("label")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("v"))
        .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l"))).as("m"))
        .select(col("v"), col("m.l").as("label"))
        .localCheckpoint()
      graft.core.Checkpoints.release(labels)
      labels = next
      i += 1
    }
    adj.unpersist()
    labels
  }

  /** k-core: iteratively peel vertices of (undirected) degree < k until
    * fixpoint; returns each surviving vertex with its degree inside the
    * core subgraph. The natural companion of the degree/degree_stats
    * commands (`oink/degree.cpp`) for graph cleaning. Round discipline
    * matches ccFindStar: checkpoint per round, edge-count convergence
    * (peeling only shrinks, so equal counts == fixpoint — and extra
    * rounds at fixpoint are no-ops, which is what lets the oracle unroll
    * a fixed round budget). Per round: one degree aggregation + two
    * semi-join-shaped filters, all partial-aggregated and skew-free. */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 50): DataFrame = {
    var g = symmetric(edges).localCheckpoint()
    var m = g.count()
    var changed = true
    var iter = 0
    while (changed && iter < maxIter) {
      val keep = g.groupBy(col("v")).agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k).select(col("v"))
      val g2 = g.join(keep, "v")
        .join(keep.withColumnRenamed("v", "nbr"), "nbr")
        .select(col("v"), col("nbr"))
        .localCheckpoint(eager = false) // the count below materializes
      val m2 = g2.count()
      changed = m2 != m
      graft.core.Checkpoints.release(g)
      g = g2; m = m2
      iter += 1
    }
    g.groupBy(col("v")).agg(count(lit(1)).as("deg"))
  }

  /** sssp (`oink/sssp.cpp:49-160`): Bellman-Ford frontier relaxation from
    * one source over weighted directed edges (src, dst, w) — [[ssspMulti]]
    * with a single source. Returns (v, dist). */
  def sssp(weighted: DataFrame, source: Long, maxIter: Int = 50): DataFrame =
    ssspMulti(weighted, Seq(source), maxIter).select("v", "dist")

  /** Deterministic good-source selection (`oink/sssp.cpp:363-375`): the
    * reference's get_good_sources takes the FIRST ncnt vertices with
    * non-zero degree — an MPI-arrival-order accident; the deterministic,
    * any-engine-replayable analog is the n best-connected vertices:
    * top-n by out-degree of the (directed) edge set, min-id tiebreak.
    * Lowers to TakeOrderedAndProject — no global sort at any scale. */
  def goodSources(edges: DataFrame, n: Int): Seq[Long] =
    edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("src").asc)
      .limit(n).collect().map(_.getLong(0)).toSeq

  /** Multi-source sssp (`oink/sssp.cpp:88-160`: the reference loops ncnt
    * sources SEQUENTIALLY, re-scanning its aggregated edge list per
    * source). Here all sources advance in ONE Bellman-Ford whose state is
    * keyed (source, v): every round's edge join and shuffle is shared by
    * every source, and the round count is the MAXIMUM eccentricity over
    * sources instead of their SUM — at N sources this is ~N× fewer jobs
    * and shuffles than the reference's loop for the same answer (each
    * source's recurrence is untouched by the others, so a source's
    * distances do not depend on which sources run beside it). Edges are
    * partitioned by src once and persisted across all rounds. Returns
    * (source, v, dist). */
  def ssspMulti(weighted: DataFrame, sources: Seq[Long], maxIter: Int = 50): DataFrame = {
    require(sources.nonEmpty, "ssspMulti needs at least one source")
    val spark = weighted.sparkSession
    import spark.implicits._
    val edges = weighted.repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var dist = sources.map(s => (s, s, 0.0)).toDF("source", "v", "dist")
      .localCheckpoint()
    var frontier = dist
    var frontierN = frontier.count()
    var iter = 0
    while (frontierN > 0 && iter < maxIter) {
      val relaxed = frontier
        .join(edges, frontier("v") === edges("src"))
        .select(col("source"), col("dst").as("v"),
          (col("dist") + col("w")).as("cand"))
        .groupBy(col("source"), col("v")).agg(min(col("cand")).as("cand"))
      val merged = dist.join(relaxed, Seq("source", "v"), "full")
        .select(col("source"), col("v"), col("dist"), col("cand"),
          least(coalesce(col("dist"), lit(Double.MaxValue)), col("cand")).as("newDist"))
        .localCheckpoint(eager = false) // the frontier count materializes
      frontier = merged
        .where(col("dist").isNull || (col("cand").isNotNull && col("cand") < col("dist")))
        .select(col("source"), col("v"), col("newDist").as("dist"))
      frontierN = frontier.count()
      graft.core.Checkpoints.release(dist)
      dist = merged
        .select(col("source"), col("v"), coalesce(col("newDist"), col("dist")).as("dist"))
      iter += 1
    }
    edges.unpersist()
    dist
  }

  /** pagerank — the reference parses args and extracts vertices but left the
    * iteration empty (`oink/pagerank.cpp:54-56`); implemented per its doc
    * (`oinkdoc/pagerank.txt`): damped SpMV with 1/out-degree edge weights
    * (degree_weight prep), dangling-mass redistribution, stop when
    * Σ|Δrank| < tol or Nmax. With tol <= 0 the convergence check is skipped
    * entirely (exactly maxIter rounds) — the fixed-iteration mode the
    * oracle harness replays. Returns (v, rank). */
  def pagerank(edges: DataFrame, alpha: Double = 0.85, tol: Double = 1e-6,
      maxIter: Int = 20): DataFrame = rankRounds(edges, None, alpha, tol, maxIter)

  /** Personalized PageRank: teleport (and dangling) mass returns to the
    * SOURCE set S only — rank(v) = 1[v∈S]·((1−α)/|S| + α·dangling/|S|)
    * + α·contrib(v), starting from 1/|S| on S — the "importance relative
    * to these seeds" readout (recommendation, local community scoring).
    * Same rounds, stopping rule and defaults as [[pagerank]]; tol <= 0 runs
    * exactly maxIter rounds, the chain the q_ppr oracle unrolls. The
    * dangling mass is 1 − Σcontrib, valid because PPR conserves total mass
    * when every source is a graph vertex — checked in the job that counts
    * the vertices. */
  def personalizedPagerank(edges: DataFrame, sources: Seq[Long],
      alpha: Double = 0.85, tol: Double = 1e-6, maxIter: Int = 20): DataFrame = {
    require(sources.nonEmpty && sources.distinct.size == sources.size,
      "sources must be non-empty and distinct")
    rankRounds(edges, Some(sources.toArray.sorted), alpha, tol, maxIter)
  }

  /** The rounds of [[pagerank]] (no `sources`) and [[personalizedPagerank]]
    * (the sorted source set). */
  private def rankRounds(edges: DataFrame, sources: Option[Array[Long]],
      alpha: Double, tol: Double, maxIter: Int): DataFrame = {
    val rounds = new Rounds(edges.sparkSession,
      if (sources.isEmpty) "pagerank" else "personalizedPagerank")
    try {
      val parts = rounds.parts
      // the distinct directed edges, each vertex holding its out- and
      // in-neighbours; the in-neighbours register the sinks as vertices
      var state = rounds.init(Csr.edgePairs(edges))(Csr.route(parts, directed = true))(
        (_, pairs) => new PrBlock(Csr(parts, pairs), null, null, 0.0, 0.0))
      val counts = rounds.summarize(state)(b => (b.adj.size.toLong,
        sources.fold(0)(s => b.adj.vs.count(isSource(s, _)))))
      val n = counts.iterator.map(_._1).sum.toDouble
      sources.foreach { s =>
        val present = counts.iterator.map(_._2).sum
        require(present == s.length,
          s"every source must be a graph vertex ($present of ${s.length} found)")
      }
      // A round's job sums the contributions of ranks r_k; the dangling
      // mass that completes r_{k+1} is 1 − Σcontrib (pagerank conserves
      // total mass), known only once that job returns. So the NEXT round
      // finishes r_{k+1} on both sides of its exchange and reports
      // Σ|r_{k+1} − r_k| with its own Σcontrib: tol mode stops one job
      // after the converged round, with its ranks already in the state.
      var dm = 0.0
      var k = 0 // ranks completed: `state` holds the contributions to r_k
      var converged = false
      while (!converged && k < maxIter && n > 0) {
        val dmK = dm
        val (next, sums) = rounds.step(state)(
          b => prMessages(b, prRanks(b, alpha, n, dmK, sources)))(
          (b, contrib) => prUpdate(b, prRanks(b, alpha, n, dmK, sources), contrib))(
          b => (b.contribSum, b.delta))
        state = next
        dm = 1.0 - sums.iterator.map(_._1).sum
        if (tol > 0 && k >= 1 && sums.iterator.map(_._2).sum <= tol) converged = true
        else k += 1
      }
      val (dmK, done) = (dm, converged)
      rounds.frame(state, PrSchema) { b =>
        val r = if (done) b.rank else prRanks(b, alpha, n, dmK, sources)
        Iterator.range(0, b.adj.size).map(i => Row(b.adj.vs(i), r(i)))
      }
    } finally rounds.close()
  }

  /** A [[pagerank]] state block: the ranks `rank` that sent the round's
    * contributions (null before the first round), the contributions
    * `contrib` each vertex received (null before the first round), their
    * sum, and Σ|rank − the ranks before it|. */
  private final class PrBlock(val adj: Csr, val rank: Array[Double],
      val contrib: Array[Double], val contribSum: Double, val delta: Double)
      extends Serializable

  private def isSource(sources: Array[Long], v: Long): Boolean =
    java.util.Arrays.binarySearch(sources, v) >= 0

  /** The ranks completed from a block's contributions and the dangling
    * mass `dm` of their round — pagerank: (1−α)/n + α·(contrib + dm/n);
    * personalized: (v∈S ? (1−α)/|S| + α·dm/|S| : 0) + α·contrib — or,
    * before the first round, the initial ranks: 1/n, or 1/|S| on S. */
  private def prRanks(b: PrBlock, alpha: Double, n: Double, dm: Double,
      sources: Option[Array[Long]]): Array[Double] = sources match {
    case None =>
      if (b.contrib == null) Array.fill(b.adj.size)(1.0 / n)
      else {
        val base = (1 - alpha) / n
        b.contrib.map(c => base + alpha * (c + dm / n))
      }
    case Some(s) =>
      val sN = s.length.toDouble
      val tele = (1 - alpha) / sN + alpha * dm / sN
      Array.tabulate(b.adj.size) { i =>
        val inS = isSource(s, b.adj.vs(i))
        if (b.contrib == null) (if (inS) 1.0 / sN else 0.0)
        else (if (inS) tele else 0.0) + alpha * b.contrib(i)
      }
  }

  /** Each vertex's rank split over its out-neighbours, summed per
    * neighbour: one dense block per receiving partition (see [[Csr]]). */
  private def prMessages(b: PrBlock, rank: Array[Double]): Iterator[(Int, Array[Double])] = {
    val a = b.adj
    val sums = new Array[Array[Double]](a.parts)
    var i = 0
    while (i < a.size) {
      val outDegree = Iterator.range(a.off(i), a.off(i + 1)).count(a.isOut)
      if (outDegree > 0) {
        val c = rank(i) * (1.0 / outDegree)
        var j = a.off(i)
        while (j < a.off(i + 1)) {
          if (a.isOut(j)) {
            val q = a.to(j)
            if (sums(q) == null) sums(q) = new Array[Double](a.width(q))
            sums(q)(a.at(j)) += c
          }
          j += 1
        }
      }
      i += 1
    }
    Iterator.range(0, a.parts).filter(sums(_) != null).map(q => (q, sums(q)))
  }

  /** Folds the contribution blocks, in sender order, into the next block. */
  private def prUpdate(b: PrBlock, rank: Array[Double],
      blocks: Iterator[(Int, Array[Double])]): PrBlock = {
    val contrib = new Array[Double](rank.length)
    blocks.foreach { case (q, c) =>
      val slots = b.adj.from(q)
      var k = 0
      while (k < c.length) { contrib(slots(k)) += c(k); k += 1 }
    }
    var (sum, delta) = (0.0, 0.0)
    var i = 0
    while (i < rank.length) {
      sum += contrib(i)
      if (b.rank != null) delta += math.abs(rank(i) - b.rank(i))
      i += 1
    }
    new PrBlock(b.adj, rank, contrib, sum, delta)
  }

  private val PrSchema = StructType(Seq(
    StructField("v", LongType, nullable = false),
    StructField("rank", DoubleType, nullable = false)))
}
