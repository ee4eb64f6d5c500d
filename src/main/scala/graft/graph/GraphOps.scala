package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** OINK's single-pass graph commands (SURVEY.md §2.4) as DataFrame
  * pipelines over an edge table `(src: Long, dst: Long)`.
  *
  * The reference represents a graph as a KV set of EDGE keys
  * (`oink/typedefs.h:22-25`); here it's an edge DataFrame, and every
  * `collate`+`reduce` pipeline becomes one shuffle-stage groupBy with
  * map-side partial aggregation for free.
  *
  * Scale notes: all ops here are one shuffle (groupBy on vertex or edge);
  * `neighbor`'s collect_list is bounded by max degree — the same bound the
  * reference's KMV multivalue had, with giant adjacency lists the one case
  * to watch (the reference streams them block-wise; Spark spills the group).
  */
object GraphOps {

  /** Deterministic pseudo-graph derived from the star schema (for the
    * oracle harness): vertices 0..999, one directed edge per lineitem. */
  def edgesFromLineitem(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir).select(
      (col("l_orderkey") % 1000).as("src"),
      (col("l_partkey") % 1000).as("dst"))

  /** Deterministic graph whose vertex count scales with the data (m =
    * rows/60, so ~1000 vertices at sf0.01) — keeps edge density constant
    * across scale factors instead of degenerating into a near-complete
    * graph. Used by the triangle query, whose cost is density-cubed. */
  def scaledEdgesFromLineitem(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val m = math.max(1L, li.count() / 60L)
    li.select((col("l_orderkey") % m).as("src"), (col("l_partkey") % m).as("dst"))
  }

  /** Sparser deterministic graph (many components) for the iterative-
    * algorithm oracles: ~4% of lineitem rows, vertices mod 10000. */
  def sparseEdgesFromLineitem(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") <= 2)
      .select(
        (col("l_orderkey") % 10000).as("src"),
        (col("l_partkey") % 10000).as("dst"))

  /** Mid-density deterministic graph (~10% of lineitem rows, vertices mod
    * 2000): sparse enough that per-vertex edge-list output stays bounded,
    * dense enough to contain triangles at every harness sf — used by the
    * neigh_tri edge-list query. */
  def midEdgesFromLineitem(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") <= 5)
      .select(
        (col("l_orderkey") % 2000).as("src"),
        (col("l_partkey") % 2000).as("dst"))

  /** Deterministic positive edge weights for sssp oracles/tests. */
  def withWeights(edges: DataFrame): DataFrame =
    edges.withColumn("w",
      (lit(1.0) + (col("src") * 31 + col("dst")) % 100 / lit(100.0)))

  /** edge_upper (`oink/edge_upper.cpp:46-50`): canonical undirected edges —
    * Vi<Vj ordering, self-loops dropped, duplicates culled. */
  def edgeUpper(edges: DataFrame): DataFrame =
    edges.select(
      least(col("src"), col("dst")).as("src"),
      greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /** Symmetric adjacency (v, nbr): both orientations of every
    * [[edgeUpper]] edge — self-loops dropped, deduplicated. */
  def symmetric(edges: DataFrame): DataFrame = {
    val u = edgeUpper(edges)
    u.select(col("src").as("v"), col("dst").as("nbr"))
      .union(u.select(col("dst").as("v"), col("src").as("nbr")))
  }

  /** vertex_extract (`oink/vertex_extract.cpp:48-50`): distinct vertices. */
  def vertexExtract(edges: DataFrame): DataFrame =
    edges.select(explode(array(col("src"), col("dst"))).as("v")).distinct()

  /** degree (`oink/degree.cpp:36-59`): per-vertex degree counting both
    * endpoints (run on edgeUpper output for undirected semantics). */
  def degree(edges: DataFrame): DataFrame =
    edges.select(explode(array(col("src"), col("dst"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("degree"))

  /** Out-degree of a directed edge set (degree dupflag=1 flavor). */
  def outDegree(edges: DataFrame): DataFrame =
    edges.groupBy(col("src").as("v")).agg(count(lit(1)).as("degree"))

  /** Adamic–Adar link prediction: for every non-adjacent vertex pair at
    * distance 2, score = Σ_z 1/ln(deg(z)) over their common neighbors z
    * (well-defined: a wedge center has degree ≥ 2). Returns the global
    * top `topK` by (rounded score desc, pair) — deterministic, lowered
    * to TakeOrderedAndProject.
    *
    * Scale: the wedge self-join is Σ deg(z)² rows — the inherent
    * Adamic–Adar cost. `maxDegree` caps it: centers above the cap are
    * skipped (the standard hub-exclusion contract — hubs contribute
    * ~1/ln(huge) ≈ nothing per pair but quadratic candidate mass; the
    * cap is a documented recall dial, not silent truncation). Existing
    * edges are removed with one left-anti equi-join on the canonical
    * pair. */
  def linkPrediction(edges: DataFrame, topK: Int = 100,
      maxDegree: Option[Long] = None): DataFrame = {
    val u = edgeUpper(edges)
    val deg = degree(u)
    val adj = symmetric(edges).select(col("v").as("z"), col("nbr").as("n"))
    val centers = maxDegree match {
      case Some(cap) => adj.join(
        deg.where(col("degree") <= cap).select(col("v").as("z")), "z")
      case None => adj
    }
    val wedges = centers.select(col("z"), col("n").as("a"))
      .join(centers.select(col("z"), col("n").as("b")), "z")
      .where(col("a") < col("b"))
    val cand = wedges.join(u.select(col("src").as("a"), col("dst").as("b")),
      Seq("a", "b"), "left_anti")
    cand.join(deg.select(col("v").as("z"), col("degree")), "z")
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_common"),
        round(sum(lit(1.0) / log(col("degree"))), 6).as("score"))
      .orderBy(col("score").desc, col("a").asc, col("b").asc)
      .limit(topK)
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over the undirected edge list (each canonical
    * edge contributing both orientations, so the marginals are
    * symmetric). One row out: (n_endpoint_pairs, assortativity).
    *
    * Scale: degree is one shuffle; attaching endpoint degrees is two
    * hash equi-joins on the vertex id; the six moments reduce in a
    * single map-side-partial aggregate. All sums stay exact in int64
    * (degrees ≤ V, products ≤ V², testdata far below overflow); the
    * Pearson ratio is the only floating step, and at ~1e-16 relative
    * error the shared 6dp rounding is engine-identical. */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val u = edgeUpper(edges)
    val deg = degree(u)
    val pairs = u
      .join(deg.select(col("v").as("src"), col("degree").as("x")), "src")
      .join(deg.select(col("v").as("dst"), col("degree").as("y")), "dst")
    val both = pairs.select(col("x"), col("y"))
      .union(pairs.select(col("y").as("x"), col("x").as("y")))
    both.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n").as("n_endpoint_pairs"),
        // a REGULAR graph has zero degree variance: assortativity is
        // undefined (0/0) — surface null, not NaN
        when(col("n") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx") > 0.0,
          round((col("n") * col("sxy").cast("double") -
              col("sx").cast("double") * col("sy")) /
            (sqrt(col("n") * col("sxx").cast("double") -
               col("sx").cast("double") * col("sx")) *
             sqrt(col("n") * col("syy").cast("double") -
               col("sy").cast("double") * col("sy"))), 6))
          .as("assortativity"))
  }

  /** degree_stats (`oink/degree_stats.cpp:45-60`): degree histogram. */
  def degreeStats(edges: DataFrame): DataFrame =
    degree(edges)
      .groupBy(col("degree")).agg(count(lit(1)).as("n_vertices"))

  /** degree_weight (`oink/degree_weight.cpp:44-53`): weight each directed
    * edge by 1/out-degree(src) — PageRank prep. Broadcast-joins the degree
    * side when small; at scale both sides shuffle on src. */
  def degreeWeight(edges: DataFrame): DataFrame = {
    val dgr = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    edges.join(dgr, "src")
      .select(col("src"), col("dst"), round(lit(1.0) / col("outdeg"), 6).as("w"))
  }

  /** neighbor (`oink/neighbor.cpp:44-46`): adjacency list per vertex
    * (both directions), sorted for determinism. */
  def neighbor(edges: DataFrame): DataFrame =
    edges.select(col("src").as("v"), col("dst").as("nbr"))
      .union(edges.select(col("dst").as("v"), col("src").as("nbr")))
      .groupBy(col("v"))
      .agg(
        count(lit(1)).as("n_nbrs"),
        array_join(transform(array_sort(collect_list(col("nbr"))),
          x => x.cast("string")), ",").as("nbrs"))

  /** histo (`oink/histo.cpp:45-65`) over arbitrary keys: frequency of each
    * key, then frequency of frequencies. cc_stats (`oink/cc_stats.cpp`) is
    * this applied to component labels. */
  def histo(df: DataFrame, keyCol: String): DataFrame =
    df.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("n_keys"))
}
