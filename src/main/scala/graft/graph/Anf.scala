package graft.graph

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

import graft.core.Rounds

/** Approximate neighborhood function (the ANF / HyperBall family:
  * Palmer et al. 2002 "ANF: a fast and scalable tool for data mining in
  * massive graphs"; Boldi–Vigna 2011 HyperBall): per-vertex estimates
  * of |N(v, r)| — how many vertices sit within distance ≤ r — kept as a
  * BOUNDED k-minimum-values sketch per vertex instead of the exact
  * reach set, whose total size is the transitive-closure blowup that
  * makes exact neighborhood counting infeasible on large graphs. The
  * neighborhood function drives effective-diameter and centrality
  * analytics the reference's graph commands stop short of.
  *
  * Round r: sketch(v, r) = merge_k( sketch(v, r−1) ∪ the sketches of
  * v's neighbors at r−1 ) — the k-smallest-distinct-hash merge of
  * [[graft.operators.KmvDistinct]], on the portable mixer, so the
  * DuckDB oracle replays the ESTIMATE bit for bit by computing the
  * exact ≤r-hop closure and taking the same k-th smallest hash
  * (HyperBall's HLL registers would be engine-private; KMV is why the
  * whole pipeline stays oracle-checkable).
  *
  * 100 TB shape: per round, ONE edge equi-join against the (v, h)
  * sketch rows — the join input is bounded at k rows per vertex, so
  * k·E rows total — and one bounded-buffer aggregation
  * (KmvSketchAggregator: map-side partials, the shuffle carries ≤ k
  * hashes per (partition, vertex); hub vertices cost O(k) memory like
  * every bounded aggregator in this repo). Rounds are fixed and small
  * (2–6 for diameter probes) and run on [[graft.core.Rounds]]: each
  * round's sketch frame is checkpointed to cut lineage, and the frames
  * a result does not read are freed when it is built. Vertices touching
  * no non-loop edge are excluded (their neighborhood is trivially {v}).
  *
  * Estimate: exact when the sketch saw fewer than k distinct hashes,
  * else (k−1)·(M+1) div (h_k + 1) — KmvDistinct's estimator verbatim,
  * including integer `div`. */
object Anf {

  /** KmvDistinct's estimator over a sorted sketch column `hs`. */
  private def estimate(k: Int): org.apache.spark.sql.Column = {
    import graft.operators.KmvDistinct
    when(size(col("hs")) < k, size(col("hs")).cast("long"))
      .otherwise(expr(
        s"(${k - 1}L * ${KmvDistinct.M + 1}L) div (element_at(hs, $k) + 1L)"))
  }

  /** `use` of the per-round sketch frames (v, hs) for r = 1..rounds,
    * computed INCREMENTALLY — round r's sketches build on r−1's, so the
    * whole curve costs `rounds` expansion joins, not rounds·(rounds+1)/2.
    * Every round's frame is checkpointed; the ones `use`'s frame does not
    * read are released when it returns. */
  private def sketchRounds(edges: DataFrame, rounds: Int, k: Int,
      seed: Long)(use: Seq[DataFrame] => DataFrame): DataFrame = {
    import graft.operators.KmvDistinct
    require(rounds >= 1, "need at least one expansion round")
    require(k >= 2, "a 1-value sketch cannot estimate")
    Rounds.around(edges.sparkSession, "anf") { loop =>
      val sym = loop.keep(GraphOps.symmetric(edges), eager = true)
      val kmv = udaf(new KmvDistinct.KmvSketchAggregator(k), Encoders.scalaLong)
      val frames = mutable.ArrayBuffer.empty[DataFrame]
      val init = sym.select(col("v")).distinct()
        .select(col("v"), array(KmvDistinct.hashed(col("v"), seed)).as("hs"))
      loop.iterate(init, rounds) { last =>
        val sk = last.select(col("v"), explode(col("hs")).as("h"))
        val contrib = sym.join(sk.withColumnRenamed("v", "nbr"), "nbr")
          .select(col("v"), col("h"))
        val skArr = loop.keep(sk.unionByName(contrib)
          .groupBy(col("v")).agg(kmv(col("h")).as("hs")), eager = true)
        frames += skArr
        skArr
      }(_ => true)
      loop.result(use(frames.toSeq))
    }
  }

  /** (v, est_reach): estimated |N(v, rounds)| per vertex, self
    * included. */
  def neighborhoodEstimate(edges: DataFrame, rounds: Int = 2,
      k: Int = 32, seed: Long = 7L): DataFrame = {
    sketchRounds(edges, rounds, k, seed)(_.last.select(col("v"), estimate(k).as("est_reach")))
  }

  /** (r, total_reach) for r = 1..rounds — the neighborhood function
    * N(r) = Σ_v |N(v, r)| whose saturation point is the effective
    * diameter. One incremental sketch pass serves every radius. */
  def neighborhoodProfile(edges: DataFrame, rounds: Int = 3,
      k: Int = 32, seed: Long = 7L): DataFrame =
    sketchRounds(edges, rounds, k, seed)(_.zipWithIndex.map {
      case (skArr, i) =>
        skArr.select(estimate(k).as("est_reach"))
          .agg(sum(col("est_reach")).as("total_reach"))
          .select(lit((i + 1).toLong).as("r"), col("total_reach"))
    }.reduce(_ unionByName _))

  /** One-row (r_eff, coverage): the EFFECTIVE DIAMETER read off the
    * neighborhood function — the smallest probed radius whose total
    * reach covers ≥ `alpha` of the largest probed radius's (ANF's
    * headline question, "how far apart is this graph, really"; alpha =
    * 0.9 is the standard effective-diameter convention). Composes
    * [[neighborhoodProfile]] with a 1-row broadcast of the terminal
    * total and a 3-row TakeOrdered — the curve costs the profile, the
    * readout costs nothing. Exactly replayed: the oracle computes the
    * same per-radius estimates and the same double threshold. */
  def effectiveDiameter(edges: DataFrame, rounds: Int = 3, k: Int = 32,
      seed: Long = 7L, alpha: Double = 0.9): DataFrame = {
    val prof = neighborhoodProfile(edges, rounds, k, seed)
    val last = prof.where(col("r") === rounds)
      .select(col("total_reach").as("total_r"))
    prof.crossJoin(broadcast(last))
      .where(col("total_reach") >= lit(alpha) * col("total_r"))
      .orderBy(col("r"))
      .limit(1)
      .select(col("r").as("r_eff"),
        round(col("total_reach").cast("double") / col("total_r"), 6)
          .as("coverage"))
  }

  /** (v, harmonic): truncated HARMONIC centrality H_R(v) =
    * Σ_{r=1..R} (|N(v,r)| − |N(v,r−1)|) / r — Boldi–Vigna's
    * "Axioms for centrality" estimator computed from the SAME
    * incremental sketch pass as [[neighborhoodProfile]] (HyperBall's
    * headline application: the per-radius reach increments are exactly
    * the count of vertices at distance r, each weighted 1/r;
    * |N(v,0)| = 1, the vertex itself). Estimates are monotone in r
    * (the sketch at r is a superset merge of r−1's, so the k-th
    * smallest hash can only fall), so every increment is ≥ 0.
    *
    * One expansion join per radius, then an R-way equi-join of the
    * checkpointed per-round sketch frames on v — R is 2..6, each side
    * one row per vertex. The oracle replays each radius's exact closure
    * through the identical KMV estimator and takes the same weighted
    * sum, so the approximation is checked bit for bit (6dp-rounded,
    * the repo's double-parity discipline). */
  def harmonicCentrality(edges: DataFrame, rounds: Int = 3,
      k: Int = 32, seed: Long = 7L): DataFrame = {
    val h = (1 to rounds).map { r =>
      val prev = if (r == 1) lit(1L) else col(s"est${r - 1}")
      (col(s"est$r") - prev) / lit(r.toDouble)
    }.reduce(_ + _)
    sketchRounds(edges, rounds, k, seed)(_.zipWithIndex.map {
      case (skArr, i) => skArr.select(col("v"), estimate(k).as(s"est${i + 1}"))
    }.reduce((a, b) => a.join(b, "v")).select(col("v"), round(h, 6).as("harmonic")))
  }
}
