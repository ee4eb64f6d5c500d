package graft.gen

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.core.Rounds

/** rmat / rmat2 (`oink/rmat.cpp:50-70`, `oink/map_rmat_generate.cpp:1-67`,
  * `examples/rmat.cpp:121-163`): R-MAT recursive-quadrant random graph
  * generation, looping generate→dedup until exactly `nnonzero · 2^nlevels`
  * unique edges exist.
  *
  * Params mirror `oink/map_rmat_generate.h`: matrix order 2^nlevels,
  * quadrant probabilities a/b/c/d (a+b+c+d=1), per-level probability jitter
  * `fraction`, RNG seed.
  *
  * Determinism at any scale (SURVEY.md §7.4.1): the reference seeds
  * `drand48` per processor; we seed a Random per (seed, task, round) with
  * an explicit stream count, so the emitted edge multiset is identical
  * regardless of cluster layout. Dedup is one [[graft.core.Rounds]] step
  * per round — the streams run inside the state's partitions and their
  * edges move as deduplicated blocks into the partitions of a sorted edge
  * set kept as primitive arrays, one exchange and one Spark job per round;
  * rounds are few because the deficit shrinks geometrically.
  */
object RMat {

  final case class Params(
      nlevels: Int, nnonzero: Int,
      a: Double, b: Double, c: Double, d: Double,
      fraction: Double, seed: Long)

  /** One generation batch, run by state partition `part` of `parts`:
    * EXACTLY `howMany` edges across `numTasks` deterministic RNG streams
    * (`map(rmat_generate)`, one stream per proc in the reference) — the
    * remainder spread over the low stream ids, so a round can never emit
    * more than the deficit it was asked for. Partition `part` runs the
    * streams `part, part + parts, ...`, so the batch is the same edge
    * multiset on any layout. Each edge (i, j) is packed as
    * `i << nlevels | j`; the partition's edges leave as one sorted,
    * deduplicated block per receiving partition. */
  private def batch(p: Params, howMany: Long, numTasks: Int, round: Int,
      part: Int, parts: Int): Iterator[(Int, Array[Long])] = {
    val base = howMany / numTasks
    val extra = howMany % numTasks
    val order = 1L << p.nlevels
    val out = Array.fill(parts)(mutable.ArrayBuilder.make[Long])
    for (task <- part until numTasks by parts) {
      val perTask = base + (if (task < extra) 1L else 0L)
      val rng = new java.util.Random(p.seed * 1000003L + task * 8191L + round)
      val (a0, b0, c0, d0) = (p.a, p.b, p.c, p.d)
      var e = 0L
      while (e < perTask) {
        var (i, j) = (0L, 0L)
        var delta = order >> 1
        var (a, b, c, dq) = (a0, b0, c0, d0)
        var lvl = 0
        while (lvl < p.nlevels) {
          val r = rng.nextDouble()
          if (r < a) { /* upper-left */ }
          else if (r < a + b) { j += delta }
          else if (r < a + b + c) { i += delta }
          else { i += delta; j += delta }
          if (p.fraction > 0.0) {
            // reference jitters quadrant probs each level, then renormalizes
            a *= 1.0 - p.fraction / 2 + rng.nextDouble() * p.fraction
            b *= 1.0 - p.fraction / 2 + rng.nextDouble() * p.fraction
            c *= 1.0 - p.fraction / 2 + rng.nextDouble() * p.fraction
            dq *= 1.0 - p.fraction / 2 + rng.nextDouble() * p.fraction
            val norm = 1.0 / (a + b + c + dq)
            a *= norm; b *= norm; c *= norm; dq *= norm
          }
          delta >>= 1
          lvl += 1
        }
        val edge = (i << p.nlevels) | j
        out(Rounds.partOf(edge, parts)) += edge
        e += 1
      }
    }
    Iterator.range(0, parts).filter(out(_).length > 0)
      .map(q => (q, Rounds.sortedDistinct(out(q).result())))
  }

  /** Generate until exactly `nnonzero * 2^nlevels` unique edges
    * (`oink/rmat.cpp:50-70` loop: map(add=1) → collate → reduce(cull)).
    * Each round is one [[graft.core.Rounds]] step: every state partition
    * generates its share of the batch and sends each partition one
    * deduplicated block of the edges it owns, the receiver merges them
    * into its sorted edge set, and the round's one job returns the
    * per-partition set sizes. */
  def generate(spark: SparkSession, p: Params, numTasks: Int = 32,
      maxRounds: Int = 20): DataFrame = {
    require(p.nlevels <= 31, s"nlevels ${p.nlevels} > 31: an edge packs into one Long")
    val target = p.nnonzero.toLong * (1L << p.nlevels)
    val rounds = new Rounds(spark, "rmat")
    try {
      val parts = rounds.parts
      var edges = rounds.init[Unit, Unit, EdgeSet](spark.sparkContext.emptyRDD)(
        _ => Iterator.empty)((part, _) => new EdgeSet(part, Array.emptyLongArray))
      var have = 0L
      var round = 0
      while (have < target && round < maxRounds) {
        val (deficit, r) = (target - have, round)
        val (next, sizes) = rounds.step(edges)(
          s => batch(p, deficit, numTasks, r, s.part, parts))(addEdges)(_.edges.length.toLong)
        edges = next
        have = sizes.sum
        round += 1
      }
      // no overshoot trim: each round emits exactly the deficit, and dedup
      // only shrinks, so `have` approaches the target from below — the
      // exact-count invariant is property-tested in EngineProperties.
      // Fail HERE if maxRounds ran out short of the target, not in whatever
      // downstream count-pinned consumer notices the deficit first.
      require(have == target,
        s"rmat under-delivered $have/$target edges after $round rounds")
      val (shift, mask) = (p.nlevels, (1L << p.nlevels) - 1)
      rounds.frame(edges, Schema)(_.edges.iterator.map(e => Row(e >>> shift, e & mask)))
    } finally rounds.close()
  }

  /** State partition `part`'s sorted edge set. */
  private final class EdgeSet(val part: Int, val edges: Array[Long]) extends Serializable

  /** A partition's edge set with the fresh blocks merged in. */
  private def addEdges(set: EdgeSet, fresh: Iterator[(Int, Array[Long])]): EdgeSet =
    new EdgeSet(set.part, Rounds.sortedDistinct(set.edges ++ fresh.flatMap(_._2)))

  private val Schema = StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false)))

  /** Degree histogram of a generated graph — the reference's rmat example
    * prints exactly this (`examples/rmat.cpp:155-163`). */
  def degreeStats(edges: DataFrame): DataFrame =
    edges.groupBy(col("src")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_vertices"))
}
