package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.llm.Similarity

/** Independent references for the vector family's nearest-centroid step:
  * flat and routed k-means, the flat and routed cosine cell assignment
  * and the PQ codes, each re-derived in plain Scala on the driver and
  * compared with the engine's answer.
  *
  * The fixture is the sf0.001 embeddings plus planted rows: for each of
  * the three centroid samples (k-means, IVF cells, PQ codebooks) two
  * copies of one fixture vector under ids whose mixer key is 0, so both
  * copies open that sample and every point scores them bitwise equal —
  * an exact tie that only the centroid id breaks; and one all-zero
  * vector, which squared distance handles like any other and the cosine
  * scores −2.0 against every centroid. */
class NearestCentroidReferenceSpec extends AnyFunSuite {
  import TestSession._

  private val Dim = 64

  private lazy val fixture: Seq[(Long, Array[Float])] = {
    val base = Tables.embeddings(spark, sf0001).select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val byId = base.toMap
    val planted = Seq(5308L -> 7L, 15281L -> 7L, 7911L -> 11L, 17884L -> 11L,
      8993L -> 13L, 18966L -> 13L).map { case (id, src) => (id, byId(src)) }
    base ++ planted :+ (999L -> Array.fill(Dim)(0f))
  }

  private lazy val emb: DataFrame = {
    val s = spark
    import s.implicits._
    fixture.toDF("vec_id", "embedding")
  }

  private lazy val pts: Seq[(Long, Array[Double])] =
    fixture.map { case (id, v) => (id, v.map(_.toDouble)) }

  private def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** round(a·a − 2·a·b + b·b, 6). */
  private def l2(a: Array[Double], b: Array[Double]): Double =
    round6(dot(a, a) - 2.0 * dot(a, b) + dot(b, b))

  /** −round(cosine, 6), with −2.0 as the cosine of a zero norm or NaN. */
  private def negCos(a: Array[Double], b: Array[Double]): Double = {
    val den = math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))
    if (den == 0) 2.0
    else { val c = round6(dot(a, b) / den); if (c.isNaN) 2.0 else -c }
  }

  /** Spark's order of doubles: −0.0 = 0.0, NaN above every value. */
  private def cmp(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** The id of the candidate minimizing (score, id). */
  private def argmin(cands: Seq[(Long, Array[Double])])(score: Array[Double] => Double): Long =
    cands.map { case (id, c) => (score(c), id) }.reduce { (a, b) =>
      val c = cmp(a._1, b._1)
      if (c < 0 || (c == 0 && a._2 < b._2)) a else b
    }._2

  /** Ids in the portable-mixer sample order of `seed`. */
  private def mixerOrder(ids: Seq[Long], seed: Long): Seq[Long] = {
    def pmod(x: Long, m: Long) = ((x % m) + m) % m
    ids.sortBy(i => (pmod(pmod(i, 1000000007L) * 2654435761L + seed, 9973L), i))
  }

  /** Per cell, the mean of its members rounded to 6 places. */
  private def lloyd(assigned: Map[Long, Long],
      vecs: Map[Long, Array[Double]]): Seq[(Long, Array[Double])] =
    assigned.groupBy(_._2).toSeq.map { case (cid, members) =>
      val vs = members.keys.toSeq.map(vecs)
      cid -> Array.tabulate(vs.head.length)(i => round6(vs.map(_(i)).sum / vs.size))
    }

  /** Fine centroid → nearest coarse cell, point → nearest coarse cell
    * owning a fine centroid, point → nearest fine centroid in that cell. */
  private def routed(points: Seq[(Long, Array[Double])], cents: Seq[(Long, Array[Double])],
      coarse: Seq[(Long, Array[Double])],
      score: (Array[Double], Array[Double]) => Double): Map[Long, Long] = {
    val f2c = cents.map { case (cid, cv) => cid -> argmin(coarse)(score(cv, _)) }.toMap
    val active = coarse.filter(c => f2c.values.toSet(c._1))
    points.map { case (id, v) =>
      val cell = argmin(active)(score(v, _))
      id -> argmin(cents.filter(c => f2c(c._1) == cell))(score(v, _))
    }.toMap
  }

  private def kmeansRef(k: Int, iters: Int, coarse: Int = 0): Map[Long, Long] = {
    val vecs = pts.toMap
    val order = mixerOrder(pts.map(_._1), 445533L)
    val grid = order.take(coarse).map(id => id -> vecs(id))
    var cents = order.take(k).map(id => id -> vecs(id))
    var assigned = Map.empty[Long, Long]
    for (i <- 1 to iters) {
      assigned =
        if (coarse > 0) routed(pts, cents, grid, l2)
        else pts.map { case (id, v) => id -> argmin(cents)(l2(v, _)) }.toMap
      if (i < iters) cents = lloyd(assigned, vecs)
    }
    assigned
  }

  private def pairs(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def ivfSample(n: Int): Seq[(Long, Array[Double])] = {
    val vecs = pts.toMap
    mixerOrder(pts.map(_._1), 283521L).take(n).map(id => id -> vecs(id))
  }

  test("flat kmeans equals a driver-side Lloyd: 6dp squared distance, cid tiebreak, 6dp means") {
    for (iters <- Seq(1, 3)) {
      val got = pairs(Similarity.kmeans(emb, "vec_id", "embedding", Dim, k = 12, iters = iters))
      val want = kmeansRef(k = 12, iters = iters)
      assert(got === want, s"iters = $iters")
    }
    // the planted twins open the sample: every point ties them and the
    // lower id takes all, so the higher twin is never a cluster
    val assigned = kmeansRef(k = 12, iters = 1)
    assert(assigned.values.toSet.contains(5308L) && !assigned.values.toSet.contains(15281L))
  }

  test("kmeansRouted equals the driver-side routed two-level Lloyd") {
    val got = pairs(Similarity.kmeansRouted(emb, "vec_id", "embedding", Dim,
      k = 16, iters = 2, coarse = 4))
    assert(got === kmeansRef(k = 16, iters = 2, coarse = 4))
  }

  test("nearestCells(n = 1) equals the driver-side cosine argmin; a zero vector takes the lowest cid") {
    val cents = ivfSample(16)
    val got = pairs(Similarity.nearestCells(
        emb.select(col("vec_id"), col("embedding")),
        Similarity.ivfCentroids(emb, "vec_id", "embedding", 16), "vec_id", "embedding", 1)
      .select(col("vec_id"), col("cid")))
    val want = pts.map { case (id, v) => id -> argmin(cents)(negCos(v, _)) }.toMap
    assert(got === want)
    assert(got(999L) == cents.map(_._1).min)
    assert(!got.values.toSet.contains(17884L), "the higher planted twin loses every tie")
  }

  test("routedAssignCos equals the driver-side routed cosine assignment") {
    val got = pairs(Similarity.routedAssignCos(
        emb.select(col("vec_id"), col("embedding")),
        Similarity.ivfCentroids(emb, "vec_id", "embedding", 16),
        broadcast(Similarity.ivfCentroids(emb, "vec_id", "embedding", 4)
          .select(col("cid").as("ccid"), col("cv").as("ccv"))),
        "vec_id", "embedding")
      .select(col("vec_id"), col("cid")))
    assert(got === routed(pts, ivfSample(16), ivfSample(4), negCos))
  }

  test("pqKnn ranks by the ADC of driver-side PQ codes") {
    val (m, ksub, k) = (4, 8, 5)
    val sd = Dim / m
    val vecs = pts.toMap
    def sub(v: Array[Double], j: Int) = v.slice(j * sd, (j + 1) * sd)
    val init = mixerOrder(pts.map(_._1), 526539L).take(ksub)
    def encode(cb: Int => Seq[(Long, Array[Double])]): Map[(Long, Int), Long] =
      (for ((id, v) <- pts; j <- 0 until m)
        yield (id, j) -> argmin(cb(j))(l2(sub(v, j), _))).toMap
    val codes0 = encode(j => init.map(id => id -> sub(vecs(id), j)))
    val cb1 = (0 until m).map { j =>
      lloyd(codes0.collect { case ((id, `j`), c) => id -> c },
        vecs.map { case (id, v) => id -> sub(v, j) })
    }
    val codes = encode(cb1)
    val queries = pts.map(_._1).filter(id => id < 8 || id == 999L)
    val want = queries.flatMap { q =>
      val qd = (0 until m).map(j => cb1(j).map { case (cid, cv) => cid -> l2(sub(vecs(q), j), cv) }.toMap)
      pts.map(_._1).filter(_ != q)
        .map(v => (round6((0 until m).map(j => qd(j)(codes((v, j)))).sum), v))
        .sortWith { case ((d1, v1), (d2, v2)) => cmp(d1, d2) < 0 || (cmp(d1, d2) == 0 && v1 < v2) }
        .take(k).zipWithIndex.map { case ((d, v), i) => Seq(q, v, d, i + 1L) }
    }.toSet
    val got = Similarity.pqKnn(emb, "vec_id", "embedding", Dim,
        col("vec_id") < 8 || col("vec_id") === 999L, m, ksub, k)
      .select(col("qid"), col("nid"), col("dist"), col("rn").cast("long"))
      .collect().map((r: Row) => r.toSeq).toSet
    assert(got === want)
  }
}
