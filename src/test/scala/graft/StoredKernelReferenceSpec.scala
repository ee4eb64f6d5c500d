package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.llm.Dedup
import graft.sources.{DedupIndex, IvfIndex}

/** Independent references for the stored-index gate and serve: a
  * driver-side routed brute force for `IvfIndex.serve`, and the
  * partition-layout invariance of both answers. The serve reference
  * reads only the stored tables and re-derives routing, scoring and
  * ranking in plain Scala. */
class StoredKernelReferenceSpec extends AnyFunSuite {
  import TestSession._

  private def round(x: Double, s: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(s, java.math.RoundingMode.HALF_UP).doubleValue()

  private def dot(a: Array[Double], b: Array[Double]): Double =
    a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))

  /** The index under test: the fixture's vectors plus two scaled copies
    * (×2, ×4) of vector 7. Scaling by a power of two is exact, so both
    * copies score bitwise the same cosine against every query and land
    * in vector 7's cell: an exact tie that only the nid order breaks. */
  private lazy val tieIndex: String = {
    val s = spark
    import s.implicits._
    val emb = Tables.embeddings(spark, sf0001).select(col("vec_id"), col("embedding"))
    val v7 = emb.where(col("vec_id") === 7L).head().getSeq[Float](1)
    val planted = Seq((900002L, v7.map(_ * 4f)), (900001L, v7.map(_ * 2f)))
      .toDF("vec_id", "embedding")
    IvfIndex.build(spark, emb.union(planted), "vec_id", "embedding",
      "graft_ivf_kref", numCentroids = 16)
    "graft_ivf_kref"
  }

  private def queries = Tables.embeddings(spark, sf0001)
    .where(col("vec_id") < 12)
    .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  /** (qid, nid, cos, rn) by routing over the collected stored centroids
    * — round(cosine, 6), −2.0 for a zero norm or NaN, (csim desc, cid
    * asc) — then scoring every stored vector of the probed cells but the
    * query itself, ranked (cos desc, nid asc). */
  private def reference(name: String, k: Int, nProbe: Int): Set[Seq[Any]] = {
    def vec(r: org.apache.spark.sql.Row, i: Int) = r.getSeq[Float](i).map(_.toDouble).toArray
    val cents = spark.table(s"${name}_cents").collect().map(r => (r.getLong(0), vec(r, 1)))
    val cells = spark.table(s"${name}_cells").select("vec_id", "cell", "vec").collect()
      .map(r => (r.getLong(0), r.getLong(1), vec(r, 2)))
    def csim(q: Array[Double], c: Array[Double]): Double = {
      val den = math.sqrt(dot(q, q)) * math.sqrt(dot(c, c))
      if (den == 0) -2.0
      else { val v = round(dot(q, c) / den, 6); if (v.isNaN) -2.0 else v }
    }
    queries.collect().map(r => (r.getLong(0), vec(r, 1))).toSeq.flatMap { case (qid, q) =>
      val probed = cents.map { case (cid, c) => (csim(q, c), cid) }
        .sortBy { case (s, cid) => (-s, cid) }.take(nProbe).map(_._2).toSet
      cells.filter { case (nid, cell, _) => probed(cell) && nid != qid }
        .map { case (nid, _, v) =>
          (nid, round(dot(q, v) / (math.sqrt(dot(q, q)) * math.sqrt(dot(v, v))), 6))
        }
        .sortBy { case (nid, c) => (-c, nid) }.take(k).zipWithIndex
        .map { case ((nid, c), i) => Seq[Any](qid, nid, c, i + 1L) }
    }.toSet
  }

  test("serve equals a driver-side routed brute force at nProbe 1, 4 and every cell") {
    val name = tieIndex
    for (nProbe <- Seq(1, 4, 16)) {
      val got = IvfIndex.serve(spark, name, queries, k = 6, nProbe = nProbe)
        .select("qid", "nid", "cos", "rn").collect().map(_.toSeq).toSet
      val want = reference(name, 6, nProbe)
      assert(got == want && want.nonEmpty,
        s"nProbe=$nProbe: ${(got diff want).take(5)} vs ${(want diff got).take(5)}")
    }
    // the planted tie: both scaled copies of vector 7 score 1.0 for
    // query 7 and rank by nid
    val top = IvfIndex.serve(spark, name, queries.where(col("qid") === 7L), k = 2,
      nProbe = 1).orderBy("rn").collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(top.toSeq == Seq((900001L, 1.0), (900002L, 1.0)), top.toSeq)
  }

  test("gate and serve answers do not depend on spark.sql.shuffle.partitions") {
    val docs = Tables.documents(spark, sf0001)
    val fresh = graft.llm.Sampling.hashSample(docs, "doc_id", 0.2)
    val corpus = docs.join(fresh.select(col("doc_id")), Seq("doc_id"), "left_anti")
    DedupIndex.build(spark, corpus, "text", "doc_id", "graft_dedup_kparts")
    val name = tieIndex
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    def answers() = (
      DedupIndex.dedupAgainst(spark, "graft_dedup_kparts", fresh, "text", "doc_id")
        .collect().map(_.toSeq).toSet,
      Dedup.incrementalDedup(fresh, corpus, "text", "doc_id")
        .collect().map(_.toSeq).toSet,
      IvfIndex.serve(spark, name, queries, k = 5, nProbe = 4)
        .collect().map(_.toSeq).toSet)
    try {
      val runs = Seq("1", "3", "8").map { p => spark.conf.set(key, p); answers() }
      assert(runs.distinct.size == 1, "answers moved with the shuffle partition count")
      val (stored, mem, served) = runs.head
      assert(stored == mem && stored.nonEmpty && served.nonEmpty)
    } finally spark.conf.set(key, prev)
  }
}
