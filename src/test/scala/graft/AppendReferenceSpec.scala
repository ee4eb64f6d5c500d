package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.sources.{Bucketing, DedupIndex, IvfIndex}

/** Independent references for the stored-index appends and the skew
  * check: an appended index holds the rows a bulk build over corpus ∪
  * batch writes, each in the bucket the writer files it under; the IVF
  * append's cells and SQ8 codes follow a driver-side argmax and a
  * driver-side quantizer written here; `occupancySkew` equals a count
  * over the collected cells. */
class AppendReferenceSpec extends AnyFunSuite {
  import TestSession._

  private def round(x: Double, s: Int): Double =
    java.math.BigDecimal.valueOf(x).setScale(s, java.math.RoundingMode.HALF_UP).doubleValue()

  private def dot(a: Array[Double], b: Array[Double]): Double =
    a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))

  /** `t`'s rows as a multiset. */
  private def rows(t: String): Map[Seq[Any], Int] =
    spark.table(t).collect().toSeq.map(_.toSeq).groupBy(identity)
      .map { case (r, rs) => r -> rs.size }

  /** A frame over collected rows: the batch as a crawler hands it over. */
  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** The fixture documents split into a corpus and a 20 % batch; the
    * batch gains a row with a null id. */
  private lazy val split = {
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val fresh = graft.llm.Sampling.hashSample(docs, "doc_id", 0.2)
    val corpus = docs.join(fresh.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val nullId = fresh.limit(1).select(lit(null).cast("long").as("doc_id"),
      concat(col("text"), lit(" null id tail")).as("text"))
    (corpus, local(fresh.union(nullId)))
  }

  /** Every stored row of bucketed `table` in partition bucketOf(key) of
    * its bucketed scan; a null key in the writer's bucket of null
    * (murmur3 of null is the seed, 42). */
  private def assertPlaced(table: String, key: String): Unit = {
    val part = Bucketing.bucketRows(spark, table, key)
    val b = part.getNumPartitions
    val misplaced = part.mapPartitionsWithIndex { (i, it) =>
      it.map(r => (i, if (r.isNullAt(0)) None else Some(r.getLong(0))))
    }.collect().filter { case (i, k) =>
      i != k.fold(Math.floorMod(42, b))(Bucketing.bucketOf(_, b))
    }
    assert(misplaced.isEmpty, s"$table: rows outside their bucket ${misplaced.take(5).toSeq}")
  }

  test("dedup: build(corpus) + append(batch) stores what build(corpus ∪ batch) stores") {
    val (corpus, batch) = split
    DedupIndex.build(spark, corpus, "text", "doc_id", "graft_dedup_aref_inc")
    DedupIndex.append(spark, "graft_dedup_aref_inc", batch, "text", "doc_id")
    DedupIndex.build(spark, corpus.union(batch), "text", "doc_id", "graft_dedup_aref_all")
    for (t <- Seq("bands", "shingles", "sizes")) {
      val (inc, all) = (rows(s"graft_dedup_aref_inc_$t"), rows(s"graft_dedup_aref_all_$t"))
      assert(inc == all && inc.nonEmpty, s"_$t differs: ${(inc.toSet diff all.toSet).take(5)}")
    }
    assert(rows("graft_dedup_aref_inc_sizes").keys.exists(_.head == null),
      "the null-id document is stored")
    assertPlaced("graft_dedup_aref_inc_bands", "bkh")
    assertPlaced("graft_dedup_aref_inc_shingles", "id")
    assertPlaced("graft_dedup_aref_inc_sizes", "id")
  }

  test("a retried dedup append leaves the next batch's admissions unchanged") {
    val s = spark
    import s.implicits._
    val (corpus, batch) = split
    val first = local(batch.where(col("doc_id").isNotNull))
    DedupIndex.build(spark, corpus, "text", "doc_id", "graft_dedup_once")
    DedupIndex.build(spark, corpus, "text", "doc_id", "graft_dedup_twice")
    val admitted = DedupIndex.dedupAgainst(spark, "graft_dedup_once", first, "text", "doc_id")
    DedupIndex.append(spark, "graft_dedup_once", admitted, "text", "doc_id")
    DedupIndex.append(spark, "graft_dedup_twice", admitted, "text", "doc_id")
    DedupIndex.append(spark, "graft_dedup_twice", admitted, "text", "doc_id")
    // the next batch: near-copies of the admitted documents with 0-5
    // spread word edits, whose exact Jaccard straddles tau
    val next = admitted.select("doc_id", "text").collect().toSeq.zipWithIndex.map {
      case (r, i) =>
        val ws = r.getString(1).split(" ").toVector
        val e = i % 6
        val edited = (0 until e).foldLeft(ws)((w, j) =>
          if (w.isEmpty) w else w.updated(j * w.length / e, s"edit$j"))
        (r.getLong(0) + 7000000L, edited.mkString(" "))
    }.toDF("doc_id", "text")
    def ids(name: String) = DedupIndex.dedupAgainst(spark, name, next, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val (once, twice) = (ids("graft_dedup_once"), ids("graft_dedup_twice"))
    assert(once == twice, s"a doubled append moved ${(once diff twice) ++ (twice diff once)}")
    val n = next.count()
    assert(once.nonEmpty && once.size < n, s"the next batch must straddle tau: ${once.size} of $n")
  }

  /** A flat 8-cell index over the vectors with id ≥ 200, and the batch
    * appended to it: the others plus a zero vector, which ties every
    * centroid at the −2.0 sentinel. */
  private lazy val ivf: (String, Array[(Long, Array[Float])]) = {
    val emb = Tables.embeddings(spark, sf0001).select("vec_id", "embedding")
    IvfIndex.build(spark, emb.where(col("vec_id") >= 200), "vec_id", "embedding",
      "graft_ivf_aref", numCentroids = 8)
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val fresh = emb.where(col("vec_id") < 200).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)) :+ (999999L, Array.fill(dim)(0f))
    val s = spark
    import s.implicits._
    IvfIndex.append(spark, "graft_ivf_aref", fresh.toSeq.toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    ("graft_ivf_aref", fresh)
  }

  private def storedCells(name: String): Map[Long, Row] =
    spark.table(s"${name}_cells").collect().map(r => r.getLong(0) -> r).toMap

  test("ivf append: each vector's cell is the driver-side argmax over the stored centroids") {
    val (name, fresh) = ivf
    val cents = spark.table(s"${name}_cents").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def csim(v: Array[Double], c: Array[Double]): Double = {
      val den = math.sqrt(dot(v, v)) * math.sqrt(dot(c, c))
      if (den == 0) -2.0 else { val x = round(dot(v, c) / den, 6); if (x.isNaN) -2.0 else x }
    }
    val stored = storedCells(name)
    for ((id, v) <- fresh) {
      val vd = v.map(_.toDouble)
      val best = cents.map { case (cid, c) => (csim(vd, c), cid) }
        .reduce((a, b) => if (b._1 > a._1 || (b._1 == a._1 && b._2 < a._2)) b else a)._2
      assert(stored(id).getLong(1) == best, s"vector $id")
    }
    assert(stored(999999L).getLong(1) == cents.map(_._1).min,
      "a zero vector ties every centroid and goes to the lowest cid")
    assertPlaced(s"${name}_cells", "cell")
  }

  test("ivf append: codes and scale equal a driver-side SQ8") {
    val (name, fresh) = ivf
    val stored = storedCells(name)
    for ((id, v) <- fresh) {
      val x = v.map(_.toDouble)
      val scale = round(x.map(math.abs).max / 127.0, 9)
      val codes = x.map(e => if (scale == 0.0) 0
        else math.max(-127.0, math.min(127.0, round(e / scale, 0))).toInt)
      val r = stored(id)
      assert(r.getSeq[Float](2).map(_.toDouble) == x.toSeq, s"vector $id")
      assert(r.getDouble(4) == scale, s"scale of $id")
      assert(r.getSeq[Byte](3).map(_.toInt) == codes.toSeq, s"codes of $id")
    }
  }

  test("occupancySkew equals a driver-side count over the stored cells, 1.0 once empty") {
    val (name, _) = ivf
    val counts = spark.table(s"${name}_cells").select("cell").collect()
      .groupBy(r => r.get(0)).values.map(_.length.toLong)
    assert(IvfIndex.occupancySkew(spark, name) ==
      counts.max.toDouble / (counts.sum.toDouble / counts.size))
    val s = spark
    import s.implicits._
    IvfIndex.build(spark, Tables.embeddings(spark, sf0001).where(col("vec_id") < 40),
      "vec_id", "embedding", "graft_ivf_aref_empty", numCentroids = 4)
    IvfIndex.remove(spark, "graft_ivf_aref_empty", (0L until 40L).toDF("vec_id"))
    assert(spark.table("graft_ivf_aref_empty_cells").count() == 0)
    assert(IvfIndex.occupancySkew(spark, "graft_ivf_aref_empty") == 1.0)
  }
}
