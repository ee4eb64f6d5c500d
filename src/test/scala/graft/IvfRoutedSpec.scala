package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sources.IvfIndex

/** The ROUTED persisted-index ingest path (build/append/refresh above
  * `routeAbove` cells): the two-level assignment is a partition-quality
  * dial, not a result surface — full-probe serve must be identical to
  * the flat-built twin's — and the persisted √k coarse grid must make
  * append and refresh route through the exact structure the build
  * used. */
class IvfRoutedSpec extends AnyFunSuite {
  import TestSession._

  private val routedName = "graft_ivfr_spec"
  private val flatName = "graft_ivff_spec"

  private lazy val emb =
    Tables.embeddings(spark, sf0001).select(col("vec_id"), col("embedding"))

  private lazy val built: Unit = {
    IvfIndex.build(spark, emb, "vec_id", "embedding", routedName,
      numCentroids = 16, routeAbove = 0)
    IvfIndex.build(spark, emb, "vec_id", "embedding", flatName,
      numCentroids = 16)
  }

  private def queries = {
    built
    emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
  }

  private def fullProbe(name: String): Set[Seq[Any]] =
    IvfIndex.serve(spark, name, queries, k = 5, nProbe = 16)
      .collect().map(_.toSeq).toSet

  test("routed build persists the coarse grid; flat build does not") {
    built
    assert(spark.catalog.tableExists(s"${routedName}_coarse"))
    assert(spark.table(s"${routedName}_coarse").count() == 4,
      "16 fine cells route through a ceil(sqrt(16)) = 4 coarse grid")
    assert(!spark.catalog.tableExists(s"${flatName}_coarse"))
  }

  test("full-probe serve is identical under flat and routed partitions") {
    built
    val flat = fullProbe(flatName)
    val routed = fullProbe(routedName)
    assert(routed == flat && routed.nonEmpty,
      "at full probe depth serve is exact kNN over the stored corpus — " +
        "the assignment path must be invisible")
  }

  test("serve bucket-prunes the routed layout at tight probes") {
    built
    // one scan of the cells table, one task per probed bucket
    val (_, reads, buckets) = SparkJobs.tableReads(s"${routedName}_cells", "serve score")(
      IvfIndex.serve(spark, routedName, queries, k = 5, nProbe = 2))
    assert(reads.size == 1 && reads.head < buckets,
      s"expected a strict bucket-pruned subset read: $reads of $buckets buckets")
  }

  test("append routes fresh vectors through the STORED coarse grid into the build's cells") {
    built
    val src = emb.where(col("vec_id") === 3)
    IvfIndex.append(spark, routedName,
      src.select((col("vec_id") + lit(7000000L)).as("vec_id"),
        col("embedding")),
      "vec_id", "embedding")
    val cellOf = (id: Long) => spark.table(s"${routedName}_cells")
      .where(col("vec_id") === id).select(col("cell")).head().getLong(0)
    assert(cellOf(7000003L) == cellOf(3L),
      "an identical vector must route to the identical cell — append " +
        "replays the build's stored two-level structure exactly")
    // full probe for the serve pin: the routed partition may park vec 3
    // outside the query's top-2 FLAT-probed cells (the documented
    // nProbe=1 coarse approximation) — recall at tight probes is
    // IvfIndex.reprobeRecall's business (SCALE.md "ANN recall,
    // measured"); this test pins append-routing consistency
    val q = src.select(lit(9000003L).as("qid"), col("embedding").as("qv"))
    val top = IvfIndex.serve(spark, routedName, q, k = 1, nProbe = 16)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(top.nonEmpty && top.head._2 == 1.0 &&
      Set(3L, 7000003L).contains(top.head._1),
      s"the appended twin must be served at cos 1.0, got ${top.toSeq}")
  }

  test("refresh on a routed index regenerates the coarse grid and keeps full-probe answers") {
    built
    val before = fullProbe(routedName)
    val idsBefore = spark.table(s"${routedName}_cells")
      .agg(count(lit(1)), sum(col("vec_id"))).head()
    IvfIndex.refresh(spark, routedName)
    assert(spark.catalog.tableExists(s"${routedName}_coarse"),
      "refresh must leave the routed index routed")
    val idsAfter = spark.table(s"${routedName}_cells")
      .agg(count(lit(1)), sum(col("vec_id"))).head()
    assert(idsAfter == idsBefore,
      "refresh reassigns — it never adds or drops a stored vector")
    assert(fullProbe(routedName) == before,
      "full-probe serve must be invariant under routed refresh")
  }
}
