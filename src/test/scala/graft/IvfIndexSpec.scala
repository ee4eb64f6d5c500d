package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.llm.Similarity
import graft.sources.IvfIndex

/** The persisted IVF index must (1) answer exactly what the
  * recompute-everything path answers, and (2) actually serve from the
  * stored layout — probed-bucket pruning, no corpus-wide assignment in
  * the query plan. The point is the PLAN as much as the result. */
class IvfIndexSpec extends AnyFunSuite {
  import TestSession._

  private def queries = Tables.embeddings(spark, sf0001)
    .where(col("vec_id") < 10)
    .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  test("stored-layout serve equals the recompute ivfKnn answer") {
    val name = IvfIndex.ensureBuilt(spark, sf0001, numCentroids = 16)
    val stored = IvfIndex.serve(spark, name, queries, k = 5, nProbe = 4)
      .collect().map(_.toSeq).toSet
    val recomputed = Similarity.ivfKnn(Tables.embeddings(spark, sf0001),
        "vec_id", "embedding", col("vec_id") < 10, k = 5,
        numCentroids = 16, nProbe = 4)
      .collect().map(_.toSeq).toSet
    assert(stored == recomputed && stored.nonEmpty,
      s"stored serve must equal recompute:\n$stored\nvs\n$recomputed")
  }

  test("serve plan bucket-prunes to the probed cells; no corpus assignment") {
    val name = IvfIndex.ensureBuilt(spark, sf0001, numCentroids = 16)
    val cells = s"${name}_cells"
    val q = queries
    val (_, stages) = SparkJobs.stages(IvfIndex.serve(spark, name, q, k = 5, nProbe = 4))
    // the cells scan must read ONLY the probed buckets: one task each
    val reads = stages.filter(_.scans(cells)).map(_.tasks)
    val buckets = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(cells)).bucketSpec.get.numBuckets
    assert(reads.size == 1 && reads.head < buckets,
      s"expected a strict subset of buckets read: $reads of $buckets buckets")
    // and nothing the serve runs reads anything but the index's two
    // tables, except the |Q|-row query side — the corpus rides in from
    // the stored table only
    val rawScans = stages.count(st => !st.scans(cells) && !st.scans(s"${name}_cents"))
    assert(rawScans <= 1, s"serve must not rescan the raw corpus:\n${stages.mkString("\n")}")
  }

  test("SQ8 serve with a corpus-wide shortlist equals the float serve") {
    // a shortlist deeper than the corpus disables the code-space cut;
    // the exact re-rank then scores every probed-cell candidate with
    // the stored float vectors — exactly what serve() scores — so the
    // two stored-layout paths must agree row for row.
    val n = Tables.embeddings(spark, sf0001).count().toInt
    val name = IvfIndex.ensureBuilt(spark, sf0001, numCentroids = 16)
    val sq8 = IvfIndex.serveInt8(spark, name, queries, k = 5, nProbe = 4,
      shortlistK = n).collect().map(_.toSeq).toSet
    val flt = IvfIndex.serve(spark, name, queries, k = 5, nProbe = 4)
      .collect().map(_.toSeq).toSet
    assert(sq8 == flt && sq8.nonEmpty)
  }

  test("append routes fresh vectors over the STORED quantizer into the bucketed layout") {
    val emb = Tables.embeddings(spark, sf0001)
    val old = emb.where(col("vec_id") >= 100)
    val fresh = emb.where(col("vec_id") < 100)
    IvfIndex.build(spark, old, "vec_id", "embedding",
      "graft_ivf_apptest", numCentroids = 8)
    IvfIndex.append(spark, "graft_ivf_apptest", fresh, "vec_id",
      "embedding")
    // content: every vector (old + fresh) assigned by the OLD
    // quantizer's routing rule — appends must not drift cell semantics
    val stored = spark.table("graft_ivf_apptest_cells")
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cents = spark.table("graft_ivf_apptest_cents")
    val expected = graft.llm.Similarity.nearestCells(
        emb.select(col("vec_id"), col("embedding").as("vec")),
        org.apache.spark.sql.functions.broadcast(cents),
        "vec_id", "vec", 1)
      .select(col("vec_id"), col("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored == expected && stored.size == emb.count(),
      "appended postings must follow the stored quantizer exactly")
    // the appended table still serves with a bucket-pruned plan, and
    // the appended vectors are searchable (probe ids are all appended)
    val (served, reads, buckets) = SparkJobs.tableReads("graft_ivf_apptest_cells", "serve score")(
      IvfIndex.serve(spark, "graft_ivf_apptest", queries, k = 5, nProbe = 2))
    assert(reads.size == 1 && reads.head <= buckets,
      s"append must preserve the bucketed layout: $reads of $buckets buckets")
    assert(served.count() > 0)
  }

  test("memo rebuilds when the data fingerprint changes, not per call") {
    val n1 = IvfIndex.ensureBuilt(spark, sf0001, numCentroids = 16)
    val n2 = IvfIndex.ensureBuilt(spark, sf0001, numCentroids = 16)
    assert(n1 == n2, "same data must reuse the built index")
  }
}
