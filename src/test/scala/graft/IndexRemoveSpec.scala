package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sources.{DedupIndex, IvfIndex, TextIndex}

/** Index DELETION — the lifecycle op between append and refresh
  * (takedowns, re-crawl invalidation, privacy erasure): one
  * bucket-preserving rewrite with a broadcast anti-join riding the
  * compaction scan. The contracts under test: served answers after
  * remove equal a FRESH derivation over the shrunk corpus (TextIndex's
  * totals bookkeeping is the sharp case — idf's N and avgdl must move
  * exactly), removed content stops vetoing dedup admission, plans stay
  * bucket-pruned, and the rewrite leaves one file per bucket. */
class IndexRemoveSpec extends AnyFunSuite {
  import TestSession._

  test("TextIndex.remove: stored BM25 after removal ranks exactly like a fresh build on the shrunk corpus") {
    val docs = Tables.documents(spark, sf0001)
    TextIndex.build(spark, docs, "text", "doc_id", "graft_text_rm")
    val qs = Seq("q1" -> "spark hash join", "q2" -> "table scan filter")
    val removeIds = docs.where(col("doc_id") % 5 === 0)
      .select(col("doc_id"))
    TextIndex.remove(spark, "graft_text_rm", removeIds)
    val stored = TextIndex.serve(spark, "graft_text_rm", qs, k = 5)
      .collect().map(_.toSeq).toSet
    val live = graft.text.TextOps.bm25TopK(
      docs.where(col("doc_id") % 5 =!= 0), "text", "doc_id", qs, k = 5)
      .collect().map(_.toSeq).toSet
    assert(stored == live && stored.nonEmpty,
      "idf/avgdl must be exact for the shrunk corpus — the negative " +
        "totals delta is the bookkeeping under test")
    // the pruning lives in serve's own checkpointed probe execution
    // (the TextIndexSpec pattern) — replicate that exact scan against
    // the REWRITTEN postings table
    val terms = qs.flatMap(_._2.split("\\s+")).distinct
    val p = TextIndex.forceBucketedScan(spark) { iso =>
      val probe = iso.table("graft_text_rm_postings")
        .where(col("word").isin(terms: _*))
      probe.count()
      probe.queryExecution.executedPlan.toString
    }
    assert(p.contains("SelectedBucketsCount"),
      s"the rewritten postings scan must stay bucket-pruned:\n$p")
  }

  test("IvfIndex.remove: deleted vectors vanish from serve; survivors unchanged at full probe; plan pruned") {
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    IvfIndex.build(spark, emb, "vec_id", "embedding", "graft_ivf_rm",
      numCentroids = 16)
    val queries = emb.where(col("vec_id") < 8)
      .select((col("vec_id") + lit(800000L)).as("qid"),
        col("embedding").as("qv"))
    val before = IvfIndex.serve(spark, "graft_ivf_rm", queries, k = 5,
      nProbe = 16).collect().map(_.toSeq).toSet
    val victims = emb.where(col("vec_id") % 3 === 0).select(col("vec_id"))
    val victimSet = victims.collect().map(_.getLong(0)).toSet
    IvfIndex.remove(spark, "graft_ivf_rm", victims)
    val after = IvfIndex.serve(spark, "graft_ivf_rm", queries, k = 5,
      nProbe = 16).collect().map(_.toSeq).toSet
    assert(!after.exists(r => victimSet.contains(r(1).asInstanceOf[Long])),
      "a removed vector must never be served")
    // full probe = exact kNN over the stored rows: the post-remove
    // answer is the pre-remove ranking with victims squeezed out, i.e.
    // a fresh build over survivors (quantizer identical by design)
    val fresh = {
      IvfIndex.build(spark, emb.where(col("vec_id") % 3 =!= 0),
        "vec_id", "embedding", "graft_ivf_rm_fresh", numCentroids = 16)
      IvfIndex.serve(spark, "graft_ivf_rm_fresh", queries, k = 5,
        nProbe = 16).collect().map(_.toSeq).toSet
    }
    assert(after == fresh && after.nonEmpty,
      "full-probe serve after remove must equal a fresh build on the survivors")
    assert(before != after, "the removal must have changed something")
    val q = queries
    val (_, reads, buckets) = SparkJobs.tableReads("graft_ivf_rm_cells",
      "serve score")(IvfIndex.serve(spark, "graft_ivf_rm", q, k = 5, nProbe = 2))
    assert(reads.size == 1 && reads.head < buckets,
      s"the rewritten cells scan must stay bucket-pruned: $reads of $buckets buckets")
  }

  test("IvfIndex.maintain and serve on an index whose every vector was removed") {
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding")).where(col("vec_id") < 40)
    IvfIndex.build(spark, emb, "vec_id", "embedding", "graft_ivf_rm_all",
      numCentroids = 4)
    IvfIndex.remove(spark, "graft_ivf_rm_all", emb.select(col("vec_id")))
    assert(spark.table("graft_ivf_rm_all_cells").count() == 0)
    // no occupied cell: skew is 1.0, so the pass neither refreshes a
    // quantizer over nothing nor compacts an empty table
    val m = IvfIndex.maintain(spark, "graft_ivf_rm_all")
    assert(m == IvfIndex.Maintenance(1.0, refreshed = false,
      compacted = false, skewAfter = 1.0, files = Map.empty))
    val queries = emb.where(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    assert(IvfIndex.serve(spark, "graft_ivf_rm_all", queries, k = 5,
      nProbe = 4).count() == 0)
  }

  test("DedupIndex.remove: an erased document stops vetoing its re-crawled twin") {
    val s = spark
    import s.implicits._
    val tGone = "alpha beta gamma delta epsilon zeta eta theta iota"
    val tStay = "one two three four five six seven eight nine ten"
    val corpus = Seq(1L -> tGone, 2L -> tStay).toDF("doc_id", "text")
    DedupIndex.build(spark, corpus, "text", "doc_id", "graft_dedup_rm")
    val twin = Seq(901L -> tGone, 902L -> tStay).toDF("doc_id", "text")
    val vetoed = DedupIndex.dedupAgainst(spark, "graft_dedup_rm", twin,
      "text", "doc_id").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(vetoed.isEmpty, "both twins must be rejected pre-removal")
    DedupIndex.remove(spark, "graft_dedup_rm",
      Seq(1L).toDF("doc_id"))
    val admitted = DedupIndex.dedupAgainst(spark, "graft_dedup_rm", twin,
      "text", "doc_id").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(admitted == Set(901L),
      s"the erased doc's twin must be admitted, the survivor's still " +
        s"vetoed — got $admitted")
  }

  test("remove compacts as a side effect: one file per non-empty bucket") {
    val docs = Tables.documents(spark, sf0001)
    TextIndex.build(spark, docs.where(col("doc_id") < 100), "text",
      "doc_id", "graft_text_rmc")
    // three appends fragment the buckets, then remove rewrites them
    Seq(100L, 200L, 300L).foreach(lo =>
      TextIndex.append(spark, "graft_text_rmc",
        docs.where(col("doc_id") >= lo && col("doc_id") < lo + 100),
        "text", "doc_id"))
    val (before, after) = TextIndex.remove(spark, "graft_text_rmc",
      docs.where(col("doc_id") % 7 === 0).select(col("doc_id")))(
      "graft_text_rmc_postings")
    assert(before > after && after > 0,
      s"the anti-join rewrite must also fold the appended fragments " +
        s"($before -> $after files)")
  }
}
