package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sources.{Bucketing, TextIndex}
import graft.text.TextOps

/** The persisted BM25 index must rank exactly what the live corpus
  * derivation ranks, from a bucket-pruned probe of the stored posting
  * lists — and appends must fold new docs into tf/df/dl/totals so the
  * grown index still answers like a fresh full-corpus run. */
class TextIndexSpec extends AnyFunSuite {
  import TestSession._

  private val qs = Seq("q1" -> "spark hash join",
    "q2" -> "table scan filter", "q3" -> "sort merge batch")

  test("stored-index BM25 equals the live bm25TopK row-for-row") {
    val docs = Tables.documents(spark, sf0001)
    TextIndex.build(spark, docs, "text", "doc_id", "graft_text_spec")
    val stored = TextIndex.serve(spark, "graft_text_spec", qs, k = 5)
      .collect().map(_.toSeq).toSet
    val live = TextOps.bm25TopK(docs, "text", "doc_id", qs, k = 5)
      .collect().map(_.toSeq).toSet
    assert(stored == live && stored.nonEmpty)
  }

  test("serve bucket-prunes the postings scan to the query terms") {
    val docs = Tables.documents(spark, sf0001)
    TextIndex.build(spark, docs, "text", "doc_id", "graft_text_spec2")
    // the pruning happens in the probe's own (checkpointed) execution
    // under serve's forced bucketed scan; replicate that exact scan
    val terms = qs.flatMap(_._2.split("\\s+")).distinct
    val p = Bucketing.forceBucketedScan(spark) { iso =>
      val probe = iso.table("graft_text_spec2_postings")
        .where(col("word").isin(terms: _*))
      probe.count()
      probe.queryExecution.executedPlan.toString
    }
    assert(p.contains("SelectedBucketsCount"),
      s"the postings scan must be bucket-pruned:\n$p")
    val sel = "SelectedBucketsCount: (\\d+) \\(?out of (\\d+)".r
    val ok = sel.findFirstMatchIn(p)
      .exists(m => m.group(1).toInt < m.group(2).toInt)
    assert(ok, s"expected a strict subset of buckets read:\n$p")
  }

  test("append folds a crawl batch in: grown index equals a full rebuild") {
    val docs = Tables.documents(spark, sf0001)
    val batch = docs.where(col("doc_id") % 5 === 0)
    val base = docs.where(col("doc_id") % 5 =!= 0)
    TextIndex.build(spark, base, "text", "doc_id", "graft_text_spec3")
    TextIndex.append(spark, "graft_text_spec3", batch, "text", "doc_id")
    val grown = TextIndex.serve(spark, "graft_text_spec3", qs, k = 5)
      .collect().map(_.toSeq).toSet
    val full = TextOps.bm25TopK(docs, "text", "doc_id", qs, k = 5)
      .collect().map(_.toSeq).toSet
    assert(grown == full && grown.nonEmpty)
  }

  test("every job of build and append names its operator; the caller's description comes back") {
    val sc = spark.sparkContext
    val docs = Tables.documents(spark, sf0001)
    def described(call: => Unit): Seq[String] = SparkJobs.describe {
      sc.setJobDescription("caller")
      call
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    }._2
    val build = described(TextIndex.build(spark, docs.where(col("doc_id") % 5 =!= 0),
      "text", "doc_id", "graft_text_label"))
    val buildLabels = Set("textBuild derive") ++
      TextIndex.tables(spark, "graft_text_label").map(t => s"create $t")
    assert(build.contains("textBuild derive") && build.forall(buildLabels), build)
    val append = described(TextIndex.append(spark, "graft_text_label",
      docs.where(col("doc_id") % 5 === 0), "text", "doc_id"))
    assert(append.contains("textAppend derive") && append.contains("textAppend write") &&
      append.forall(Set("textAppend derive", "textAppend write")), append)
  }
}
