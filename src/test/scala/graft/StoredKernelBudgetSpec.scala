package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

import graft.sources.{DedupIndex, IvfIndex}

/** The per-call budget of the stored-index kernels of a crawl batch:
  * the gate and serve run at most three Spark jobs, a dedup append
  * three, an IVF append two and the skew check one, each job named by
  * its operator and phase, and a repeated identical call generates no
  * code — one crawl batch's working set must stay inside Spark's
  * codegen cache. */
class StoredKernelBudgetSpec extends AnyFunSuite {
  import TestSession._

  /** A batch as a crawler hands it over: local rows, not a table scan. */
  private lazy val fixture = {
    val s = spark
    import s.implicits._
    val docs = Tables.documents(spark, sf0001)
    val fresh = graft.llm.Sampling.hashSample(docs, "doc_id", 0.2)
    val corpus = docs.join(fresh.select(col("doc_id")), Seq("doc_id"), "left_anti")
    DedupIndex.build(spark, corpus, "text", "doc_id", "graft_dedup_budget")
    val batch = fresh.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.toDF("doc_id", "text")
    val emb = Tables.embeddings(spark, sf0001)
    IvfIndex.build(spark, emb, "vec_id", "embedding", "graft_ivf_budget",
      numCentroids = 16)
    val queries = emb.where(col("vec_id") < 32).select("vec_id", "embedding").collect()
      .map(r => (-1L - r.getLong(0), r.getSeq[Float](1))).toSeq.toDF("qid", "qv")
    (batch, queries)
  }

  private def gate() = DedupIndex.dedupAgainst(spark, "graft_dedup_budget",
    fixture._1, "text", "doc_id").select("doc_id").collect()

  private def serve() = IvfIndex.serve(spark, "graft_ivf_budget", fixture._2,
    k = 10, nProbe = 4).collect()

  /** Throwaway copies of both indexes for the append pins, and an IVF
    * batch as local rows. */
  private lazy val appendFixture = {
    val s = spark
    import s.implicits._
    val docs = Tables.documents(spark, sf0001)
    DedupIndex.build(spark, docs.where(col("doc_id") % 5 =!= 0), "text", "doc_id",
      "graft_dedup_budget_app")
    val emb = Tables.embeddings(spark, sf0001)
    IvfIndex.build(spark, emb, "vec_id", "embedding", "graft_ivf_budget_app",
      numCentroids = 16)
    emb.where(col("vec_id") < 32).select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0) + 5000000L, r.getSeq[Float](1))).toSeq.toDF("vec_id", "embedding")
  }

  private def dedupAppend() = DedupIndex.append(spark, "graft_dedup_budget_app",
    fixture._1, "text", "doc_id")

  private def ivfAppend() = IvfIndex.append(spark, "graft_ivf_budget_app",
    appendFixture, "vec_id", "embedding")

  private def skew() = IvfIndex.occupancySkew(spark, "graft_ivf_budget_app")

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a warm gate or serve call runs at most 3 Spark jobs and compiles nothing") {
    for ((op, call) <- Seq("dedupAgainst" -> (() => gate()), "serve" -> (() => serve()))) {
      val first = call()
      val before = compiles()
      val (again, descriptions) = SparkJobs.describe(call())
      val compiled = compiles() - before
      assert(again.map(_.toSeq).toSet == first.map(_.toSeq).toSet && first.nonEmpty)
      assert(descriptions.size <= 3, s"$op ran ${descriptions.size} jobs: $descriptions")
      assert(compiled == 0, s"a repeated $op call compiled $compiled classes")
    }
  }

  test("every kernel job names its operator and phase; the caller's description comes back") {
    val sc = spark.sparkContext
    val (_, gateJobs) = SparkJobs.describe(gate())
    val (_, serveJobs) = SparkJobs.describe(serve())
    assert(gateJobs.nonEmpty && gateJobs.forall(Set("dedupAgainst derive",
      "dedupAgainst probe", "dedupAgainst verify")), gateJobs)
    assert(gateJobs.contains("dedupAgainst probe"), gateJobs)
    assert(serveJobs == Seq("serve route", "serve score"), serveJobs)
    sc.setJobDescription("caller")
    try {
      gate()
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      serve()
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      intercept[Exception](IvfIndex.serve(spark, "graft_ivf_budget_absent", fixture._2))
      intercept[Exception](DedupIndex.dedupAgainst(spark, "graft_dedup_budget",
        fixture._1, "no_such_column", "doc_id"))
      assert(sc.getLocalProperty("spark.job.description") == "caller",
        "a failed call must restore the caller's description too")
    } finally sc.setJobDescription(null)
  }

  test("a warm append or skew check stays within its job budget and compiles nothing") {
    appendFixture
    for ((op, budget, call) <- Seq(("DedupIndex.append", 3, () => dedupAppend()),
        ("IvfIndex.append", 2, () => ivfAppend()), ("occupancySkew", 1, () => skew()))) {
      call()
      val before = compiles()
      val (_, descriptions) = SparkJobs.describe(call())
      val compiled = compiles() - before
      assert(descriptions.nonEmpty && descriptions.size <= budget,
        s"$op ran ${descriptions.size} jobs: $descriptions")
      assert(compiled == 0, s"a repeated $op call compiled $compiled classes")
    }
  }

  test("append and skew jobs name their operator and phase; a failed call restores the caller's") {
    appendFixture
    val sc = spark.sparkContext
    val (_, dedupJobs) = SparkJobs.describe(dedupAppend())
    val (_, ivfJobs) = SparkJobs.describe(ivfAppend())
    val (_, skewJobs) = SparkJobs.describe(skew())
    assert(dedupJobs.forall(Set("dedupAppend derive", "dedupAppend write")) &&
      dedupJobs.count(_ == "dedupAppend write") == 3, dedupJobs)
    assert(ivfJobs == Seq("ivfAppend route", "ivfAppend write"), ivfJobs)
    assert(skewJobs == Seq("occupancySkew count"), skewJobs)
    sc.setJobDescription("caller")
    try {
      dedupAppend(); ivfAppend(); skew()
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      intercept[Exception](DedupIndex.append(spark, "graft_dedup_budget_app",
        fixture._1, "no_such_column", "doc_id"))
      intercept[Exception](IvfIndex.append(spark, "graft_ivf_budget_absent",
        appendFixture, "vec_id", "embedding"))
      intercept[Exception](IvfIndex.occupancySkew(spark, "graft_ivf_budget_absent"))
      assert(sc.getLocalProperty("spark.job.description") == "caller",
        "a failed call must restore the caller's description too")
    } finally sc.setJobDescription(null)
  }
}
