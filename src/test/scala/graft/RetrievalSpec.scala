package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Retrieval

/** RRF fusion semantics on a hand-built corpus. */
class RetrievalSpec extends AnyFunSuite {
  import TestSession._

  test("doc ranked by both sides outranks single-side docs; ranks carried") {
    val s = spark
    import s.implicits._
    // doc 1: lexical hit only; doc 2: lexical + semantic; doc 3:
    // semantic only; doc 4: neither. Probe vector (id 0) points at
    // doc 2's direction, then doc 3's.
    val docs = Seq(
      (1L, "apple apple apple banana fig"),
      (2L, "apple cherry plum"),
      (3L, "kiwi lime melon"),
      (4L, "pear quince date")).toDF("doc_id", "text")
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.8f, 0.6f)),
      (4L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Retrieval.hybridRrf(docs, emb, "text", "doc_id", "vec_id",
      "embedding", Seq(("q1", "apple", 0L)), kEach = 2, kOut = 4)
      .collect()
      .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3), r.getLong(5)))
      .toMap
    // lexical top-2: doc 1 (tf=3) then doc 2; semantic top-2 vs (1,0):
    // doc 2 (cos≈0.994) then doc 3 (cos=0.8)
    assert(out(2L) == ((2L, 1L, 1L))) // both lists → fused rank 1
    assert(out(1L)._1 == 1L && out(1L)._2 == 0L) // lex-only carried
    assert(out(3L)._1 == 0L && out(3L)._2 == 2L) // sem-only carried
    assert(!out.contains(4L))
    // 1/(60+1) > 1/(60+2): the lex-1 doc beats the sem-2 doc
    assert(out(1L)._3 == 2L && out(3L)._3 == 3L)
  }

  test("IVF-backed fusion with full probe coverage equals the exact scan") {
    // nProbe = numCentroids probes every cell, and each corpus vector
    // lives in exactly one cell, so the IVF candidate set is the whole
    // corpus and the ANN-backed fusion must reproduce ExactScan row for
    // row — the retriever swap changes the candidate SET only, never
    // scoring, tiebreaks, or fusion.
    val dir = "/root/testdata/sf0.001"
    val queries = Seq(("q1", "spark hash join", 0L),
      ("q2", "table scan filter", 1L))
    def run(sem: Retrieval.SemanticRetriever) =
      Retrieval.hybridRrf(Tables.documents(spark, dir),
        Tables.embeddings(spark, dir), "text", "doc_id", "vec_id",
        "embedding", queries, kEach = 10, kOut = 5, semantic = sem)
        .collect().map(_.toSeq).toSet
    val exact = run(Retrieval.ExactScan)
    val full = run(Retrieval.IvfRetriever(numCentroids = 8, nProbe = 8))
    assert(exact == full,
      s"full-coverage IVF must equal the exact scan:\n$exact\nvs\n$full")
    // and the production dial still returns a full result list per query
    val tuned = run(Retrieval.IvfRetriever(numCentroids = 8, nProbe = 2))
    assert(tuned.size == exact.size)
  }

  test("LSH-backed fusion with full bucket coverage equals the exact scan") {
    // 1 plane + multi-probe = the probe searches its own bucket AND the
    // one-bit-flip bucket — i.e. BOTH buckets that exist, so the LSH
    // candidate set is the whole corpus and the fusion must reproduce
    // ExactScan row for row (the IVF full-coverage argument, LSH arm).
    val dir = "/root/testdata/sf0.001"
    val queries = Seq(("q1", "spark hash join", 0L),
      ("q2", "table scan filter", 1L))
    def run(sem: Retrieval.SemanticRetriever) =
      Retrieval.hybridRrf(Tables.documents(spark, dir),
        Tables.embeddings(spark, dir), "text", "doc_id", "vec_id",
        "embedding", queries, kEach = 10, kOut = 5, semantic = sem)
        .collect().map(_.toSeq).toSet
    val exact = run(Retrieval.ExactScan)
    val full = run(Retrieval.LshRetriever(nPlanes = 1, multiProbe = true))
    assert(exact == full,
      s"full-coverage LSH must equal the exact scan:\n$exact\nvs\n$full")
    // and the production dial still returns a full result list per query
    val tuned = run(Retrieval.LshRetriever(nPlanes = 4, multiProbe = true))
    assert(tuned.size == exact.size)
  }

  test("stored-index fusion equals the live IVF-armed fusion at the same dial") {
    // both arms from the persisted indexes: TextIndex lex ≡ live BM25
    // and IvfIndex serve ≡ recompute ivfKnn (each pinned in its own
    // spec), so the fused output must be row-identical to the live
    // IvfRetriever fusion at the same (numCentroids, nProbe, kEach)
    val dir = "/root/testdata/sf0.001"
    val queries = Seq(("q1", "spark hash join", 0L),
      ("q2", "table scan filter", 1L), ("q3", "sort merge batch", 2L))
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    graft.sources.TextIndex.build(spark, docs, "text", "doc_id",
      "graft_text_hyb", buckets = 16)
    graft.sources.IvfIndex.build(spark, emb, "vec_id", "embedding",
      "graft_ivf_hyb", numCentroids = 8)
    val live = Retrieval.hybridRrf(docs, emb, "text", "doc_id",
        "vec_id", "embedding", queries, kEach = 10, kOut = 5,
        semantic = Retrieval.IvfRetriever(numCentroids = 8, nProbe = 2))
      .collect().map(_.toSeq).toSet
    val ((storedDf, stored), stages) = SparkJobs.stages {
      val df = Retrieval.hybridRrfStored(spark, "graft_text_hyb",
        "graft_ivf_hyb", queries, kEach = 10, kOut = 5, nProbe = 2)
      (df, df.collect().map(_.toSeq).toSet)
    }
    assert(stored == live,
      s"stored fusion must equal live fusion:\n$stored\nvs\n$live")
    // the semantic arm's cells scan must be bucket-pruned: one task per
    // probed bucket of the 8 (the lex arm checkpoints its probe — its
    // pruning is pinned by TextIndexSpec's forced-scan replication)
    val scored = stages.filter(st =>
      st.description == "serve score" && st.scans("graft_ivf_hyb_cells"))
    assert(scored.size == 1 && scored.head.tasks < 8,
      s"the stored fusion must serve from a pruned cells scan:\n${stages.mkString("\n")}")
    val p = storedDf.queryExecution.executedPlan.toString
    // nothing in the fused plan rescans raw corpus parquet: the only
    // sources are the index tables and the tiny probe lookup
    assert(!p.contains("documents.parquet") && !p.contains("embeddings.parquet"),
      s"stored fusion must not touch the raw corpus:\n$p")
  }

  test("direct-vector stored fusion equals the id-lookup entry; no unpruned cells scan") {
    // the online entry (r13 What's missing #3): same queries, but the
    // vectors handed in directly with selfIds replaying the id
    // variant's self-exclusion — row-identical by construction, and
    // the id-lookup point scan (the one read bucket pruning could not
    // help) is GONE: exactly one cells scan, literal-pruned
    val dir = "/root/testdata/sf0.001"
    val queries = Seq(("q1", "spark hash join", 0L),
      ("q2", "table scan filter", 1L), ("q3", "sort merge batch", 2L))
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    graft.sources.TextIndex.build(spark, docs, "text", "doc_id",
      "graft_text_hyb2", buckets = 16)
    graft.sources.IvfIndex.build(spark, emb, "vec_id", "embedding",
      "graft_ivf_hyb2", numCentroids = 8)
    val viaId = Retrieval.hybridRrfStored(spark, "graft_text_hyb2",
      "graft_ivf_hyb2", queries, kEach = 10, kOut = 5, nProbe = 2)
      .collect().map(_.toSeq).toSet
    val s = spark
    import s.implicits._
    val idOf = queries.map(q => (q._1, q._3))
    val qvecs = idOf.toDF("qid", "probe_id")
      .join(emb.select(col("vec_id").as("probe_id"),
        col("embedding").as("qv")), "probe_id")
      .select(col("qid"), col("qv")).localCheckpoint()
    // one "Scan parquet …_cells" stage = one read of the cells table
    def cellScans(run: => Set[Seq[Any]]): (Set[Seq[Any]], Seq[SparkJobs.Stage]) = {
      val (out, stages) = SparkJobs.stages(run)
      (out, stages.filter(_.scans("graft_ivf_hyb2_cells")))
    }
    val (direct, directScans) = cellScans(Retrieval.hybridRrfStoredDirect(spark,
      "graft_text_hyb2", "graft_ivf_hyb2", queries.map(q => (q._1, q._2)),
      qvecs, selfIds = idOf.toMap, kEach = 10, kOut = 5, nProbe = 2)
      .collect().map(_.toSeq).toSet)
    assert(direct == viaId,
      "direct-vector entry must be row-identical to the id-lookup entry")
    assert(directScans.forall(_.tasks < 8),
      s"the direct path's cells scan must be bucket-pruned: $directScans")
    assert(directScans.size == 1,
      s"the direct path must read the cells table exactly once " +
        s"(no id-lookup point scan), found ${directScans.size}: $directScans")
    // and the id-lookup entry, for contrast, carries the extra
    // point-lookup scan the direct entry exists to remove
    val (_, idScans) = cellScans(Retrieval.hybridRrfStored(spark, "graft_text_hyb2",
      "graft_ivf_hyb2", queries, kEach = 10, kOut = 5, nProbe = 2)
      .collect().map(_.toSeq).toSet)
    assert(idScans.size == 2,
      s"the id-lookup entry scans cells twice (probe lookup + serve): $idScans")
    // a genuinely novel query (no selfIds entry) must not lose any
    // neighbor to the synthetic qid: its own exact twin ranks first
    val novel = Retrieval.hybridRrfStoredDirect(spark,
      "graft_text_hyb2", "graft_ivf_hyb2", Seq(("q1", "spark hash join")),
      qvecs.where(col("qid") === "q1"), kEach = 10, kOut = 5, nProbe = 2)
      .collect()
    assert(novel.exists(r => r.getLong(1) == 0L),
      s"without selfIds the stored twin (vec 0) must be rankable: " +
        s"${novel.map(_.toSeq).mkString(", ")}")
  }
}
