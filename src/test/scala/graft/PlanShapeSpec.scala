package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The scale claims in SCALE.md, enforced: these tests fail if a change
  * regresses pushdown, broadcast choice, top-K lowering, or the
  * zero-shuffle property of the native signature expressions. */
class PlanShapeSpec extends AnyFunSuite {
  import TestSession._

  private def plan(name: String): String =
    Registry.byName(name).run(spark, sf0001)
      .queryExecution.executedPlan.toString

  /** Data shuffles a plan would EXECUTE: tree-collected
    * ShuffleExchangeExec nodes. Cached/checkpointed inputs
    * (InMemoryTableScan, LogicalRDD) are leaves, so their construction
    * shuffles — rendered in toString but never re-run — don't count;
    * broadcasts and reuses don't count. Run with AQE off so the tree is
    * final at planning time (AQE hides exchanges inside leaf query
    * stages). */
  private def shuffleCount(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => 1
    }.sum

  private def withoutAqe[T](body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prev)
  }

  test("filters and projection reach the parquet scan") {
    val p = plan("q_scan_project")
    assert(p.contains("PushedFilters") && p.contains("l_quantity"),
      s"filter must push to the scan:\n$p")
    assert(!p.contains("l_comment"), "untouched columns must be pruned")
  }

  test("dimension joins broadcast") {
    val p = plan("q_join_multi")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"nation/region joins must broadcast:\n$p")
  }

  test("top-K lowers to TakeOrderedAndProject, not a global sort") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), s"expected local top-K + merge:\n$p")
  }

  test("native signature expressions are zero-shuffle projections") {
    val docs = Tables.documents(spark, sf0001)
    val sig = graft.llm.Dedup.minHashSignatures(docs, "text", "doc_id")
    assert(!sig.queryExecution.executedPlan.toString.contains("Exchange"),
      "minhash signatures must not shuffle")
    val win = graft.llm.TextAnalysis.winnowFingerprint(docs, "text", "doc_id")
    assert(!win.queryExecution.executedPlan.toString.contains("Exchange"),
      "winnow fingerprints must not shuffle")
  }

  test("embedding bucket projection stays codegen'd on raw float vectors") {
    val emb = Tables.embeddings(spark, sf0001)
    val p = emb.select(col("vec_id"),
      graft.llm.Similarity.lshBucket(col("embedding"), dim = 64, nPlanes = 4)
        .as("bucket"))
      .queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("Project")),
      s"bucketing must stay inside whole-stage codegen:\n$p")
  }

  test("no registered query plans a CartesianProduct; BNLJ only where intended") {
    // Registry-wide audit over EVERY registered plan (the iteration
    // below reads Registry.byName, so new registrations are covered
    // automatically): an unconstrained crossJoin anywhere is a scale
    // bug. BroadcastNestedLoopJoin is legal
    // ONLY for the documented broadcast-small-side designs (knn query
    // sides, IVF centroid assignment, pagerank's 1-row dangling mass,
    // capped truth baselines). Streaming queries are skipped — building
    // them drains a stream; their state-shape claims live in
    // StreamingQueries' own oracle rows.
    val bnljAllowed = Set(
      "q_embed_knn", "q_embed_ivf_knn", "q_embed_lsh_knn",
      "q_embed_dup_pairs", "q_embed_dup_clusters",
      "q_pagerank", "q_pagerank_golden", "q_join_multi",
      "q_tfidf",  // 1-row corpus-size aggregate broadcast into the scorer
      "q_kmeans", // k-row centroid table broadcast into assignment
      "q_semantic_dedup", // kmeans' centroid broadcast inside the clustering stage
      "q_semantic_dedup_routed", // routed kmeans' coarse-grid + fine-map broadcasts
      "q_anf_diameter", // 1-row terminal-total broadcast into the 3-row curve
      "q_embed_ivfpq_knn", // IVF coarse assignment (same centroid crossJoin as ivf_knn)
      "q_embed_ivfpq_res_knn", // same coarse assignment, residual codebooks
      "q_pmi_pairs", // two 1-row corpus totals broadcast into the pair scorer
      "q_bm25_topk", // 1-row (N, sum_dl) totals broadcast into the scorer
      "q_bm25_stored", // the same 1-row totals broadcast, aggregated from
                       // the stored running-totals table; the corpus side
                       // is the bucket-pruned postings probe (pinned in
                       // TextIndexSpec)
      "q_dsir_weights", // 1-row (nt, nr, v) totals broadcast into the scorer
      "q_dsir_sample",  // same totals broadcast; selection is a TakeOrdered
      "q_curation_pipeline", // the dsir stage's totals broadcast, composed
      "q_hybrid_rrf", // bm25's 1-row totals + the ≤|Q|-row probe-vector
                      // broadcast into the corpus scan (the knn shape)
      "q_embed_ivf_knn_tuned", // same centroid crossJoin as q_embed_ivf_knn
      "q_embed_ivf_knn_clustered", // same, over the derived clustered fixture
      "q_embed_knn_clustered", // the clustered exact-truth twin (knn shape)
      "q_embed_mrl_knn", // the truncated-dim shortlist's broadcast query side
      "q_embed_int8_knn", // the code-space shortlist's broadcast query side
      "q_embed_mutual_knn", // the cell-assignment centroid crossJoin
      "q_embed_mutual_knn_routed", // the coarse-grid routing crossJoins
      "q_domain_mix_kl", // the 1-row corpus-totals broadcast (tfidf shape)
      "q_hybrid_rrf_ann", // the IVF arm's centroid crossJoins (and ONLY
                          // those — pinned by its own test below)
      "q_hybrid_rrf_lsh", // bm25's 1-row totals broadcast (the LSH arm
                          // itself is a bucket equi-join, no crossJoin)
      "q_embed_ivf_knn_stored", // the |Q|-row probe routing over the
                                // STORED 64-row quantizer table; the
                                // corpus side is the bucket-pruned index
                                // scan (pinned in IvfIndexSpec)
      "q_embed_ivf_sq8_stored", // same stored-quantizer probe routing;
                                // scoring reads the stored int8 codes
      "q_embed_ivf_knn_routed_stored", // identical serve shape to
                                // q_embed_ivf_knn_stored (the routing
                                // difference is build-time only)
      "q_embed_ivf_knn_auto_stored", // same serve shape again (the auto
                                // dial floors to the shared 64-cell
                                // index at fixture scale)
      "q_hybrid_rrf_stored", // bm25's 1-row stored-totals broadcast +
                             // the |Q|-row probe routing over the
                             // stored quantizer; both corpus sides are
                             // bucket-pruned index scans (pinned in
                             // RetrievalSpec/TextIndexSpec/IvfIndexSpec)
      "q_semantic_incremental") // k-row refreshed-centroid broadcast into
                                // the fresh routing scan (the kmeans shape)
    val offenders = Registry.byName.keys.toSeq.sorted
      .filterNot(_.startsWith("q_stream"))
      .flatMap { name =>
        val p = Registry.byName(name).run(spark, sf0001)
          .queryExecution.executedPlan.toString
        val cart = p.contains("CartesianProduct")
        val bnlj = p.contains("BroadcastNestedLoopJoin") && !bnljAllowed(name)
        if (cart) Some(s"$name: CartesianProduct")
        else if (bnlj) Some(s"$name: unexpected BroadcastNestedLoopJoin")
        else None
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("document chunking is a zero-shuffle generator projection") {
    val docs = Tables.documents(spark, sf0001)
    val p = graft.llm.Chunking.chunkDocs(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
    assert(p.contains("Generate"), s"expected a generator plan:\n$p")
  }

  test("pagerank, ccFind and rmat submit at most 2 Spark jobs per round") {
    // a round of each loop (personalizedPagerank runs pagerank's) is one
    // block exchange and one runJob, so the bound leaves room for one
    // extra job a round
    val perRound = 2
    val constant = 3
    def bounded(name: String, rounds: Int, jobs: Int): Unit =
      assert(jobs <= perRound * rounds + constant,
        s"$name: $jobs Spark jobs for $rounds rounds")

    // star into a hub plus a dangling tail: ranks never settle exactly,
    // so both modes run all maxIter rounds
    val g = TestSession.edges((2L, 1L), (3L, 1L), (4L, 1L), (1L, 5L), (5L, 6L))
    for (tol <- Seq(0.0, 1e-300)) {
      val (pr, jobs) = SparkJobs.count(
        graft.graph.Iterative.pagerank(g, tol = tol, maxIter = 6))
      graft.core.Checkpoints.release(pr)
      bounded(s"pagerank tol=$tol", 6, jobs)
      val (ppr, pprJobs) = SparkJobs.count(graft.graph.Iterative.personalizedPagerank(
        g, Seq(2L, 5L), tol = tol, maxIter = 6))
      graft.core.Checkpoints.release(ppr)
      bounded(s"personalizedPagerank tol=$tol", 6, pprJobs)
    }

    // path 0-1-...-15: the min label travels one hop a round, so 15
    // rounds change labels and a 16th finds the fixpoint
    val path = TestSession.edges((0L until 15L).map(i => (i, i + 1)): _*)
    val (cc, ccJobs) = SparkJobs.count(graft.graph.Iterative.ccFind(path))
    assert(cc.collect().forall(_.getLong(1) == 0L))
    graft.core.Checkpoints.release(cc)
    bounded("ccFind", 16, ccJobs)

    // rmat runs exactly as many rounds as the smallest maxRounds that
    // reaches the target; every smaller budget fails its require
    val p = graft.gen.RMat.Params(8, 4, 0.57, 0.19, 0.19, 0.05, 0.0, 5L)
    def gen(rounds: Int) = graft.gen.RMat.generate(spark, p, numTasks = 4,
      maxRounds = rounds)
    val rounds = (1 to 20).find { r =>
      try { graft.core.Checkpoints.release(gen(r)); true }
      catch { case _: IllegalArgumentException => false }
    }.get
    assert(rounds > 1, "the fixture must need a dedup round")
    val (rm, rmJobs) = SparkJobs.count(gen(rounds))
    graft.core.Checkpoints.release(rm)
    bounded("RMat.generate", rounds, rmJobs)
  }

  test("triangleCount submits at most 3 Spark jobs") {
    // two rounds, one job each, on an R-MAT graph (a checkpointed frame)
    // and on a local edge frame
    val p = graft.gen.RMat.Params(8, 4, 0.57, 0.19, 0.19, 0.05, 0.0, 5L)
    val rmat = graft.gen.RMat.generate(spark, p, numTasks = 4)
    val k4 = TestSession.edges((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    for ((name, g) <- Seq("rmat" -> rmat, "K4" -> k4)) {
      val (n, jobs) = SparkJobs.count(graft.graph.Triangles.triangleCount(g).head().getLong(0))
      assert(n >= 0L)
      assert(jobs <= 3, s"$name: triangleCount ran $jobs Spark jobs")
    }
    graft.core.Checkpoints.release(rmat)
  }

  test("every job of a Rounds loop names its operator, and a round job its round") {
    val sc = spark.sparkContext
    val g = TestSession.edges((2L, 1L), (3L, 1L), (4L, 1L), (1L, 5L), (5L, 6L), (6L, 4L))
    def labelled(op: String)(call: => Any): Unit = {
      val (_, descriptions) = SparkJobs.describe {
        sc.setJobDescription("caller")
        call match {
          case df: org.apache.spark.sql.DataFrame => graft.core.Checkpoints.release(df)
          case _ => ()
        }
        assert(sc.getLocalProperty("spark.job.description") == "caller",
          s"$op did not restore the caller's job description")
      }
      assert(descriptions.nonEmpty)
      descriptions.foreach(d => assert(d != null && d.startsWith(s"$op "),
        s"$op submitted a job described as $d: $descriptions"))
      val rounds = descriptions.filter(_.startsWith(s"$op round "))
      assert(rounds.nonEmpty && rounds == rounds.indices.map(k => s"$op round ${k + 1}"),
        s"$op round jobs: $rounds")
      assert(descriptions.forall(d => rounds.contains(d) || d == s"$op init" || d == s"$op frame"),
        s"$op phases: $descriptions")
    }
    labelled("pagerank")(graft.graph.Iterative.pagerank(g, maxIter = 5))
    labelled("personalizedPagerank")(
      graft.graph.Iterative.personalizedPagerank(g, Seq(2L), maxIter = 5))
    labelled("ccFind")(graft.graph.Iterative.ccFind(g))
    labelled("rmat")(graft.gen.RMat.generate(spark,
      graft.gen.RMat.Params(6, 4, 0.57, 0.19, 0.19, 0.05, 0.0, 5L), numTasks = 4))
    labelled("triangleCount")(graft.graph.Triangles.triangleCount(g).head())
  }

  test("the spread guard never runs a shuffle already in the plan") {
    // `df.rdd` under AQE runs every exchange of the plan, so the spread
    // probes only narrow frames; Deduplicate and Window exchange too
    val docs = Tables.documents(spark, sf0001)
    val deduped = docs.dropDuplicates("doc_id")
    val windowed = docs.withColumn("n", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))))
    for ((name, df) <- Seq("dropDuplicates" -> deduped, "window" -> windowed)) {
      val (_, jobs) = SparkJobs.count(graft.llm.Dedup.shingles(df, "text", "doc_id"))
      assert(jobs == 0, s"$name: shingles submitted $jobs Spark jobs while planning")
    }
    // a narrow, single-split scan is still spread across the cores
    val spread = graft.llm.Dedup.shingles(docs, "text", "doc_id").queryExecution.analyzed
      .exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression])
    assert(spread, "the narrow docs scan must be spread")
  }

  test("repetition stats is a zero-shuffle native projection") {
    val docs = Tables.documents(spark, sf0001)
    val df = graft.llm.TextAnalysis.repetitionStats(docs, "text", "doc_id")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"repetition stats must not shuffle:\n$p")
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("Project")),
      s"native counters must stay inside whole-stage codegen:\n$p")
  }

  test("pii scrub is a zero-shuffle projection over the scan") {
    withoutAqe {
      val df = Registry.byName("q_pii_scrub").run(spark, sf0001)
      assert(shuffleCount(df) == 0,
        s"redaction must be per-row map work:\n${df.queryExecution.executedPlan}")
    }
  }

  test("temperature mixture broadcasts its per-group cuts into the scan") {
    val p = plan("q_mixture_temperature")
    assert(p.contains("BroadcastHashJoin"),
      s"the group-cut table must broadcast — the corpus never shuffles:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no shuffle join anywhere in the gate:\n$p")
  }

  test("bloom prefilter rides the batch scan as a constant predicate") {
    val p = plan("q_bloom_prefilter")
    assert(p.contains("might_contain"),
      s"the bloom must gate the batch before the fingerprint join:\n$p")
  }

  test("bloom-prefiltered incremental dedup plans the semi/anti join chain") {
    val p = plan("q_bloom_prefilter")
    assert(p.contains("might_contain"),
      s"the bloom must gate the batch scan:\n$p")
    assert(p.contains("LeftSemi"),
      s"bloom survivors must be verified by an exact semi-join:\n$p")
    assert(p.contains("LeftAnti"),
      s"admitted rows must come from an anti-join on the dup set:\n$p")
  }

  test("incremental dedup candidates: ONE cross-band join, no self-join branch") {
    val docs = Tables.documents(spark, sf0001)
    val fresh = graft.llm.Sampling.hashSample(docs, "doc_id", 0.2)
    val corpus = docs.join(fresh.select(col("doc_id")), Seq("doc_id"), "left_anti")
    withoutAqe {
      val cand = graft.llm.Dedup.crossBandCandidates(
        graft.llm.Dedup.bandRows(fresh, "text", "doc_id"),
        graft.llm.Dedup.bandRows(corpus, "text", "doc_id"))
      // the corpus anti-join above contributes one Join; the candidate
      // stage itself must add exactly ONE more — the fresh×corpus band
      // join. A fresh×fresh or corpus×corpus branch would add a third.
      val joins = cand.queryExecution.executedPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
      val bandJoins = joins.filterNot(_.joinType.toString.contains("Anti"))
      assert(bandJoins.size == 1,
        s"expected exactly one band join, got ${joins.map(_.joinType)}:\n$cand")
      assert(bandJoins.head.leftKeys.nonEmpty,
        "the band join must be an equi-join on the band key")
      val p = cand.queryExecution.executedPlan.toString
      assert(p.contains("minhash_bands"),
        s"both sides must band with the native portable band keys:\n$p")
    }
  }

  test("PQ scoring is broadcast-only: no shuffle join touches raw vectors") {
    val p = plan("q_embed_pq_knn")
    assert(p.contains("BroadcastHashJoin"),
      s"codebooks and the query-distance table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no shuffle join anywhere in train/encode/score:\n$p")
  }

  test("IVF-PQ: cell routing and ADC scoring stay broadcast-shaped") {
    val p = plan("q_embed_ivfpq_knn")
    assert(p.contains("BroadcastHashJoin"),
      s"centroids, codebooks and the ADC table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"after encoding, no join may shuffle raw vectors:\n$p")
  }

  test("residual IVF-PQ keeps the broadcast shape; residuals never shuffle") {
    val p = plan("q_embed_ivfpq_res_knn")
    assert(p.contains("BroadcastHashJoin"),
      s"centroids, codebooks and the per-cell ADC table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"neither raw vectors nor residuals may ride a shuffle join:\n$p")
  }

  test("substring dedup: native gram hashes feed a semi-join, gram text never shuffles") {
    val p = plan("q_repeated_spans")
    assert(p.contains("token_gram_hashes"),
      s"positional gram hashes must come from the O(n) native expression:\n$p")
    assert(p.contains("LeftSemi"),
      s"duplicated positions must come from a semi-join on the gram key:\n$p")
    // the shuffle columns are the two 64-bit gram hashes — never a
    // materialized gram string (an L-token concat would ship ~L× the bytes)
    assert(!p.contains("concat_ws"),
      s"no gram text column may be materialized:\n$p")
  }

  test("span excision rewrites via the native merge-walk, not HOF fallback") {
    val p = plan("q_excise_spans")
    assert(p.contains("excise_tokens"),
      s"the rewrite must be the codegen'd ExciseTokens expression:\n$p")
    assert(!p.contains("lambdafunction"),
      s"no higher-order-function fallback in the excision projection:\n$p")
  }

  test("salted wordfreq plans the two-phase (word, salt) → word aggregation") {
    val p = plan("q_wordfreq_salted")
    assert(p.contains("_salt"),
      s"phase 1 must group by (word, _salt):\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"expected partial+final aggregates for BOTH phases:\n$p")
  }

  /** A small HTML corpus and an int file for the file-kernel plans. */
  private lazy val fileFixture: (String, String) = {
    val html = java.nio.file.Files.createTempDirectory("graft_plan_html")
    Seq("a", "b").foreach(f => java.nio.file.Files.writeString(
      html.resolve(s"$f.html"), s"""<p>$f word\t<a href="http://x/$f">x</a></p>"""))
    val ints = java.nio.file.Files.createTempDirectory("graft_plan_ints")
    java.nio.file.Files.write(ints.resolve("i.bin"), Array[Byte](1, 0, 0, 0, 2, 0, 0, 0))
    (html.toString, ints.toString)
  }

  test("file tokenizing plans the native strtok: no regex split, HOF filter or regex") {
    val words = graft.text.TextOps.readWordsFromFiles(spark, fileFixture._1)
    val names = words.queryExecution.optimizedPlan.flatMap(
      _.expressions.flatMap(_.collect { case e => e.getClass.getSimpleName }))
    val banned = names.filter(n => n == "StringSplit" || n == "ArrayFilter" ||
      n.contains("RLike") || n.startsWith("RegExp") || n == "Like")
    assert(banned.isEmpty, s"regex or higher-order nodes in the tokenizer plan: $banned")
    assert(names.contains("StrTok"), s"expected the StrTok expression: $names")
  }

  test("url index and intcount each plan exactly one aggregation exchange") {
    withoutAqe {
      val urls = graft.text.TextOps.urlIndexFromFiles(spark, fileFixture._1)
      assert(shuffleCount(urls) == 1,
        s"map-side dedup leaves only the url groupBy:\n${urls.queryExecution.executedPlan}")
      val ints = graft.text.TextOps.intCountFromBinaryFiles(spark, fileFixture._2)
      assert(shuffleCount(ints) == 1,
        s"per-task counts merge in one sum per key:\n${ints.queryExecution.executedPlan}")
    }
  }

  test("decontamination broadcasts the eval side; the corpus never shuffles") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"eval shingles must broadcast into the corpus scan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the training corpus must not shuffle for the join:\n$p")
  }

  test("contamination score keeps the decontaminate shape despite the outer join") {
    val p = plan("q_contamination_score")
    assert(p.contains("BroadcastHashJoin"),
      s"eval shingles must broadcast into the corpus scan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the training corpus must not shuffle for the join:\n$p")
  }

  test("count-min sketch probes join the broadcast sketch, never shuffle-join") {
    val p = plan("q_cms_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"),
      s"the depth x width sketch must broadcast into the probe join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"neither tokens nor probes may ride a shuffle join:\n$p")
  }

  test("shard assignment shuffles once by shard, never a single-task window") {
    val p = plan("q_shard_assign")
    assert(p.contains("hashpartitioning(shard"),
      s"the window must partition by shard (one hash exchange):\n$p")
    assert(!p.contains("SinglePartition"),
      s"a global window would serialize the corpus through one task:\n$p")
  }

  test("vocab encode broadcasts the vocabulary; the corpus never shuffle-joins") {
    val p = plan("q_vocab_encode")
    assert(p.contains("BroadcastHashJoin"),
      s"the V-row vocabulary must broadcast into the token scan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the token stream must not ride a shuffle join:\n$p")
  }

  test("semantic decontamination broadcasts the eval side; train never bucket-shuffles") {
    val p = plan("q_embed_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"the multi-probed eval side must broadcast into the train scan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the training corpus must not ride a shuffle join:\n$p")
    assert(!p.contains("hashpartitioning(bucket"),
      s"a bucket exchange would shuffle the training corpus:\n$p")
  }

  test("relative quality filter never shuffles documents; thresholds broadcast") {
    val p = plan("q_relative_quality")
    assert(p.contains("BroadcastHashJoin"),
      s"the per-group threshold table must broadcast back:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must not ride a shuffle join:\n$p")
    assert(!p.contains("hashpartitioning(doc_id"),
      s"only histogram cells may shuffle, never documents:\n$p")
  }

  test("stratified quota never window-sorts the data; ids broadcast back") {
    val p = plan("q_stratified_sample")
    assert(!p.contains("Window"),
      s"selection must ride the bounded top-n aggregator, not a window sort:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"kept ids (bounded by n x |groups|) must broadcast back as a semi-join:\n$p")
  }

  test("kmeans assignment is broadcast-only: no shuffle joins anywhere") {
    // the k-row centroid table rides a broadcast into every assignment;
    // a SortMergeJoin/ShuffledHashJoin here would mean the corpus is
    // being exchanged per round — the exploded (row, dim) shape the
    // design explicitly avoids
    val p = plan("q_kmeans")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"kmeans must never shuffle-join the points:\n$p")
  }

  test("label propagation costs three exchanges per round") {
    // round body: adj join (labels re-keyed to nbr) + (v, label) count
    // + per-v argmax — adj arrives pre-partitioned on nbr, so the round
    // pays exactly: labels→nbr exchange, (v,label) agg exchange, (v) agg
    // exchange. A fourth exchange means the adj pre-partitioning or a
    // partial aggregation regressed.
    import spark.implicits._
    withoutAqe {
      // persist (not checkpoint) for adj, exactly as labelPropagation
      // does: InMemoryRelation preserves the hash(nbr) partitioning, so
      // the loop-invariant side never re-exchanges
      val adj = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("v", "nbr")
        .repartition(col("nbr")).persist()
      adj.count()
      val labels = adj.select(col("v")).distinct()
        .withColumn("label", col("v")).localCheckpoint()
      val round = adj
        .join(labels.select(col("v").as("nbr"), col("label")), "nbr")
        .groupBy(col("v"), col("label")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("v"))
        .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l"))).as("m"))
        .select(col("v"), col("m.l").as("label"))
      val n = shuffleCount(round)
      adj.unpersist()
      assert(n <= 3,
        s"label propagation round must cost <= 3 shuffles, planned $n:\n" +
          round.queryExecution.executedPlan)
    }
  }

  test("k-core round: one degree aggregation + two shuffle-free-side joins") {
    // round body: degree count over g, then two semi-join-shaped filters
    // of g against the surviving vertex set; keep is degree-bounded
    // (vertex-sized), so both joins must resolve without re-exchanging g
    // more than the join keys require — pinned as a ceiling of 4
    // exchanges (g→v agg; keep reuse; g→v join; g→nbr join)
    import spark.implicits._
    withoutAqe {
      val g = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("v", "nbr")
        .localCheckpoint()
      val keep = g.groupBy(col("v")).agg(count(lit(1)).as("deg"))
        .where(col("deg") >= 2).select(col("v"))
      val round = g.join(keep, "v")
        .join(keep.withColumnRenamed("v", "nbr"), "nbr")
        .select(col("v"), col("nbr"))
      val n = shuffleCount(round)
      assert(n <= 4, s"k-core round must cost <= 4 shuffles, planned $n:\n" +
        round.queryExecution.executedPlan)
    }
  }

  test("containment candidates self-join the rare slice on shingle, counts reduce map-side") {
    // the scale-load-bearing discipline of containmentPairs: the pair
    // self-join keys on shingle over the df <= maxDf slice only (equi,
    // never cartesian), and (da, db) counts partial-aggregate before the
    // shuffle — built pre-checkpoint so the candidate stage itself is
    // the plan under test
    val sh = graft.llm.Dedup.shingles(
      Tables.documents(spark, sf0001), "text", "doc_id")
    val p = graft.llm.Dedup.containmentCandidates(sh, maxDf = 50L,
      minShared = 5L).queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"candidates must come from the shingle equi-join:\n$p")
    assert(p.contains("partial_count"),
      s"pair counts must reduce map-side before the shuffle:\n$p")
    assert(p.contains("(df#") || p.contains("df <="), // df <= maxDf cut
      s"the self-join must run on the rare (df-capped) slice:\n$p")
  }

  test("bm25 broadcasts the (query, df) side; top-k rides a window group limit") {
    val p = plan("q_bm25_topk")
    // r10 regression fix: tf is checkpointed once, so the final plan reads
    // the materialized RDD — a Generate here means the tokenize+explode
    // pipeline is re-executing per reference (4x: scoring join, dl, qdf,
    // tot), the r9 2.2x bench regression.
    assert(!p.contains("Generate"),
      s"tokenize must run once into the tf checkpoint, not per reference:\n$p")
    assert(p.contains("ExistingRDD"),
      s"scoring must read the checkpointed tf:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the query-term x df table must broadcast into the tf scan:\n$p")
    assert(p.contains("partial_sum"),
      s"per-(query, doc) scores must partial-aggregate map-side:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"top-k must prune per-partition before the qid window:\n$p")
    assert(p.contains("hashpartitioning(qid"),
      s"the ranking window must partition by qid, never one task:\n$p")
  }

  test("lm score is two count aggs + equi hash joins, per-doc agg partial") {
    val p = plan("q_lm_score")
    assert("partial_count".r.findAllIn(p).size >= 2,
      s"bigram and unigram counts must both partial-aggregate:\n$p")
    assert(p.contains("partial_avg"),
      s"the per-doc ln average must partial-aggregate:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"count tables must hash-join back onto the bigram stream:\n$p")
  }

  test("bpe pair counts reduce map-side; encode joins broadcast") {
    // training: the per-round shuffle carries (lhs, rhs, count) cells
    val types = graft.text.Bpe.wordTypes(
      Tables.documents(spark, sf0001), "text")
    val pc = graft.text.Bpe.pairCounts(types)
      .queryExecution.executedPlan.toString
    assert(pc.contains("partial_sum"),
      s"pair counts must partial-aggregate before the shuffle:\n$pc")
    // encoding: the word->tokens table and symbol vocabulary broadcast
    // into the document token scan; the corpus never shuffle-joins
    val p = plan("q_bpe_encode")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"word->tokens and symbol-id tables must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the token stream must not ride a shuffle join:\n$p")
  }

  test("dsir weights: two count aggs, totals broadcast, per-doc mean partial-aggs") {
    // lmScore's scale discipline carried over: target and pool bigram
    // counts both partial-aggregate map-side, the doc-bigram stream
    // hash-joins them (never SMJ via a corpus shuffle of bigram text
    // beyond the count tables), and the 1-row totals ride a broadcast
    val p = plan("q_dsir_weights")
    assert("partial_count".r.findAllIn(p).size >= 2,
      s"target and pool bigram counts must both partial-aggregate:\n$p")
    assert(p.contains("partial_avg"),
      s"the per-doc mean must partial-aggregate:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row (nt, nr, v) totals must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no unconstrained cross join anywhere:\n$p")
  }

  test("semantic dedup: within-cluster pairs ride an equi-join, never a cross join") {
    // the SemDeDup tractability claim enforced: the only nested-loop
    // joins are kmeans' k-row centroid broadcasts; the pair stage keys
    // on cluster (ca = cb appears as an equi-join condition), so the
    // quadratic term is bounded by cell occupancy, not corpus²
    val p = plan("q_semantic_dedup")
    assert(!p.contains("CartesianProduct"),
      s"pair generation must not plan a cartesian product:\n$p")
    assert(p.contains("ca#") && p.contains("cb#"),
      s"the pair self-join must key on the cluster columns:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2,
      s"nested-loop joins must be kmeans' centroid broadcasts only:\n$p")
  }

  test("perceptual dedup candidates ride (band, value) equi-joins") {
    // the multimodal near-dup discipline: dHash band buckets bound the
    // candidate volume exactly like SimHash's — an all-pairs raster or
    // PCM comparison would be the 100 TB cliff
    for (name <- Seq("q_image_dedup", "q_audio_dedup")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$name candidates must ride the band equi-join:\n$p")
    }
  }

  test("anf centrality joins the checkpointed per-round sketch frames on v") {
    // the R-way radius join must stay an equi-join over the checkpoint
    // scans — re-deriving a radius per reference would re-run the whole
    // sketch pass (the q_semantic_dedup re-execution class)
    val p = plan("q_anf_centrality")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"radius frames must equi-join on v:\n$p")
    assert(p.contains("Scan ExistingRDD") || p.contains("LogicalRDD"),
      s"per-round frames must come from their checkpoints:\n$p")
  }

  test("range join lowers to an equi-join on bin, never a nested loop") {
    // the whole point of the bin rewrite: a BETWEEN join that would
    // natively plan BNLJ/cartesian becomes hash-partitionable work
    val p = plan("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"range join must ride the bin equi-join:\n$p")
    assert(p.contains("Generate"),
      s"intervals must explode to their covered bins:\n$p")
    val p2 = plan("q_interval_overlap")
    assert(!p2.contains("BroadcastNestedLoopJoin") &&
      !p2.contains("CartesianProduct"),
      s"interval overlap must ride the bin equi-join:\n$p2")
  }

  test("hashed linear scoring is a zero-shuffle projection over the scan") {
    // the model-based-filter inference shape: weights ride the plan as
    // a literal, so scoring adds NO exchange at any corpus size
    val p = plan("q_linear_score")
    assert(!p.contains("Exchange"),
      s"model scoring must not shuffle:\n$p")
  }

  test("blocklist audit broadcasts the phrase list into the shingle stream") {
    val p = plan("q_blocklist")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"each phrase-length slice must broadcast-join the list:\n$p")
    assert(p.contains("Generate"),
      s"doc shingles must come from a generator projection:\n$p")
    assert(p.contains("partial_count"),
      s"per-doc hit counts must partial-aggregate map-side:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cross join:\n$p")
  }

  test("PQ refine broadcasts the shortlist; the corpus never shuffles vectors") {
    val p = plan("q_embed_pq_refined")
    assert(p.contains("BroadcastHashJoin"),
      s"the |Q|*shortlistK shortlist must broadcast into the corpus scan:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"no re-rank join may shuffle raw vectors:\n$p")
  }

  test("funnel is one data shuffle; the conversion readout adds a tiny agg") {
    withoutAqe {
      val ev = Tables.events(spark, sf0001)
      val stages = graft.operators.Funnel.funnelStages(ev, "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"))
      // one hash exchange on the key feeds the sorted-group cursor
      assert(shuffleCount(stages) == 1,
        s"funnel stages must shuffle exactly once:\n${stages.queryExecution.executedPlan}")
      val p = stages.queryExecution.executedPlan.toString
      assert(p.contains("PushedFilters"),
        s"the step-type IN filter must push to the scan:\n$p")
    }
  }

  test("retention joins hash on the key; moments partial-aggregate") {
    val p = plan("q_retention")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"retention must stay equi-join shaped:\n$p")
    assert(p.contains("partial_min") || p.contains("partial_count"),
      s"first-seen/active aggregates must partial map-side:\n$p")
  }

  test("domain classification is a zero-shuffle projection") {
    val docs = Tables.documents(spark, sf0001)
    val df = graft.llm.TextAnalysis.domainClassify(docs, "text", "doc_id")
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"),
      "the multi-head classifier must not shuffle")
  }

  test("gopher rules are a zero-shuffle projection") {
    val docs = Tables.documents(spark, sf0001)
    val df = graft.llm.TextAnalysis.gopherRules(docs, "text", "doc_id")
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"),
      "the rule gate must not shuffle")
  }

  test("hybrid RRF broadcasts both query sides; fusion never widens") {
    val p = plan("q_hybrid_rrf")
    // bm25's qdf/tot broadcasts + the probe-vector broadcast
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"query-side joins must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"only the broadcast probe crossJoin may appear, never a cartesian:\n$p")
  }

  test("ANN-backed hybrid RRF: no full-corpus crossJoin in the semantic arm") {
    // q_hybrid_rrf's exact arm nested-loops the probe vectors against
    // the WHOLE corpus — exact by contract, and the one full scan in the
    // retrieval surface. The ANN-backed twin must not: its only
    // nested-loop joins are the IVF routing crossJoins, whose build side
    // is the FIXED-SIZE mixer-picked quantizer (a TakeOrderedAndProject
    // of numCentroids rows — corpus-size-independent); candidates then
    // flow through the cell equi-join. A per-query corpus-sized
    // nested-loop side here would mean the exact scan leaked back in.
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    withoutAqe {
      val exec = Registry.byName("q_hybrid_rrf_ann").run(spark, sf0001)
        .queryExecution.executedPlan
      val bnljs = exec.collect { case b: BroadcastNestedLoopJoinExec => b }
      assert(bnljs.nonEmpty,
        s"expected the IVF centroid-routing crossJoins:\n$exec")
      bnljs.foreach { b =>
        val build =
          if (b.buildSide == BuildLeft) b.left else b.right
        val s = build.toString
        // constant-size build sides only: the numCentroids-row quantizer
        // sample (TakeOrderedAndProject), bm25's 1-row corpus totals
        // (keyless global aggregate), or a reuse of an exchange already
        // validated by one of the other branches (the probe-routing
        // crossJoin reuses the corpus-assignment quantizer broadcast)
        assert(s.contains("TakeOrderedAndProject") ||
            s.contains("HashAggregate(keys=[]") ||
            s.contains("ReusedExchange"),
          "every nested-loop join must pair a scan with a fixed-size " +
            s"side (quantizer sample or 1-row totals), never the corpus:\n$s")
      }
      assert(exec.toString.contains("BroadcastHashJoin"),
        s"the probed-cell candidate join must be a hash equi-join:\n$exec")
    }
  }

  test("novelty rides gram hashes, never gram strings, through the joins") {
    val p = plan("q_novelty")
    assert(p.contains("token_gram_hashes"),
      s"grams must be the native double-hash rows:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"df join must be the (h1,h2) equi-join:\n$p")
  }

  test("whole-stage codegen covers the signature projections") {
    // regression guard for the CodegenFallback trap: a higher-order
    // filter() in these projections silently drops the stage out of
    // whole-stage codegen (ArrayFilter doesn't codegen)
    val docs = Tables.documents(spark, sf0001)
    Seq(
      graft.llm.Dedup.simHash(docs, "text", "doc_id"),
      graft.llm.Dedup.minHashSignatures(docs, "text", "doc_id")).foreach { df =>
      val p = df.queryExecution.executedPlan.toString
      // codegen'd operators render with a "*(stageId)" prefix
      assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("Project")),
        s"expected the projection inside a whole-stage codegen span:\n$p")
    }
  }
}
