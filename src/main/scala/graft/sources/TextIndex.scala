package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.functions._

import graft.core.{Checkpoints, JobLabel, TopK}
import graft.text.TextOps

/** PERSISTED lexical (BM25) index — the retrieval-family member of the
  * stored-layout trio ([[IvfIndex]] for ANN, [[DedupIndex]] for
  * near-dup): the reference's flagship GPU workload is exactly this
  * artifact, an inverted index whose posting lists are WRITTEN TO DISK
  * at build time and read back at query time
  * (`cuda/InvertedIndex.cu:463-513`). The engine's
  * [[TextOps.bm25TopK]] re-tokenizes and re-aggregates the whole corpus
  * on every query run — the dominant cost of the lexical arm (r9 bench:
  * the tf derivation IS the query). This index pays it once:
  *
  *   - `<name>_postings` (word, doc_id, tf, dl): one row per (term,
  *     containing doc), bucketed AND bucket-sorted by `word`. The row
  *     DENORMALIZES the doc length `dl` so scoring needs no doc-stats
  *     join at all — the byte cost is one long per posting against a
  *     serve path that touches exactly one table.
  *   - `<name>_totals` (n_docs, sum_dl): the corpus constants BM25's idf
  *     and length normalization need. [[append]] adds delta rows rather
  *     than rewriting, so the table is a running sum — serving aggregates
  *     it (rows = 1 + number of appends, driver-trivial).
  *
  * Serving ([[serve]]) pushes the query's terms into the postings scan
  * as a LITERAL `word IN (...)` predicate → Spark reads ONLY the buckets
  * holding query terms (`SelectedBucketsCount`, pinned in TextIndexSpec)
  * and row-group-skips inside them via the sorted layout. Document
  * frequency is derived from the probe itself (df of a term = its
  * posting-list length — the probe reads every posting of every query
  * term, so the count is exact and global). One bucket-pruned read
  * answers the whole query: the corpus text is never tokenized, nothing
  * corpus-sized is scanned or shuffled.
  *
  * Scores are byte-identical to [[TextOps.bm25TopK]] — both sides sum
  * the SAME factored term expression ([[TextOps.bm25Term]]) with the
  * same 6dp rounding and (score desc, doc asc) tiebreak — so
  * q_bm25_stored shares q_bm25_topk's full-replay oracle: the index
  * changes cost, never answers.
  *
  * 100 TB shape: build is the one wordfreq-shaped aggregation pass the
  * live query used to pay per run, plus a bucketed write; per-query cost
  * drops from O(corpus tokens) to O(Σ posting lists of the query terms).
  * [[append]] ingests a crawl batch with |batch| tokenization work and
  * bucket-aligned inserts — no rebuild, and the totals delta keeps idf
  * exact as the corpus grows. */
object TextIndex {

  /** Denormalized posting rows for `docs`: (word, doc_id, tf, dl) with
    * strtok tokenization — the [[TextOps.bm25TopK]] tf/dl derivation,
    * joined once at build so serving never needs a doc-stats table. */
  private def postingAndTotals(docs: DataFrame, textCol: String,
      docCol: String): (DataFrame, DataFrame) = {
    // tf feeds both the dl aggregate and the posting join; checkpoint so
    // the tokenize+explode pass runs once (the bm25TopK discipline)
    val tf = TextOps.words(docs, textCol, docCol)
      .groupBy(col(docCol), col("word")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dl = tf.groupBy(col(docCol)).agg(sum(col("tf")).as("dl"))
      .localCheckpoint()
    val postings = tf.join(dl, docCol)
      .select(col("word"), col(docCol).as("doc_id"), col("tf"), col("dl"))
    val totals = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    (postings, totals)
  }

  /** The index's tables, in a fixed order: `<name>_postings`,
    * `<name>_totals` — the list its maintenance passes and every
    * stream-ingest refresh read. */
  def tables(spark: SparkSession, name: String): Seq[String] =
    Seq(s"${name}_postings", s"${name}_totals")

  /** Build the index under `basePath`: `_postings` created by
    * [[Bucketing.create]] bucketed and sorted by `word` (one file per
    * bucket), `_totals` as one small file; appends, compactions and
    * removals keep both there. The tf/dl checkpoints' jobs are described
    * `"textBuild derive"`, and the caller's description comes back on
    * every exit path. */
  def build(spark: SparkSession, docs: DataFrame, textCol: String,
      docCol: String, name: String, buckets: Int = 64,
      basePath: String = Bucketing.defaultBase): Unit =
    JobLabel.around(spark.sparkContext, "textBuild") { label =>
      label("derive")
      val (postings, totals) = postingAndTotals(docs, textCol, docCol)
      try {
        Bucketing.create(spark, postings, s"${name}_postings", s"$basePath/${name}_postings",
          Some(BucketSpec(buckets, Seq("word"), Seq("word"))))
        Bucketing.create(spark, totals, s"${name}_totals", s"$basePath/${name}_totals")
      } finally Checkpoints.release(postings, totals)
    }

  /** BM25 top-k from the STORED posting lists: identical ranking to
    * `TextOps.bm25TopK(corpus, ...)` whenever the index is current
    * (pinned row-for-row in TextIndexSpec). The probe — every posting of
    * every query term — is the only corpus-derived data the plan
    * touches; it is checkpointed because df and scoring both read it,
    * and it is small by construction (Σ df of the query terms). */
  def serve(spark: SparkSession, name: String,
      queries: Seq[(String, String)], k: Int = 5, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty, "need at least one query")
    import spark.implicits._
    val qterms = queries.flatMap { case (qid, qt) =>
      qt.split("\\s+").filter(_.nonEmpty).distinct.map(t => (qid, t))
    }.toDF("qid", "word")
    val terms = queries.flatMap(_._2.split("\\s+"))
      .filter(_.nonEmpty).distinct
    // literal IN, never a join key: only literals prune buckets. The
    // probe materializes here (eager checkpoint) under a forced bucketed
    // scan — Spark's DisableUnnecessaryBucketedScan would otherwise drop
    // the bucketed layout for a standalone filter scan, reading every
    // bucket instead of the query terms' (TextIndexSpec pins the
    // SelectedBucketsCount subset).
    // materialized in the isolated window, then re-based into the
    // caller's session (the checkpointed rows are session-free RDDs;
    // the re-wrap keeps the downstream plan single-session)
    val probe = Bucketing.forceBucketedScan(spark) { iso =>
      val p = iso.table(s"${name}_postings")
        .where(col("word").isin(terms: _*))
        .localCheckpoint()
      spark.createDataFrame(p.rdd, p.schema)
    }
    // global df per query term == its posting-list length in the probe
    val dfc = probe.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val tot = spark.table(s"${name}_totals")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
    val qdf = broadcast(qterms.join(dfc, "word"))
    val scored = probe.join(qdf, "word")
      .crossJoin(broadcast(tot))
      .groupBy(col("qid"), col("doc_id"))
      .agg(round(sum(TextOps.bm25Term(k1, b)), 6).as("score"))
    TopK.perKey(scored, "qid", k, col("score").desc, col("doc_id").asc)
  }

  /** Ingest a crawl batch: tokenization over |fresh| docs only, posting
    * rows inserted with the table's bucket spec (bucket-aligned, no
    * reindex), and one (n_docs, sum_dl) delta row into the running
    * totals — idf and avgdl stay exact for the grown corpus. The caller
    * owns id freshness (the [[IvfIndex.append]] / [[DedupIndex.append]]
    * contract): route admissions through the dedup gate first. The
    * batch's tf/dl checkpoints are released once both inserts ran. Jobs
    * are described `"textAppend derive"` and `"textAppend write"`, and
    * the caller's description comes back on every exit path. */
  def append(spark: SparkSession, name: String, fresh: DataFrame,
      textCol: String, docCol: String): Unit =
    JobLabel.around(spark.sparkContext, "textAppend") { label =>
      label("derive")
      val (postings, totals) = postingAndTotals(fresh, textCol, docCol)
      try {
        label("write")
        postings.write.mode("append").insertInto(s"${name}_postings")
        totals.write.mode("append").insertInto(s"${name}_totals")
      } finally Checkpoints.release(postings, totals)
    }

  /** Maintenance: rewrite the appended postings one-file-per-bucket and
    * fold the per-batch totals rows back to one file — every one of
    * [[tables]] ([[Compact.compactTable]] handles both through the
    * catalog's own bucket spec; the [[IvfIndex.compact]] contract —
    * answers and pruned plans unchanged, run from the maintenance
    * window that owns `append`). */
  def compact(spark: SparkSession, name: String): Map[String, (Long, Long)] =
    tables(spark, name).map(t => t -> Compact.compactTable(spark, t)).toMap

  /** Scheduled maintenance: compact exactly the fragmented [[tables]],
    * else no-op ([[Compact.maintainTables]], r13 verdict #3). */
  def maintain(spark: SparkSession, name: String,
      maxFilesPerBucket: Double = 4.0): Map[String, (Long, Long)] =
    Compact.maintainTables(spark, tables(spark, name), maxFilesPerBucket)

  /** Maintenance: DELETE documents from the index (takedowns, re-crawl
    * invalidation, privacy erasure). Two steps, BOTH exact:
    *   1. a NEGATIVE totals delta — (−n, −Σdl) of the removed docs —
    *      appends to the running totals table, derived from the stored
    *      postings themselves (one doc-grouped pass over the removed
    *      slice): idf's N and avgdl stay exact for the shrunk corpus,
    *      the same bookkeeping [[append]] does with positive deltas.
    *      n counts removed docs PRESENT in the postings — build's own
    *      n_docs convention (a token-less doc never had a dl row).
    *   2. the postings rewrite, one [[Compact.removeIds]] pass —
    *      bucket-preserving, de-fragments as a side effect, serve plans
    *      untouched.
    * The delta is materialized BEFORE the rewrite (its lineage reads
    * the files the rewrite replaces) and released once appended.
    * [[serve]] after remove ranks exactly like a fresh build on the
    * shrunk corpus (IndexRemoveSpec pins it row-for-row). Maintenance
    * window only. */
  def remove(spark: SparkSession, name: String, ids: DataFrame,
      idCol: String = "doc_id"): Map[String, (Long, Long)] = {
    val delta = spark.table(s"${name}_postings")
      .join(ids.select(col(idCol).cast("long").as("doc_id")), Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
      .agg((-count(lit(1))).as("n_docs"), (-sum(col("dl"))).as("sum_dl"))
      .localCheckpoint()
    try {
      val res = Compact.removeIds(spark, ids, idCol, Seq(s"${name}_postings" -> "doc_id"))
      delta.write.mode("append").insertInto(s"${name}_totals")
      res
    } finally Checkpoints.release(delta)
  }

  /** Memoized build over the fixture's documents table, keyed by
    * (sfDir, data fingerprint) — the [[IvfIndex.ensureBuilt]]
    * discipline: a rewritten fixture changes the fingerprint and forces
    * a rebuild; the registered stored query never re-pays the build. */
  def ensureBuilt(spark: SparkSession, sfDir: String): String =
    Bucketing.memoBuilt(spark, sfDir, "graft_text") { name =>
      build(spark, graft.Tables.documents(spark, sfDir), "text", "doc_id",
        name)
    }
}
