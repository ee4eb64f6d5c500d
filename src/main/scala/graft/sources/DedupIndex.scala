package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.Dedup

/** PERSISTED near-dup index — the dedup-family twin of [[IvfIndex]]
  * (same round-12 thesis: stop re-deriving the query-time layout every
  * batch). [[Dedup.incrementalDedup]] is cross-only — it never
  * re-deduplicates the corpus — but it still RE-COMPUTES the corpus's
  * MinHash band keys and shingle sets on every crawl batch: |corpus| ×
  * signature work re-paid for an identical answer. This index writes
  * that derivation to disk once, as three bucketed tables:
  *
  *   - `<name>_bands` (doc_id, bkh): one row per (doc, band) from
  *     [[Dedup.bandRows]] — the injective composite key bkh = band ·
  *     2^40 + bandHash — bucketed by bkh. The banded candidate join is a
  *     SINGLE-KEY equi-join whose stored side is already
  *     hash-distributed — no corpus-side shuffle, ever.
  *   - `<name>_shingles` (id, shingle), bucketed by id: the exact-
  *     Jaccard verifier's corpus side, read only for candidate docs
  *     (left-semi on the candidate ids) and joined shuffle-free on the
  *     bucket key.
  *   - `<name>_sizes` (id, n), bucketed by id: per-doc shingle counts
  *     for the Jaccard denominator.
  *
  * Build, [[append]] and [[dedupAgainst]] band and shingle under
  * Dedup's one fixed admission parameter set, so a probe always matches
  * the index it reads. Serving derives only the FRESH batch's bands and
  * shingles (|fresh| work) and verifies candidates in the same stage as
  * `incrementalDedup` ([[Dedup.verifiedPairs]]), so it admits exactly
  * what `incrementalDedup` admits — the stored layout changes cost,
  * never answers. [[append]] closes the ingest loop: admitted docs join
  * the index (bands + shingles + sizes inserted with the tables' bucket
  * specs), so the next batch dedups against corpus ∪ admitted with no
  * rebuild.
  *
  * 100 TB shape: the per-batch cost drops from O(|corpus| + |fresh|)
  * signature derivation to O(|fresh|) + a bucket-aligned probe of the
  * stored postings; the corpus's text is never read at all (bands and
  * shingles are the only columns the verifier touches). The band keys
  * are PORTABLE mixer hashes, so the DuckDB oracle replays the stored
  * keys term for term. */
object DedupIndex {

  /** Bucket count shared by all three tables. */
  private val Buckets = 16

  def build(spark: SparkSession, corpus: DataFrame, textCol: String,
      idCol: String, name: String,
      basePath: String = IvfIndex.defaultBase): Unit = {
    // each table hash-partitioned by its bucket column before the
    // bucketed write: one file per bucket, not tasks × buckets (the
    // IvfIndex.build recipe)
    Dedup.bandRows(corpus, textCol, idCol)
      .repartition(col("bkh"))
      .write.mode("overwrite").format("parquet")
      .option("path", s"$basePath/${name}_bands")
      .bucketBy(Buckets, "bkh").sortBy("bkh")
      .saveAsTable(s"${name}_bands")
    val sh = Dedup.shingles(corpus, textCol, idCol, Dedup.AdmitK)
    sh.repartition(col("id"))
      .write.mode("overwrite").format("parquet")
      .option("path", s"$basePath/${name}_shingles")
      .bucketBy(Buckets, "id").sortBy("id")
      .saveAsTable(s"${name}_shingles")
    Dedup.shingleCounts(sh)
      .repartition(col("id"))
      .write.mode("overwrite").format("parquet")
      .option("path", s"$basePath/${name}_sizes")
      .bucketBy(Buckets, "id").sortBy("id")
      .saveAsTable(s"${name}_sizes")
  }

  /** Admit the fresh rows not near-duplicating the INDEXED corpus — the
    * answer of `Dedup.incrementalDedup(fresh, corpus)`, with the corpus
    * band keys, shingles and sizes read from the stored tables instead
    * of recomputed. */
  def dedupAgainst(spark: SparkSession, name: String, fresh: DataFrame,
      textCol: String, idCol: String, tau: Double = 0.8): DataFrame = {
    val cand = Dedup.crossBandCandidates(Dedup.bandRows(fresh, textCol, idCol),
      spark.table(s"${name}_bands")).localCheckpoint()
    val fSh = Dedup.shingles(fresh, textCol, idCol, Dedup.AdmitK)
      .join(cand.select(col("da").as("id")).distinct(), Seq("id"),
        "left_semi")
    val cSh = spark.table(s"${name}_shingles")
      .join(cand.select(col("db").as("id")).distinct(), Seq("id"),
        "left_semi")
    val dup = Dedup.verifiedPairs(cand, fSh, cSh, Dedup.shingleCounts(fSh),
      spark.table(s"${name}_sizes"), tau).select(col("da").as(idCol)).distinct()
    fresh.join(dup, Seq(idCol), "left_anti")
  }

  /** Ingest ADMITTED docs into the index: bands, shingles, and sizes
    * insert with the tables' bucket specs, at most one file per bucket
    * each ([[Bucketing.appendAligned]]), so the next batch dedups
    * against corpus ∪ admitted with no rebuild. The caller owns id
    * freshness (the [[IvfIndex.append]] contract) — admitted rows come
    * out of [[dedupAgainst]], which guarantees they are not near-dups
    * of anything already indexed. */
  def append(spark: SparkSession, name: String, admitted: DataFrame,
      textCol: String, idCol: String): Unit = {
    Bucketing.appendAligned(spark, Dedup.bandRows(admitted, textCol, idCol),
      s"${name}_bands")
    val sh = Dedup.shingles(admitted, textCol, idCol, Dedup.AdmitK)
      .localCheckpoint()
    Bucketing.appendAligned(spark, sh, s"${name}_shingles")
    Bucketing.appendAligned(spark, Dedup.shingleCounts(sh), s"${name}_sizes")
  }

  /** Scheduled maintenance: compact exactly the fragmented tables,
    * else no-op ([[Compact.maintainTables]], r13 verdict #3). */
  def maintain(spark: SparkSession, name: String,
      maxFilesPerBucket: Double = 4.0): Map[String, (Long, Long)] =
    Compact.maintainTables(spark,
      Seq(s"${name}_bands", s"${name}_shingles", s"${name}_sizes"),
      maxFilesPerBucket)

  /** Maintenance: DELETE documents from the admission index (takedowns,
    * privacy erasure — and the semantic consequence matters here: a
    * removed document stops VETOING future near-copies, so a re-crawled
    * twin of an erased page is admitted again, exactly the erasure
    * contract). One bucket-preserving rewrite per table with a
    * broadcast anti-join riding the compaction scan
    * ([[Compact.compactTable]]'s transform hook) — bands by doc_id,
    * shingles/sizes by id; serve plans and the dedupAgainst probe shape
    * untouched (IndexRemoveSpec). Maintenance window only. */
  def remove(spark: SparkSession, name: String, ids: DataFrame,
      idCol: String = "doc_id"): Map[String, (Long, Long)] = {
    val rid = broadcast(ids.select(col(idCol).cast("long").as("__rid"))
      .distinct().localCheckpoint())
    def anti(c: String)(df: DataFrame): DataFrame =
      df.join(rid, df(c) === rid("__rid"), "left_anti")
    Map(
      s"${name}_bands" -> Compact.compactTable(spark, s"${name}_bands",
        transform = anti("doc_id")),
      s"${name}_shingles" -> Compact.compactTable(spark,
        s"${name}_shingles", transform = anti("id")),
      s"${name}_sizes" -> Compact.compactTable(spark, s"${name}_sizes",
        transform = anti("id")))
  }

  /** Memoized build over the fixture's standard corpus split (the
    * q_incremental_dedup mixer gate: fresh = hashSample 0.2, corpus =
    * the rest), keyed by (sfDir, data fingerprint) — the
    * [[IvfIndex.ensureBuilt]] discipline. */
  private val built = scala.collection.concurrent.TrieMap.empty[
    (String, String), String]

  def ensureBuilt(spark: SparkSession, sfDir: String): String = {
    val docs = graft.Tables.documents(spark, sfDir)
    val r = docs.agg(count(lit(1)), max(col("doc_id")),
      sum(col("n_chars"))).head()
    val fp = s"${r.get(0)}|${r.get(1)}|${r.get(2)}"
    built.getOrElseUpdate((sfDir, fp), {
      val name = s"graft_dedup_${Bucketing.nameSuffix(sfDir + "|" + fp)}"
      val fresh = graft.llm.Sampling.hashSample(docs, "doc_id", 0.2)
      val corpus = docs.join(fresh.select(col("doc_id")), Seq("doc_id"),
        "left_anti")
      build(spark, corpus, "text", "doc_id", name)
      name
    })
  }

  /** Memoized build over the FULL documents corpus — the text leg of
    * the composed multimodal crawl gate
    * ([[graft.multimodal.CrawlAdmit]]): the whole fixture corpus is
    * stored, the batch arrives entirely fresh (unlike [[ensureBuilt]]'s
    * mixer split, where 20 % of the corpus plays the batch). */
  private val builtFull = scala.collection.concurrent.TrieMap.empty[
    (String, String), String]

  def ensureBuiltFull(spark: SparkSession, sfDir: String): String = {
    val docs = graft.Tables.documents(spark, sfDir)
    val r = docs.agg(count(lit(1)), max(col("doc_id")),
      sum(col("n_chars"))).head()
    val fp = s"${r.get(0)}|${r.get(1)}|${r.get(2)}"
    builtFull.getOrElseUpdate((sfDir, fp), {
      val name = s"graft_dedupf_${Bucketing.nameSuffix(sfDir + "|" + fp)}"
      build(spark, docs, "text", "doc_id", name)
      name
    })
  }
}
