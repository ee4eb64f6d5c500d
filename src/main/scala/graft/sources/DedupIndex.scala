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
  *   - `<name>_bands` (doc_id, bkh): one row per (doc, band) with the
  *     injective composite key bkh = band · 2^40 + bandHash (band < 16,
  *     hash < 2^30 — no overlap), bucketed by bkh. The banded candidate
  *     join becomes a SINGLE-KEY equi-join whose stored side is already
  *     hash-distributed — no corpus-side shuffle, ever.
  *   - `<name>_shingles` (id, shingle), bucketed by id: the exact-
  *     Jaccard verifier's corpus side, read only for candidate docs
  *     (left-semi on the candidate ids) and joined shuffle-free on the
  *     bucket key.
  *   - `<name>_sizes` (id, n), bucketed by id: per-doc shingle counts
  *     for the Jaccard denominator.
  *
  * Serving ([[dedupAgainst]]) computes the FRESH batch's bands and
  * shingles (|fresh| work) and admits exactly what
  * `incrementalDedup(portable = true)` admits — pinned row-for-row in
  * DedupIndexSpec, so the stored layout changes cost, never answers.
  * [[append]] closes the ingest loop: admitted docs join the index
  * (bands + shingles + sizes inserted with the tables' bucket specs),
  * so the next batch dedups against corpus ∪ admitted with no rebuild.
  *
  * 100 TB shape: the per-batch cost drops from O(|corpus| + |fresh|)
  * signature derivation to O(|fresh|) + a bucket-aligned probe of the
  * stored postings; the corpus's text is never read at all (bands and
  * shingles are the only columns the verifier touches). Uses the
  * PORTABLE mixer hashes so the DuckDB oracle replays the stored keys
  * term for term. */
object DedupIndex {

  /** (doc_id, bkh) band-key rows via the portable
    * [[graft.functions.MinHashBands]] — bkh = band · 2^40 + bandHash,
    * injective, so one-key equality ≡ (band, bandHash) equality. */
  private def bandRows(docs: DataFrame, textCol: String, idCol: String,
      k: Int, numHashes: Int, bands: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        graft.functions.MinHashBands.minhashBands(
          split(col(textCol), "\\s+"), k, numHashes, bands).as("sig"))
      .where(col("sig").isNotNull)
      .select(col("doc_id"), explode(array((0 until bands).map(b =>
        element_at(col("sig"), b + 1) + lit(b * 1099511627776L)): _*))
        .as("bkh"))

  /** [[build]] at the [[Bucketing.autoBuckets]] dial. The sizing row
    * count is the bands table's |docs| × bands — known analytically, so
    * no derivation runs twice; shingles/sizes share the bucket count
    * (one dial per index, the family contract). Returns the chosen
    * bucket count. */
  def buildAuto(spark: SparkSession, corpus: DataFrame, textCol: String,
      idCol: String, name: String, k: Int = 3, numHashes: Int = 64,
      bands: Int = 16,
      basePath: String = IvfIndex.defaultBase): Int = {
    val kb = Bucketing.autoBuckets(corpus.count() * bands)
    build(spark, corpus, textCol, idCol, name, k, numHashes, bands,
      buckets = kb, basePath = basePath)
    kb
  }

  def build(spark: SparkSession, corpus: DataFrame, textCol: String,
      idCol: String, name: String, k: Int = 3, numHashes: Int = 64,
      bands: Int = 16, buckets: Int = 16,
      basePath: String = IvfIndex.defaultBase): Unit = {
    // each table hash-partitioned by its bucket column before the
    // bucketed write: one file per bucket, not tasks × buckets (the
    // IvfIndex.build recipe)
    bandRows(corpus, textCol, idCol, k, numHashes, bands)
      .repartition(col("bkh"))
      .write.mode("overwrite").format("parquet")
      .option("path", s"$basePath/${name}_bands")
      .bucketBy(buckets, "bkh").sortBy("bkh")
      .saveAsTable(s"${name}_bands")
    val sh = Dedup.shingles(corpus, textCol, idCol, k)
    sh.repartition(col("id"))
      .write.mode("overwrite").format("parquet")
      .option("path", s"$basePath/${name}_shingles")
      .bucketBy(buckets, "id").sortBy("id")
      .saveAsTable(s"${name}_shingles")
    sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
      .repartition(col("id"))
      .write.mode("overwrite").format("parquet")
      .option("path", s"$basePath/${name}_sizes")
      .bucketBy(buckets, "id").sortBy("id")
      .saveAsTable(s"${name}_sizes")
  }

  /** Admit the fresh rows not near-duplicating the INDEXED corpus —
    * byte-identical semantics to
    * `Dedup.incrementalDedup(fresh, corpus, portable = true)`, with the
    * corpus derivation read from the stored layout instead of
    * recomputed. */
  def dedupAgainst(spark: SparkSession, name: String, fresh: DataFrame,
      textCol: String, idCol: String, k: Int = 3, numHashes: Int = 64,
      bands: Int = 16, tau: Double = 0.8): DataFrame = {
    val fBand = bandRows(fresh, textCol, idCol, k, numHashes, bands)
      .select(col("doc_id").as("fid"), col("bkh"))
    val cand = fBand
      .join(spark.table(s"${name}_bands")
        .select(col("doc_id").as("cid"), col("bkh")), "bkh")
      .select(col("fid"), col("cid")).distinct()
      .localCheckpoint()
    val fSh = Dedup.shingles(fresh, textCol, idCol, k)
      .join(cand.select(col("fid").as("id")).distinct(), Seq("id"),
        "left_semi")
    val cSh = spark.table(s"${name}_shingles")
      .join(cand.select(col("cid").as("id")).distinct(), Seq("id"),
        "left_semi")
    val fSize = fSh.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val dup = cand
      .join(fSh.select(col("id").as("fid"), col("shingle")), "fid")
      .join(cSh.select(col("id").as("cid"), col("shingle")),
        Seq("cid", "shingle"))
      .groupBy(col("fid"), col("cid")).agg(count(lit(1)).as("c"))
      .join(fSize.select(col("id").as("fid"), col("n").as("nf")), "fid")
      .join(spark.table(s"${name}_sizes")
        .select(col("id").as("cid"), col("n").as("nc")), "cid")
      .where(round(col("c") / (col("nf") + col("nc") - col("c")), 4) >= tau)
      .select(col("fid").as(idCol)).distinct()
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
      textCol: String, idCol: String, k: Int = 3, numHashes: Int = 64,
      bands: Int = 16): Unit = {
    Bucketing.appendAligned(spark,
      bandRows(admitted, textCol, idCol, k, numHashes, bands), s"${name}_bands")
    val sh = Dedup.shingles(admitted, textCol, idCol, k).localCheckpoint()
    Bucketing.appendAligned(spark, sh, s"${name}_shingles")
    Bucketing.appendAligned(spark,
      sh.groupBy(col("id")).agg(count(lit(1)).as("n")), s"${name}_sizes")
  }

  /** Maintenance: rewrite all three appended tables one-file-per-bucket
    * under their own bucket specs ([[Compact.compactTable]]; the
    * [[IvfIndex.compact]] contract — answers and pruned plans
    * unchanged, run from the maintenance window that owns `append`). */
  def compact(spark: SparkSession, name: String): Map[String, (Long, Long)] =
    Seq(s"${name}_bands", s"${name}_shingles", s"${name}_sizes")
      .map(t => t -> Compact.compactTable(spark, t)).toMap

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
