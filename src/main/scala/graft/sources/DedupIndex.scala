package graft.sources

import org.apache.spark.rdd.PartitionPruningRDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.RowsBridge

import graft.core.JobLabel
import graft.llm.Dedup

/** PERSISTED near-dup index — the dedup-family twin of [[IvfIndex]]
  * (same round-12 thesis: stop re-deriving the query-time layout every
  * batch). [[Dedup.incrementalDedup]] is cross-only — it never
  * re-deduplicates the corpus — but it still RE-COMPUTES the corpus's
  * MinHash band keys and shingle sets on every crawl batch: |corpus| ×
  * signature work re-paid for an identical answer. This index writes
  * that derivation to disk once, as three bucketed tables:
  *
  *   - `<name>_bands` (doc_id, bkh): one row per (doc, band) —
  *     [[Dedup.bandKeys]]' injective composite key bkh = bandHash +
  *     band · 2^40 — bucketed by bkh, so the fresh keys prune the
  *     probe to the buckets they hash to.
  *   - `<name>_shingles` (id, shingle), bucketed by id: the exact-
  *     Jaccard verifier's corpus side, read bucket by bucket, each
  *     bucket meeting the candidates routed to it.
  *   - `<name>_sizes` (id, n), bucketed by id: per-doc shingle counts,
  *     kept for maintenance and monitoring; the gate derives sizes from
  *     the shingle sets.
  *
  * Build, [[append]] and [[dedupAgainst]] band and shingle under
  * Dedup's one fixed admission parameter set, so a probe always matches
  * the index it reads. Serving derives only the FRESH batch's bands and
  * shingles (|fresh| work) and runs the one admission kernel
  * ([[Dedup.admit]], also behind `incrementalDedup`) over the stored
  * tables: a per-task hash probe of the stored band keys, then a
  * per-bucket exact-Jaccard verify — at most three Spark jobs, no
  * stored row shuffled. So it admits exactly what `incrementalDedup`
  * admits — the stored layout changes cost, never answers. [[append]]
  * closes the ingest loop: the admitted batch is derived once on the
  * driver by the gate's own derive step ([[Dedup.derive]]) and each
  * row is placed in the bucket the writer files it under
  * ([[Bucketing.appendAligned]]) — three write jobs, no shuffle — so
  * the next batch dedups against corpus ∪ admitted with no rebuild.
  * Ids are stored as bigint. [[build]] stays the bulk path.
  *
  * 100 TB shape: the per-batch cost drops from O(|corpus| + |fresh|)
  * signature derivation to O(|fresh|) + a bucket-pruned probe of the
  * stored band keys + one pass over the shingle buckets that hold a
  * candidate; the corpus's text is never read at all (bands and
  * shingles are the only columns the verifier touches). The band keys
  * are PORTABLE mixer hashes, so the DuckDB oracle replays the stored
  * keys term for term. */
object DedupIndex {

  /** Bucket count shared by all three tables. */
  private val Buckets = 16

  /** The three tables by suffix, each with its document-id column. */
  private val Keyed = Seq("_bands" -> "doc_id", "_shingles" -> "id", "_sizes" -> "id")

  /** The index's tables, in a fixed order: `<name>_bands`,
    * `<name>_shingles`, `<name>_sizes` — the list its maintenance and
    * removal passes and every stream-ingest refresh read. */
  def tables(spark: SparkSession, name: String): Seq[String] = Keyed.map(name + _._1)

  /** Build the three tables under `basePath`, each created by
    * [[Bucketing.create]] bucketed and sorted by its key (one file per
    * bucket); appends, compactions and removals keep them there. Ids
    * are stored as bigint, the type the gate reads and append writes. */
  def build(spark: SparkSession, corpus: DataFrame, textCol: String,
      idCol: String, name: String,
      basePath: String = Bucketing.defaultBase): Unit = {
    val docs = corpus.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
    def write(rows: DataFrame, key: String, table: String): Unit =
      Bucketing.create(spark, rows, s"${name}_$table", s"$basePath/${name}_$table",
        Some(BucketSpec(Buckets, Seq(key), Seq(key))))
    write(Dedup.bandRows(docs, "text", "id"), "bkh", "bands")
    val sh = Dedup.shingles(docs, "text", "id", Dedup.AdmitK)
    write(sh, "id", "shingles")
    write(Dedup.shingleCounts(sh), "id", "sizes")
  }

  /** Admit the fresh rows not near-duplicating the INDEXED corpus — the
    * answer of `Dedup.incrementalDedup(fresh, corpus)`, from the same
    * kernel ([[Dedup.admit]]) reading the stored tables where they lie:
    * the probe scans only the `_bands` buckets the fresh keys hash to,
    * and the verify zips each `_shingles` bucket that holds a candidate
    * with the candidates routed to it. At most three Spark jobs, described `"dedupAgainst derive"`,
    * `"dedupAgainst probe"` and `"dedupAgainst verify"`; no stored row is
    * shuffled, and `<name>_sizes` is not read (sizes come from the
    * shingle sets). Returns the admitted rows, `idCol` first, as a local
    * frame. */
  def dedupAgainst(spark: SparkSession, name: String, fresh: DataFrame,
      textCol: String, idCol: String, tau: Double = 0.8): DataFrame = {
    val shingles = Bucketing.bucketRows(spark, s"${name}_shingles", "id", "shingle")
    Dedup.admit(spark, "dedupAgainst", fresh, textCol, idCol, tau,
      keys => {
        val bands = Bucketing.bucketRows(spark, s"${name}_bands", "doc_id", "bkh")
        PartitionPruningRDD.create(bands,
          keys.map(Bucketing.bucketOf(_, bands.getNumPartitions)).toSet)
      },
      shingles.getNumPartitions,
      () => shingles.map(r => (r.getLong(0), r.getUTF8String(1))))
  }

  /** Ingest ADMITTED docs into the index, so the next batch dedups
    * against corpus ∪ admitted with no rebuild. The batch is derived
    * once, on the driver, by the gate's derive step ([[Dedup.derive]]:
    * no Spark job for a local frame, such as [[dedupAgainst]] returns),
    * and its band keys, shingles and per-doc shingle counts go to the
    * three tables by [[Bucketing.appendAligned]]: one write job each,
    * at most one file per bucket. Jobs are described `"dedupAppend
    * derive"` and `"dedupAppend write"`. The caller owns id freshness
    * (the [[IvfIndex.append]] contract) — admitted rows come out of
    * [[dedupAgainst]], which guarantees they are not near-dups of
    * anything already indexed. */
  def append(spark: SparkSession, name: String, admitted: DataFrame,
      textCol: String, idCol: String): Unit =
    JobLabel.around(spark.sparkContext, "dedupAppend") { label =>
      label("derive")
      val docs = RowsBridge.collect(Dedup.derive(admitted, textCol, idCol)).toSeq
      def id(r: InternalRow): Any = if (r.isNullAt(0)) null else r.getLong(0)
      val sets = docs.filter(r => !r.isNullAt(2) && r.getArray(2).numElements() > 0)
      label("write")
      Bucketing.appendAligned(spark, docs.filter(!_.isNullAt(1)).flatMap(r =>
        Dedup.bandKeys(r.getArray(1)).map(k => InternalRow(id(r), k))), s"${name}_bands")
      Bucketing.appendAligned(spark, sets.flatMap { r =>
        val set = r.getArray(2)
        (0 until set.numElements()).map(i => InternalRow(id(r), set.getUTF8String(i)))
      }, s"${name}_shingles")
      val sizes = sets.groupMapReduce(id)(_.getArray(2).numElements().toLong)(_ + _)
      Bucketing.appendAligned(spark, sizes.map { case (i, n) => InternalRow(i, n) }.toSeq,
        s"${name}_sizes")
    }

  /** Scheduled maintenance: compact exactly the fragmented [[tables]],
    * else no-op ([[Compact.maintainTables]], r13 verdict #3). */
  def maintain(spark: SparkSession, name: String,
      maxFilesPerBucket: Double = 4.0): Map[String, (Long, Long)] =
    Compact.maintainTables(spark, tables(spark, name), maxFilesPerBucket)

  /** Maintenance: DELETE documents from the admission index (takedowns,
    * privacy erasure — and the semantic consequence matters here: a
    * removed document stops VETOING future near-copies, so a re-crawled
    * twin of an erased page is admitted again, exactly the erasure
    * contract). One [[Compact.removeIds]] pass over the three tables —
    * bands by doc_id, shingles/sizes by id; serve plans and the
    * dedupAgainst probe shape untouched (IndexRemoveSpec). Maintenance
    * window only. */
  def remove(spark: SparkSession, name: String, ids: DataFrame,
      idCol: String = "doc_id"): Map[String, (Long, Long)] =
    Compact.removeIds(spark, ids, idCol, Keyed.map { case (t, k) => (name + t, k) })

  /** Memoized build over the fixture's standard corpus split (the
    * q_incremental_dedup mixer gate: fresh = hashSample 0.2, corpus =
    * the rest), keyed by (sfDir, data fingerprint) — the
    * [[IvfIndex.ensureBuilt]] discipline. */
  def ensureBuilt(spark: SparkSession, sfDir: String): String =
    Bucketing.memoBuilt(spark, sfDir, "graft_dedup") { name =>
      val docs = graft.Tables.documents(spark, sfDir)
      val fresh = graft.llm.Sampling.hashSample(docs, "doc_id", 0.2)
      val corpus = docs.join(fresh.select(col("doc_id")), Seq("doc_id"),
        "left_anti")
      build(spark, corpus, "text", "doc_id", name)
    }

  /** Memoized build over the FULL documents corpus — the text leg of
    * the composed multimodal crawl gate
    * ([[graft.multimodal.CrawlAdmit]]): the whole fixture corpus is
    * stored, the batch arrives entirely fresh (unlike [[ensureBuilt]]'s
    * mixer split, where 20 % of the corpus plays the batch). */
  def ensureBuiltFull(spark: SparkSession, sfDir: String): String =
    Bucketing.memoBuilt(spark, sfDir, "graft_dedupf") { name =>
      build(spark, graft.Tables.documents(spark, sfDir), "text", "doc_id",
        name)
    }
}
