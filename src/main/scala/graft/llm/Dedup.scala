package graft.llm

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.RowsBridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.JobLabel
import graft.functions.ShingleJaccard
import graft.sources.Bucketing

/** Deduplication operators for large-scale training-data pipelines —
  * the north-star extras of SURVEY.md §7.2.8, built on the reference's
  * cull/collate machinery (`oink/reduce_cull.cpp` = exact dedup of
  * identical keys) generalized to content and near-duplicate identity.
  *
  * Scale design (100 TB):
  *  - exact dedup shuffles 16-byte digests, never full documents;
  *  - MinHash: signatures are H=64 longs per doc computed in one
  *    zero-shuffle native projection ([[graft.functions.MinHashSig]]);
  *    banding turns all-pairs into an equi-join on the band key — the
  *    classic shuffle-lean LSH join. [[minHashLshPairs]] verifies by
  *    signature overlap; every other MinHash path verifies candidates by
  *    exact shingle Jaccard with ONE arithmetic
  *    ([[graft.functions.ShingleJaccard]]) over per-doc sorted shingle
  *    sets of candidate documents only;
  *  - cross admission ([[incrementalDedup]], [[graft.sources.DedupIndex]])
  *    is one kernel ([[admit]]) that bands with the portable
  *    [[graft.functions.MinHashBands]] under one fixed parameter set, so
  *    a stored index and its probe always agree and a SQL oracle replays
  *    the exact candidate set;
  *  - SimHash: 64 codegen'd bit-sum aggregations → one long fingerprint;
  *    candidate pairs via 16-bit band buckets, verified with bit_count(xor);
  *  - exact n-gram Jaccard is the quadratic truth oracle — intended for
  *    validation at test scale, not the 100 TB path.
  */
object Dedup {

  /** Distinct word k-shingles as an array column (no explode), via the
    * native [[graft.functions.ShingleArray]] expression — one codegen'd
    * pass over the raw split() tokens. (History: a per-index
    * `element_at` lambda is O(words²) — Catalyst re-inlines the split()
    * alias into every access; the shifted-slice + zip_with chain that
    * replaced it was linear but CodegenFallback, dropping every shingle
    * projection out of whole-stage codegen.) */
  def shingleArray(text: Column, k: Int): Column =
    graft.functions.ShingleArray.shingles(split(text, "\\s+"), k)

  /** Distinct word k-shingles per document: (id, shingle). A narrow,
    * under-partitioned input is spread across the cores first
    * ([[graft.core.Spread.acrossCores]]): at bench scale the corpus is
    * ONE parquet split, and the tokenize + shingle map ran as a single
    * task (stage-profiled r19: 1.5 s serial on q_ngram_jaccard_pairs). */
  def shingles(docs: DataFrame, textCol: String, idCol: String, k: Int = 3): DataFrame =
    graft.core.Spread.acrossCores(docs, idCol).select(col(idCol).as("id"),
      explode(shingleArray(col(textCol), k)).as("shingle"))

  /** Decontamination: flag training documents that share any word
    * k-shingle with an evaluation/test corpus — the standard train/test
    * overlap scrub of LLM data pipelines (the dedup machinery pointed
    * across two corpora instead of within one). One equi-join on the
    * shingle: the eval side is benchmarks — tiny next to 100 TB of
    * training data — so Catalyst broadcasts it and the training corpus
    * is never shuffled. Returns (doc_id, n_shared_shingles) for every
    * CONTAMINATED training doc; clean docs are absent. */
  def decontaminate(train: DataFrame, test: DataFrame,
      textCol: String, idCol: String, k: Int = 3): DataFrame = {
    val trainSh = shingles(train, textCol, idCol, k)
    // the eval set is small by construction (benchmarks, not corpora) —
    // broadcast it EXPLICITLY so the training corpus never shuffles at
    // any scale, rather than leaving the choice to runtime stats
    val testSh = broadcast(test.select(
      explode(shingleArray(col(textCol), k)).as("shingle")).distinct())
    trainSh.join(testSh, "shingle")
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_shared_shingles"))
      .select(col("doc_id"), col("n_shared_shingles"))
  }

  /** Contamination SCORE: the graded form of [[decontaminate]] — for
    * EVERY training document with at least one k-shingle, the fraction
    * of its distinct shingles that appear anywhere in the eval corpus.
    * [[decontaminate]] answers "touched at all?"; thresholding this
    * overlap is how pipelines actually adjudicate partial contamination
    * (a boilerplate shingle shared with a benchmark is not a leaked
    * benchmark item). Same plan shape as decontaminate — eval side
    * broadcast and deduplicated, training corpus never shuffled before
    * its own per-doc aggregate — with the join flipped to a marking
    * left-outer so clean documents score 0.0 instead of vanishing.
    * Returns (doc_id, n_shingles, n_shared, overlap ∈ [0,1], 6dp). */
  def contaminationScore(train: DataFrame, test: DataFrame,
      textCol: String, idCol: String, k: Int = 3): DataFrame = {
    val trainSh = shingles(train, textCol, idCol, k)
    val testSh = broadcast(test.select(
        explode(shingleArray(col(textCol), k)).as("shingle")).distinct()
      .withColumn("_hit", lit(1L)))
    trainSh.join(testSh, Seq("shingle"), "left")
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_shared"))
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_shingles"), 6)
          .as("overlap"))
  }

  /** Exact dedup (`cull` over content hashes): one row per distinct
    * content, keeping the smallest id; group size included. */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup on whitespace/case-normalized content. Normalization is
    * the native one-scan [[graft.functions.NormalizeText]] (the per-row
    * regex engine dominated this path); byte-identical to
    * `trim(regexp_replace(lower(text), "\\s+", " "))`. */
  def exactNormalized(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(md5(graft.functions.NormalizeText.normalize(col(textCol))).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact all-pairs n-gram Jaccard ≥ tau — quadratic truth baseline.
    * Shingles appearing in a single document can't contribute to any
    * pair, so they're dropped before the self-join (the join input is
    * typically dominated by them). */
  def jaccardPairs(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 3, tau: Double = 0.8): DataFrame = {
    val sh = shingles(docs, textCol, idCol, k).localCheckpoint()
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val sharedShingles = sh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df")).where(col("df") > 1)
      .select(col("shingle"))
    val sh2 = sh.join(sharedShingles, Seq("shingle"), "left_semi")
    val shared = sh2.select(col("id").as("da"), col("shingle"))
      .join(sh2.select(col("id").as("db"), col("shingle")), "shingle")
      .where(col("da") < col("db"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("c"))
    shared
      .join(sizes.select(col("id").as("da"), col("n").as("na")), "da")
      .join(sizes.select(col("id").as("db"), col("n").as("nb")), "db")
      .select(col("da"), col("db"),
        round(col("c") / (col("na") + col("nb") - col("c")), 4).as("jaccard"))
      .where(col("jaccard") >= tau)
  }

  /** Incremental ingestion dedup: admit only FRESH documents with no
    * near-duplicate (exact shingle Jaccard ≥ tau among banded MinHash
    * candidates) in the EXISTING corpus — the per-crawl-batch step of a
    * growing corpus, where re-deduplicating the whole corpus per batch
    * is the scale anti-pattern. The [[admit]] kernel over the corpus's
    * derived band rows and shingles, routed by id into
    * `spark.sql.shuffle.partitions` partitions in place of the stored
    * buckets [[graft.sources.DedupIndex]] reads: cross-only, and the
    * same answer as the stored index over the same corpus. Returns the
    * admitted fresh rows, `idCol` first. */
  def incrementalDedup(fresh: DataFrame, corpus: DataFrame, textCol: String,
      idCol: String, tau: Double = 0.8): DataFrame = {
    val spark = fresh.sparkSession
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    admit(spark, "incrementalDedup", fresh, textCol, idCol, tau,
      _ => bandRows(corpus, textCol, idCol).queryExecution.toRdd,
      parts,
      () => Bucketing.route(corpus.select(col(idCol).cast("long"),
          explode(shingleArray(col(textCol), AdmitK)))
        .queryExecution.toRdd.flatMap { r =>
          if (r.isNullAt(0)) None
          else Some((Bucketing.bucketOf(r.getLong(0), parts),
            (r.getLong(0), r.getUTF8String(1).copy())))
        }, parts))
  }

  /** Cross-admission index parameters: word 3-shingles, 64 MinHash
    * functions in 16 bands of 4. One set for [[incrementalDedup]] and for
    * every [[graft.sources.DedupIndex]] build, append and probe — an
    * index banded under other parameters than its probe would match no
    * band key and silently admit everything. */
  private[graft] val AdmitK = 3
  private val AdmitHashes = 64
  private val AdmitBands = 16

  /** The derive step of cross admission: `docs`' `out` columns, then per
    * row the id as a bigint (`id`), the [[graft.functions.MinHashBands]]
    * band hashes (`sig`, null under [[AdmitK]] words) and the sorted set
    * of distinct word [[AdmitK]]-shingles (`sh`). [[admit]] reads the
    * fresh batch through it, `DedupIndex.append` the admitted one, and
    * [[bandRows]] a corpus. */
  private[graft] def derive(docs: DataFrame, textCol: String, idCol: String,
      out: Seq[Column] = Nil): DataFrame =
    docs.select(out ++ Seq(col(idCol).cast("long").as("id"),
      graft.functions.MinHashBands.minhashBands(split(col(textCol), "\\s+"),
        AdmitK, AdmitHashes, AdmitBands).as("sig"),
      sort_array(shingleArray(col(textCol), AdmitK)).as("sh")): _*)

  /** The band keys of band hashes `sig`: band b's key is sig(b) + b·2^40.
    * The band hash is < 1e9+7 < 2^30, so the key is injective and
    * one-key equality ≡ (band, bandHash) equality. */
  private[graft] def bandKeys(sig: ArrayData): Array[Long] =
    Array.tabulate(AdmitBands)(b => sig.getLong(b) + b * (1L << 40))

  /** (doc_id bigint, bkh) cross-admission band-key rows of `docs`: the
    * [[bandKeys]] of each [[derive]]d signature. Docs with fewer than
    * [[AdmitK]] words have no band rows. */
  private[graft] def bandRows(docs: DataFrame, textCol: String,
      idCol: String): DataFrame =
    RowsBridge.frame(docs.sparkSession,
      derive(docs, textCol, idCol).select(col("id"), col("sig")).queryExecution.toRdd
        .flatMap { r =>
          if (r.isNullAt(1)) Iterator.empty
          else {
            val id = if (r.isNullAt(0)) null else r.getLong(0)
            bandKeys(r.getArray(1)).iterator.map(k => InternalRow(id, k))
          }
        },
      StructType(Seq(StructField("doc_id", LongType), StructField("bkh", LongType))))

  /** (id, n): distinct shingles per document. */
  private[graft] def shingleCounts(sh: DataFrame): DataFrame =
    sh.groupBy(col("id")).agg(count(lit(1)).as("n"))

  /** (id, sh): each document's distinct word k-shingles sorted in byte
    * order — the set form [[graft.functions.ShingleJaccard]] reads. */
  private[graft] def shingleSets(docs: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame =
    graft.core.Spread.acrossCores(docs, idCol).select(col(idCol).as("id"),
      sort_array(shingleArray(col(textCol), k)).as("sh"))

  /** The exact-Jaccard verify stage of the candidate→verify pair paths:
    * candidate pairs (da, db) and the [[shingleSets]] of (at least) the
    * candidate documents. Each pair meets both sets by id and scores
    * [[graft.functions.ShingleJaccard]] — the arithmetic the [[admit]]
    * kernel runs per task. Returns (da, db, jaccard) with jaccard =
    * round(c / (na + nb − c), 4) ≥ tau over pairs sharing a shingle. */
  private[graft] def verifiedPairs(cand: DataFrame, sets: DataFrame,
      tau: Double): DataFrame =
    cand
      .join(sets.select(col("id").as("da"), col("sh").as("sa")), "da")
      .join(sets.select(col("id").as("db"), col("sh").as("sb")), "db")
      .select(col("da"), col("db"),
        ShingleJaccard.jaccard(col("sa"), col("sb")).as("jaccard"))
      .where(col("jaccard") >= tau)

  /** The fresh batch as the [[admit]] kernel holds it: per row, the id
    * and the sorted shingle set, and each band key's rows (`byKey`).
    * Rows with a null id or without band keys are in no `byKey` entry,
    * so they are never candidates. */
  private final case class FreshSide(ids: Array[Long], sets: Array[ArrayData],
      byKey: Map[Long, Array[Int]])

  /** The one admission kernel: the fresh rows with no near-duplicate
    * (exact shingle Jaccard ≥ tau, [[graft.functions.ShingleJaccard]]) among
    * their band-key candidates in a corpus. At most three Spark jobs,
    * described `"<op> derive"`, `"<op> probe"` and `"<op> verify"`:
    *
    *   - derive: the fresh rows with their [[bandKeys]] and sorted
    *     shingle sets ([[derive]]), collected once (no job for a local
    *     batch) and broadcast;
    *   - probe: `corpusBands(keys)` — corpus (doc_id, bkh) rows, in any
    *     partitioning, holding at least those among the fresh `keys` —
    *     hash-probed per task against the fresh keys; each task addresses
    *     one block of (fresh row, corpus id) candidates to each
    *     `corpusShingles` partition holding a candidate
    *     ([[Bucketing.bucketOf]] of the corpus id), kept
    *     local-checkpointed;
    *   - verify (skipped with no candidate): the blocks routed by one
    *     shuffle and zipped with `corpusShingles` — (id, shingle) rows
    *     whose partition i holds exactly the ids of bucket i — over the
    *     partitions that received one; each task gathers its candidate
    *     ids' shingle sets and keeps the fresh ids that pass.
    *
    * The corpus side is read where it lies, never shuffled, and
    * candidates never reach the driver. Returns the admitted rows, `idCol`
    * first, as a local frame. */
  private[graft] def admit(spark: SparkSession, op: String, fresh: DataFrame,
      textCol: String, idCol: String, tau: Double,
      corpusBands: Seq[Long] => RDD[InternalRow], parts: Int,
      corpusShingles: () => RDD[(Long, UTF8String)]): DataFrame =
    JobLabel.around(spark.sparkContext, op) { label =>
      val sc = spark.sparkContext
      label("derive")
      val out = (idCol +: fresh.columns.filter(_ != idCol)).map(fresh.col)
      val derived = derive(fresh, textCol, idCol, out)
      val rows = RowsBridge.collect(derived)
      val n = out.length
      val byKey = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Int]]
      for ((r, i) <- rows.zipWithIndex if !r.isNullAt(n) && !r.isNullAt(n + 1);
          key <- bandKeys(r.getArray(n + 1)))
        byKey.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += i
      val side = FreshSide(rows.map(_.getLong(n)), rows.map(_.getArray(n + 2)),
        byKey.map { case (key, is) => key -> is.toArray }.toMap)
      val dups =
        if (byKey.isEmpty) Set.empty[Long]
        else refused(sc, label, side, tau, () => corpusBands(byKey.keys.toSeq),
          parts, corpusShingles)
      val schema = StructType(derived.schema.take(n))
      RowsBridge.local(spark, rows.iterator.filter(r => r.isNullAt(n) || !dups(r.getLong(n)))
        .map(r => InternalRow.fromSeq(schema.fields.indices.map(i =>
          r.get(i, schema(i).dataType)))).toSeq, schema)
    }

  /** The probe and verify jobs of [[admit]]: the ids of the fresh rows
    * that near-duplicate a corpus document. */
  private def refused(sc: org.apache.spark.SparkContext, label: JobLabel,
      side: FreshSide, tau: Double, bands: () => RDD[InternalRow], parts: Int,
      shingles: () => RDD[(Long, UTF8String)]): Set[Long] = {
    val fresh = sc.broadcast(side)
    try {
      label("probe")
      val cand = bands().mapPartitions { rows =>
        val f = fresh.value
        val to = mutable.HashMap.empty[Int,
          (mutable.ArrayBuilder.ofInt, mutable.ArrayBuilder.ofLong)]
        rows.foreach { r =>
          if (!r.isNullAt(0)) f.byKey.get(r.getLong(1)).foreach { is =>
            val db = r.getLong(0)
            val (a, b) = to.getOrElseUpdate(Bucketing.bucketOf(db, parts),
              (new mutable.ArrayBuilder.ofInt, new mutable.ArrayBuilder.ofLong))
            is.foreach { i => a += i; b += db }
          }
        }
        to.iterator.map { case (p, (a, b)) => (p, (a.result(), b.result())) }
      }.localCheckpoint()
      try {
        val targets = sc.runJob(cand, (it: Iterator[(Int, _)]) => it.map(_._1).toArray)
          .flatten.distinct.sorted
        if (targets.isEmpty) Set.empty
        else {
          label("verify")
          val verified = shingles().zipPartitions(Bucketing.route(cand, parts)) { (sh, blocks) =>
            val f = fresh.value
            val want = mutable.HashMap.empty[Long, mutable.Set[Int]]
            blocks.foreach { case (is, dbs) =>
              for (j <- is.indices) want.getOrElseUpdate(dbs(j), mutable.Set.empty) += is(j)
            }
            val got = mutable.HashMap.empty[Long, mutable.ArrayBuffer[UTF8String]]
            sh.foreach { case (id, s) =>
              if (s != null && want.contains(id))
                got.getOrElseUpdate(id, mutable.ArrayBuffer.empty) += s.copy()
            }
            want.iterator.flatMap { case (db, is) =>
              val set = sortedSet(got.getOrElse(db, mutable.ArrayBuffer.empty))
              is.iterator.filter(i => ShingleJaccard.jaccard(f.sets(i), set) >= tau).map(f.ids)
            }
          }
          sc.runJob(verified, (it: Iterator[Long]) => it.toArray, targets.toSeq).flatten.toSet
        }
      } finally cand.unpersist(blocking = false)
    } finally fresh.destroy()
  }

  /** `shingles` as a set: distinct, sorted in byte order. */
  private def sortedSet(shingles: mutable.ArrayBuffer[UTF8String]): ArrayData =
    new GenericArrayData(shingles.distinct.sortWith(_.binaryCompare(_) < 0).toArray[Any])

  /** EXACT incremental dedup with a Bloom pre-filter: admit fresh
    * documents whose normalized content fingerprint is not in the
    * corpus. The corpus fingerprints build a Bloom filter with Spark's
    * own runtime-filter machinery (`BloomFilterAggregate` /
    * `BloomFilterMightContain` — codegen'd Catalyst expressions, the
    * same ones AQE injects for runtime join pruning); the bloom rides
    * into the batch scan as a CONSTANT, so at 100 TB the expensive
    * fingerprint equi-join only sees the bloom's survivors — true
    * duplicates plus an fpp-bounded trickle of false positives — and
    * the final exact semi-join makes the answer bloom-INVARIANT (false
    * positives are weeded, false negatives are impossible), which is
    * why the oracle is plain set difference. The driver holds the bloom
    * between build and use exactly as Spark's injected runtime filters
    * do (a scalar-subquery result); its size is ~1.2 GB per 10⁹ corpus
    * items at fpp=1 % — raise fpp or shard the corpus beyond that.
    *
    * Sizing caveat: `BloomFilterAggregate` silently clamps its
    * estimatedNumItems / numBits arguments to
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` (default 4M)
    * and `...maxNumBits` (default 67108864 ≈ 8 MB) — sized for AQE's
    * injected join filters, not a corpus sketch. Past a few million
    * corpus items the default-capped bloom saturates and the prefilter
    * stops pruning (still correct — the exact semi-join weeds the flood
    * — just no longer cheap). So the build aggregate runs in an
    * ISOLATED child session (same SparkContext, fresh SQL conf —
    * [[org.apache.spark.sql.graftbridge.SessionBridge]]) with the caps
    * raised to this build's computed size: the documented ~1.2 GB per
    * 10⁹ items sizing actually materializes, concurrent queries on the
    * caller's session never observe the raised caps, and two concurrent
    * builds can't race a save/restore (there is none — the child
    * session is discarded). */
  def exactIncremental(fresh: DataFrame, corpus: DataFrame, textCol: String,
      idCol: String, fpp: Double = 0.01): DataFrame = {
    val cFp = corpus.select(normalizedFp(col(textCol)).as("fp"))
    val bloomBytes = fingerprintBloom(cFp, fpp)
    val candidates = fresh
      .withColumn("_fp", normalizedFp(col(textCol)))
      .where(bloomMightContain(bloomBytes, col("_fp")))
    val dups = candidates
      .join(cFp.withColumnRenamed("fp", "_fp"), Seq("_fp"), "left_semi")
      .select(col(idCol))
    fresh.join(dups, Seq(idCol), "left_anti")
  }

  /** md5 of whitespace-normalized text — the exact-dedup fingerprint
    * every incremental variant (batch and streaming) keys on. */
  def normalizedFp(t: Column): Column =
    md5(graft.functions.NormalizeText.normalize(t))

  /** Build the corpus Bloom filter over a 1-column fingerprint frame
    * (column `fp`), sized for the ACTUAL corpus cardinality — see
    * [[exactIncremental]]'s scaladoc for why the build runs in an
    * isolated child session with the runtime-filter caps raised. The
    * returned bytes are the same constant Spark's injected runtime
    * filters carry; [[bloomMightContain]] applies them. */
  def fingerprintBloom(cFp: DataFrame, fpp: Double): Array[Byte] = {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, SessionBridge}
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val items = math.max(1L, cFp.count())
    val numBits = math.max(64L,
      (-items * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val sized = SessionBridge.isolated(cFp, Map(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems" -> items.toString,
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" ->
        math.max(numBits, 67108864L).toString))
    sized.agg(ColumnBridge.toColumn(
        new BloomFilterAggregate(
          new XxHash64(Seq(ColumnBridge.toExpression(col("fp")))),
          Literal(items), Literal(numBits)).toAggregateExpression())
        .as("bloom"))
      .head().getAs[Array[Byte]]("bloom")
  }

  /** Membership predicate of a built [[fingerprintBloom]] — a constant
    * codegen'd expression, stateless, so it applies identically to a
    * batch scan or a per-micro-batch streaming filter. */
  def bloomMightContain(bloom: Array[Byte], c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    ColumnBridge.toColumn(BloomFilterMightContain(
      Literal.create(bloom, org.apache.spark.sql.types.BinaryType),
      new XxHash64(Seq(ColumnBridge.toExpression(c)))))
  }

  /** MinHash signatures: (id, sig: array<long>) — element i = min over
    * shingles of xxhash64(shingle, seed=i), computed by the native
    * [[graft.functions.MinHashSig]] expression in one zero-shuffle
    * projection (the explode+groupBy formulation shuffles every
    * (doc, shingle) pair; this shuffles nothing). */
  def minHashSignatures(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 3, numHashes: Int = 64): DataFrame =
    // raw split, not words(): the expression skips empty tokens itself and
    // nulls short docs — a higher-order filter() here is CodegenFallback
    // and would exclude the whole projection from whole-stage codegen
    docs.select(col(idCol).as("id"),
      graft.functions.MinHashSig.minhashSig(
        split(col(textCol), "\\s+"), k, numHashes).as("sig"))
      .where(col("sig").isNotNull)

  /** MinHash+LSH near-duplicate pairs: band signatures into
    * `bands` buckets of `numHashes/bands` rows, equi-join on band hash,
    * verify candidates by signature-overlap estimate ≥ tau. */
  def minHashLshPairs(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 3, numHashes: Int = 64, bands: Int = 16,
      tau: Double = 0.7): DataFrame = {
    val sigs = minHashSignatures(docs, textCol, idCol, k, numHashes)
      .localCheckpoint() // reused: banding + both sides of verification
    val cand = selfBandCandidates(sigs, numHashes, bands)
    val sigArr = sigs.select(col("id"), col("sig"))
    cand
      .join(sigArr.select(col("id").as("da"), col("sig").as("sa")), "da")
      .join(sigArr.select(col("id").as("db"), col("sig").as("sb")), "db")
      .select(col("da"), col("db"),
        round(aggregate(zip_with(col("sa"), col("sb"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).cast("double") / numHashes, 4)
          .as("est_jaccard"))
      .where(col("est_jaccard") >= tau)
  }

  /** MinHash LSH candidates verified by EXACT shingle Jaccard — the
    * production near-dup shape whose final answer is independent of the
    * hashing: banding prunes the pair space from O(n²) to the colliding
    * pairs, then the true Jaccard is computed only for those candidates
    * (shingles are joined for candidate documents only, never all-pairs).
    * With recall-adequate banding (P[miss] = (1−J^r)^b ≈ 2·10⁻⁴ at J=0.8,
    * r=4, b=16) the output equals the exact all-pairs answer, so the
    * DuckDB n-gram-Jaccard oracle checks this plan end-to-end. */
  def minHashLshPairsExact(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 3, numHashes: Int = 64, bands: Int = 16,
      tau: Double = 0.8): DataFrame = {
    val cand = selfBandCandidates(
      minHashSignatures(docs, textCol, idCol, k, numHashes), numHashes, bands)
      .localCheckpoint()
    val candIds = cand.select(col("da").as("id"))
      .union(cand.select(col("db").as("id"))).distinct()
    val sets = shingleSets(docs, textCol, idCol, k)
      .join(candIds, Seq("id"), "left_semi")
      .localCheckpoint()
    verifiedPairs(cand, sets, tau)
  }

  /** XXH64 self-banding of MinHash signatures (id, sig): `bands` keys
    * (band, xxhash64 of the band's numHashes/bands values) per doc,
    * self-joined on the key → distinct candidate pairs (da, db), da < db. */
  private def selfBandCandidates(sigs: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val banded = sigs.select(col("id"), explode(array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        xxhash64(slice(col("sig"), b * r + 1, r)).as("bh"))): _*)).as("bk"))
    banded.select(col("id").as("da"), col("bk"))
      .join(banded.select(col("id").as("db"), col("bk")), "bk")
      .where(col("da") < col("db"))
      .select(col("da"), col("db")).distinct()
  }

  /** Fuzzy (edit-distance-verified) near-dup pairs — the
    * candidate→verify pattern with a CHARACTER-level verifier on top of
    * the shingle-level candidate machinery: pairs pass iff their exact
    * n-gram Jaccard ≥ `tauJ` (the hash-independent criterion
    * [[minHashLshPairsExact]] already certifies — banding only prunes)
    * AND their relative Levenshtein distance ≤ `maxRel` of the longer
    * text. Jaccard is blind to WHERE edits land (a shuffled bag of the
    * same shingles scores high); edit distance is the order-sensitive
    * complement retrieval-dedup pipelines verify with before dropping a
    * candidate. Both engines implement the identical classic
    * unit-cost Levenshtein, so the verifier replays exactly.
    *
    * 100 TB shape: identical to the banded pipeline it extends — the
    * only addition is the Levenshtein evaluation on the SURVIVING
    * candidate pairs (each O(|a|·|b|) on exactly the pairs the Jaccard
    * gate admits, never all pairs), with the two texts brought to the
    * pair by the same joins that carry the shingle sets. Returns
    * (da, db, jaccard, edit_dist, rel_edit). */
  def editDistancePairs(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 3, numHashes: Int = 64, bands: Int = 16,
      tauJ: Double = 0.8, maxRel: Double = 0.3): DataFrame = {
    // tauJ must stay in the banding's high-recall regime: at 16 bands ×
    // 4 rows a true pair at J=τ is missed with prob (1 − τ⁴)¹⁶ — 2e-4
    // at τ=0.8 but 0.35 at τ=0.5, where oracle equality (which assumes
    // banding recall 1 on the corpus) would break
    require(tauJ >= 0.7, "tauJ below the 16x4 banding's recall regime")
    val cand = minHashLshPairsExact(docs, textCol, idCol, k, numHashes,
      bands, tauJ)
    val txt = docs.select(col(idCol), col(textCol))
    cand
      .join(txt.select(col(idCol).as("da"), col(textCol).as("ta")), "da")
      .join(txt.select(col(idCol).as("db"), col(textCol).as("tb")), "db")
      .select(col("da"), col("db"), col("jaccard"),
        levenshtein(col("ta"), col("tb")).cast("long").as("edit_dist"),
        round(levenshtein(col("ta"), col("tb")) /
          greatest(length(col("ta")), length(col("tb"))).cast("double"), 4)
          .as("rel_edit"))
      .where(col("rel_edit") <= maxRel)
  }

  /** Asymmetric CONTAINMENT near-dup pairs: (da, db) where
    * max(|A∩B|/|A|, |A∩B|/|B|) ≥ tau — the sub-document duplication
    * symmetric Jaccard structurally misses (a document pasted inside a
    * larger one has J ≈ |A|/|B| however perfect the copy, but
    * containment ≈ 1). Candidates are anchored on RARE shingles
    * (document frequency ≤ maxDf): a pair is considered iff it shares
    * at least one rare shingle, then the true intersection is computed
    * over the candidates' FULL shingle sets. The df cap bounds the
    * self-join fan-out deterministically (a shingle at df d contributes
    * ≤ d(d−1)/2 candidate pairs — the frequent-feature exclusion of
    * set-similarity joins), and unlike MinHash banding it makes the
    * candidate set an exact function of the corpus, so the oracle
    * replays it term for term — no probabilistic recall to adjudicate
    * (the q_incremental_dedup caveat class). Pairs sharing ONLY
    * hot shingles are excluded by definition, not missed by chance.
    *
    * `minShared` is the second deterministic dial: a pair is a
    * candidate only if it shares ≥ minShared rare shingles. A true
    * containment pair at tau shares ≥ tau·|smaller set| shingles (tens
    * for any real document), so a small minShared keeps every real pair
    * with wide margin while eliminating the coincidental-single-shingle
    * pairs that dominate low-entropy corpora (measured at sf0.1:
    * 1.12 M → 303 candidates going from minShared 1 → 5).
    *
    * 100 TB: df is one count aggregate; the candidate join runs on the
    * rare slice only and reduces to (pair, count) cells map-side;
    * verification joins shingles semi-filtered to candidate ids (the
    * [[minHashLshPairsExact]] discipline — shingles of non-candidates
    * never shuffle twice). Every stage keys on md5(shingle) DIGESTS,
    * not the shingle strings: the df aggregate, candidate self-join and
    * intersection joins shuffle fixed 16-byte-entropy keys instead of
    * strings whose width grows with vocabulary (the ×100 rehearsal
    * measured the swap at −26 % on the candidate stage — SCALE.md
    * "Where q_containment_pairs' seconds go", round 9). The DuckDB
    * oracle replays the SAME digests, so a collision (two shingles
    * merging) reproduces identically on both sides — the green stays
    * collision-exact, not no-collision-probabilistic (the
    * q_incremental_dedup replay discipline). Shingles are 3 words. */
  def containmentPairs(docs: DataFrame, textCol: String, idCol: String,
      tau: Double = 0.8, maxDf: Long = 50L,
      minShared: Long = 1L): DataFrame = {
    val sh = shingles(docs, textCol, idCol)
      .select(col("id"), md5(col("shingle")).as("shingle"))
      .localCheckpoint()
    val cand = containmentCandidates(sh, maxDf, minShared).localCheckpoint()
    val candIds = cand.select(col("da").as("id"))
      .union(cand.select(col("db").as("id"))).distinct()
    val shc = sh.join(candIds, Seq("id"), "left_semi")
    val sizes = shc.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val inter = cand
      .join(shc.select(col("id").as("da"), col("shingle")), "da")
      .join(shc.select(col("id").as("db"), col("shingle")),
        Seq("db", "shingle"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("c"))
    inter
      .join(sizes.select(col("id").as("da"), col("n").as("na")), "da")
      .join(sizes.select(col("id").as("db"), col("n").as("nb")), "db")
      .select(col("da"), col("db"),
        round(col("c") / col("na"), 4).as("cont_a"),
        round(col("c") / col("nb"), 4).as("cont_b"))
      .where(greatest(col("cont_a"), col("cont_b")) >= tau)
  }

  /** The rare-shingle-anchored candidate stage of [[containmentPairs]],
    * exposed pre-checkpoint so PlanShapeSpec can pin its shape: the
    * self-join runs ONLY on the df ≤ maxDf slice (deterministic
    * frequent-feature exclusion), keys on shingle (equi, never
    * cartesian), and the pair counts reduce map-side before the
    * minShared cut. */
  def containmentCandidates(sh: DataFrame, maxDf: Long,
      minShared: Long): DataFrame = {
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val rare = sh.join(dfreq.where(col("df") <= maxDf).select("shingle"),
      "shingle")
    rare.select(col("id").as("da"), col("shingle"))
      .join(rare.select(col("id").as("db"), col("shingle")), "shingle")
      .where(col("da") < col("db"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("_nsh"))
      .where(col("_nsh") >= minShared)
      .select(col("da"), col("db"))
  }

  /** EXACT-DIGEST COLLAPSE (the reference's `cull`-first idiom,
    * `oink/reduce_cull.cpp`, re-derived for the near-dup pipeline):
    * group byte-identical documents by raw md5 digest and return
    *   - `reps`  (idCol, textCol): ONE representative per distinct
    *     content — the min-id member, deterministic;
    *   - `members` (id, rep): every document mapped to its group's
    *     representative (rep == id for unique content).
    *
    * Why this exists (r12 verdict #1): verbatim-duplicate groups are
    * the production crawl regime, and every pair-generating stage —
    * banding candidates, Jaccard verification, Levenshtein — admits
    * O(m²) pairs from a dup group of size m (the ×10 rehearsal measured
    * q_edit_dedup at 93× for 10× data). Running the verifier on
    * representatives only makes that cost a function of DISTINCT
    * content; group members rejoin through `members` edges, which is
    * O(m) per group.
    *
    * 100 TB shape: `reps` is one groupBy(digest) whose min(struct(id,
    * text)) partial-aggregates MAP-SIDE — verbatim dups collapse before
    * the exchange, so dup-heavy input (the regime this targets) shuffles
    * ~|distinct| texts, not |corpus|; `members` shuffles (id, 16-byte
    * digest) pairs only, never text. Raw digest (not normalized): group
    * members must be byte-identical so any member verifies identically
    * to its representative against any outside document — the property
    * that makes collapsed and uncollapsed answers provably equal. */
  private[graft] def digestCollapse(docs: DataFrame, textCol: String,
      idCol: String): (DataFrame, DataFrame) = {
    val dig = docs.select(col(idCol).as("id"), md5(col(textCol)).as("digest"))
    val repOf = dig.groupBy(col("digest")).agg(min(col("id")).as("rep"))
    val members = dig.join(repOf, "digest").select(col("id"), col("rep"))
    val reps = docs
      .groupBy(md5(col(textCol)).as("digest"))
      .agg(min(struct(col(idCol).as("i"), col(textCol).as("t"))).as("m"))
      .select(col("m.i").as(idCol), col("m.t").as(textCol))
    (reps, members)
  }

  /** Near-dup CLUSTERS with the exact-digest collapse in front: the
    * pair generator/verifier (`pairsOnReps`, e.g.
    * [[minHashLshPairsExact]] or [[editDistancePairs]] applied to the
    * representative frame) runs on DISTINCT content only; duplicate
    * group members rejoin the component graph through O(m) rep→member
    * edges instead of O(m²) verified pairs. Connectivity is preserved
    * exactly: byte-identical members verify against any outside doc iff
    * their representative does, and within a group every member links
    * to the rep, so the components — and the min-id cluster labels —
    * equal the uncollapsed answer on any input (asserted dup-heavy in
    * DedupSpec and DedupScaleSpec, INCLUDING the shingle-less edge; on
    * a digest-distinct corpus the collapse is the identity and the
    * plans coincide). Output contract matches [[dedupClusters]]:
    * (doc_id, cluster) for every doc in the pair graph — which after
    * collapse means docs with an outside near-dup OR a verbatim twin
    * whose text enters banding at all.
    *
    * The shingle-less guard (r13 ADVICE): rep→member edges are emitted
    * only for groups whose representative yields ≥ 1 word k-shingle —
    * the exact banding-entry condition. A doc with < k words never
    * enters the uncollapsed banding, so its verbatim twins are NOT
    * paired there and must not acquire a cluster here (the same edge
    * [[graft.core.Collapse.expandThroughDigests]] guards via
    * [[shingleableReps]]). `k` is threaded for that predicate alone; it
    * must match the shingle size the supplied pair generator bands with. */
  def collapsedClusters(docs: DataFrame, textCol: String, idCol: String,
      k: Int)(pairsOnReps: DataFrame => DataFrame): DataFrame = {
    val (reps, members) = digestCollapse(docs, textCol, idCol)
    val repPairs = pairsOnReps(reps).select(col("da"), col("db"))
    val memberEdges = members.where(col("id") =!= col("rep"))
      .join(shingleableReps(reps, textCol, idCol, k), "rep")
      .select(col("rep").as("da"), col("id").as("db"))
    dedupClusters(repPairs.unionByName(memberEdges))
  }

  /** [[dedupClusters]] over [[minHashLshPairsExact]] with the digest
    * collapse in front — the production flagship chain, dup-heavy-safe. */
  def dedupClustersCollapsed(docs: DataFrame, textCol: String,
      idCol: String, k: Int = 3, numHashes: Int = 64, bands: Int = 16,
      tau: Double = 0.8): DataFrame =
    collapsedClusters(docs, textCol, idCol, k)(
      minHashLshPairsExact(_, textCol, idCol, k, numHashes, bands, tau))

  /** Edit-distance-verified near-dup CLUSTERS, digest-collapsed — the
    * [[editDistancePairs]] verifier (exact Jaccard ≥ tauJ AND relative
    * Levenshtein ≤ maxRel) running on representatives only. The cluster
    * form of fuzzy dedup a crawl pipeline actually materializes: the
    * pair LIST is itself O(m²) under verbatim dups (output size, not a
    * plan defect), so the linear-output cluster assignment is the
    * at-scale surface and the pair query stays the truth baseline. */
  def editDedupClustersCollapsed(docs: DataFrame, textCol: String,
      idCol: String, k: Int = 3, numHashes: Int = 64, bands: Int = 16,
      tauJ: Double = 0.8, maxRel: Double = 0.3): DataFrame =
    collapsedClusters(docs, textCol, idCol, k)(
      editDistancePairs(_, textCol, idCol, k, numHashes, bands, tauJ,
        maxRel))

  /** Groups whose representative text yields at least one word
    * k-shingle — the exact banding-entry condition, so expansion
    * self-pairs precisely the groups the uncollapsed pipeline would. */
  private def shingleableReps(reps: DataFrame, textCol: String,
      idCol: String, k: Int): DataFrame =
    reps.where(size(shingleArray(col(textCol), k)) >= 1)
      .select(col(idCol).as("rep"))

  /** [[minHashLshPairsExact]] with the exact-digest collapse in front —
    * the SAME pair list (banding of byte-identical texts collides with
    * certainty and verification is a pure function of the texts, so
    * collapsed and uncollapsed answers provably coincide; DedupScaleSpec
    * asserts it dup-heavy incl. the shingle-less edge), but signatures,
    * banding, the candidate self-join and the Jaccard verification all
    * run on DISTINCT content only. The O(m²) per dup group survives
    * solely as output rows — generated by two joins, never verified. */
  def minHashLshPairsCollapsed(docs: DataFrame, textCol: String,
      idCol: String, k: Int = 3, numHashes: Int = 64, bands: Int = 16,
      tau: Double = 0.8): DataFrame = {
    val (reps, members) = digestCollapse(docs, textCol, idCol)
    graft.core.Collapse.expandThroughDigests(
      minHashLshPairsExact(reps, textCol, idCol, k, numHashes, bands, tau),
      members, shingleableReps(reps, textCol, idCol, k)
        .select(col("rep"), lit(1.0).as("jaccard")))
  }

  /** [[editDistancePairs]] with the exact-digest collapse in front —
    * same answer (see [[minHashLshPairsCollapsed]]'s argument; the
    * Levenshtein of byte-identical texts is 0 ≤ any maxRel), but the
    * O(|a|·|b|) edit-distance evaluations — the term that made the
    * dup-heavy ×10 rehearsal row quadratic — run once per distinct
    * content pair. */
  def editDistancePairsCollapsed(docs: DataFrame, textCol: String,
      idCol: String, k: Int = 3, numHashes: Int = 64, bands: Int = 16,
      tauJ: Double = 0.8, maxRel: Double = 0.3): DataFrame = {
    val (reps, members) = digestCollapse(docs, textCol, idCol)
    graft.core.Collapse.expandThroughDigests(
      editDistancePairs(reps, textCol, idCol, k, numHashes, bands, tauJ,
        maxRel),
      members, shingleableReps(reps, textCol, idCol, k).select(col("rep"),
        lit(1.0).as("jaccard"), lit(0L).as("edit_dist"),
        lit(0.0).as("rel_edit")))
  }

  /** Measured duplication rate: rows / approx-distinct digests, ONE
    * map-side-combining aggregate over (16-byte md5) — the cheap probe
    * the adaptive dispatch keys on. 1.0 = fully distinct content;
    * 10.0 = the ×10 verbatim rehearsal regime. HyperLogLog++ at the
    * default 5 % rsd: a distinct corpus measures within [~0.95, ~1.05],
    * which is why [[CollapseDispatchThreshold]] sits at 1.1 — above
    * the estimator's noise band, far below any real dup regime. */
  private[graft] def dupRate(docs: DataFrame, textCol: String): Double = {
    val r = docs.agg(count(lit(1)).cast("double"),
      approx_count_distinct(md5(col(textCol)))).head()
    r.getDouble(0) / math.max(1L, r.getLong(1))
  }

  /** Where the digest collapse starts paying (r13 verdict, What's
    * missing #2): the collapse is ~20 % overhead when there is nothing
    * to collapse (the ×100 distinct-heavy row: q_minhash_lsh_pairs
    * ratio 4.9 → 6.0) and 10–80× when there is (×10 verbatim:
    * q_edit_dedup 67.0 → 0.8). The cost asymmetry drives the dial LOW:
    * a false "collapse" costs ~20 %, a false "direct" re-opens the
    * per-dup-group quadratic — so the threshold sits just above the
    * HLL noise band, not at the break-even point. */
  val CollapseDispatchThreshold: Double = 1.1

  /** Dup-rate-adaptive pair list: one [[dupRate]] probe picks the
    * digest-collapsed or the direct pipeline — both provably the same
    * answer (DedupScaleSpec), so the dispatch moves cost only. The
    * production default for a corpus whose dup regime is unknown. */
  def minHashLshPairsAdaptive(docs: DataFrame, textCol: String,
      idCol: String, k: Int = 3, numHashes: Int = 64, bands: Int = 16,
      tau: Double = 0.8): DataFrame =
    if (dupRate(docs, textCol) >= CollapseDispatchThreshold)
      minHashLshPairsCollapsed(docs, textCol, idCol, k, numHashes, bands,
        tau)
    else minHashLshPairsExact(docs, textCol, idCol, k, numHashes, bands,
      tau)

  /** [[minHashLshPairsAdaptive]] for the edit-verified pair list. */
  def editDistancePairsAdaptive(docs: DataFrame, textCol: String,
      idCol: String, k: Int = 3, numHashes: Int = 64, bands: Int = 16,
      tauJ: Double = 0.8, maxRel: Double = 0.3): DataFrame =
    if (dupRate(docs, textCol) >= CollapseDispatchThreshold)
      editDistancePairsCollapsed(docs, textCol, idCol, k, numHashes,
        bands, tauJ, maxRel)
    else editDistancePairs(docs, textCol, idCol, k, numHashes, bands,
      tauJ, maxRel)

  /** [[minHashLshPairsAdaptive]] for the cluster chain. */
  def dedupClustersAdaptive(docs: DataFrame, textCol: String,
      idCol: String, k: Int = 3, numHashes: Int = 64, bands: Int = 16,
      tau: Double = 0.8): DataFrame =
    if (dupRate(docs, textCol) >= CollapseDispatchThreshold)
      dedupClustersCollapsed(docs, textCol, idCol, k, numHashes, bands,
        tau)
    else dedupClusters(
      minHashLshPairsExact(docs, textCol, idCol, k, numHashes, bands,
        tau))

  /** [[dedupClustersAdaptive]] for the edit-verified cluster chain. */
  def editDedupClustersAdaptive(docs: DataFrame, textCol: String,
      idCol: String, k: Int = 3, numHashes: Int = 64, bands: Int = 16,
      tauJ: Double = 0.8, maxRel: Double = 0.3): DataFrame =
    if (dupRate(docs, textCol) >= CollapseDispatchThreshold)
      editDedupClustersCollapsed(docs, textCol, idCol, k, numHashes,
        bands, tauJ, maxRel)
    else dedupClusters(
      editDistancePairs(docs, textCol, idCol, k, numHashes, bands, tauJ,
        maxRel).select(col("da"), col("db")))

  /** Near-duplicate CLUSTERS: connected components over the near-dup pair
    * graph (transitive closure of "is a near-dup of"), canonical survivor
    * = min doc id per cluster. Composes the pair generator with the graph
    * engine's cc — the full production dedup shape: pairs → clusters →
    * keep one per cluster.
    *
    * The pair graph is orders of magnitude smaller than the corpus (only
    * near-dup pairs survive verification), so the clustering step is
    * adaptive: when the materialized edge set fits comfortably in one task
    * (`smallGraphEdges`, default 4M edges ≈ tens of MB) the components are
    * found by a single-task union-find — one job, no per-round iteration
    * floor; otherwise it falls back to the distributed O(log n)-round
    * star-contraction cc. Either path returns (doc_id, cluster) with
    * cluster = min doc id of the component. */
  def dedupClusters(pairs: DataFrame, smallGraphEdges: Long = 4000000L): DataFrame = {
    val edges = pairs
      .select(col("da").cast("long").as("src"), col("db").cast("long").as("dst"))
      .localCheckpoint()
    if (edges.count() <= smallGraphEdges) smallGraphCc(edges)
    else graft.graph.Iterative.ccFindStar(edges)
      .select(col("v").as("doc_id"), col("label").as("cluster"))
  }

  /** Near-dup clusters extended to EVERY document: docs in no near-dup
    * pair cluster as themselves. The frame every cluster-level policy
    * (split integrity, loss weighting) builds on — one left join of the
    * corpus id scan against the (small) clustered-docs frame. */
  private def clustersWithSingletons(docs: DataFrame, textCol: String,
      idCol: String, k: Int, numHashes: Int, bands: Int,
      tau: Double): DataFrame = {
    // digest-collapsed since r13: same cluster assignment (provably —
    // see collapsedClusters), dup-heavy-safe pair stage
    val clusters = dedupClustersCollapsed(docs, textCol, idCol, k,
      numHashes, bands, tau)
    docs.select(col(idCol).as("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
  }

  /** Leakage-safe split assignment: near-dup CLUSTERS, not documents,
    * are the split unit — the mixer gates on the cluster id, so a
    * near-duplicate pair can never straddle train/eval/test
    * (decontamination by construction; the standard fix for the
    * dedup-then-split leakage bug). Deterministic and stable: adding
    * unrelated documents never moves an existing cluster's split. */
  def clusterSplit(docs: DataFrame, textCol: String, idCol: String,
      parts: Seq[(String, Double)], seed: Long = 7L, k: Int = 3,
      numHashes: Int = 64, bands: Int = 16, tau: Double = 0.8): DataFrame =
    Sampling.splits(
      clustersWithSingletons(docs, textCol, idCol, k, numHashes, bands, tau),
      "cluster", parts, seed)

  /** Duplicate-count loss weights: weight = 1/|cluster| per document —
    * the keep-everything alternative to survivor selection (training
    * sees every copy, the loss sees each CONTENT once). Singletons
    * weigh 1.0; weights of a cluster sum to 1 by construction. */
  def dupWeights(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 3, numHashes: Int = 64, bands: Int = 16,
      tau: Double = 0.8): DataFrame = {
    val all = clustersWithSingletons(docs, textCol, idCol, k, numHashes,
      bands, tau)
    val sizes = all.groupBy(col("cluster")).agg(count(lit(1)).as("csize"))
    all.join(sizes, "cluster")
      .select(col("doc_id"), col("cluster"), col("csize"),
        round(lit(1.0) / col("csize"), 6).as("weight"))
  }

  /** Survivor selection by QUALITY: per near-dup cluster keep the
    * highest-quality member (tie → smallest id) instead of the smallest
    * id — the survivor-policy knob a real curation pipeline wants (keep
    * the cleanest copy, not the first-crawled one). One
    * partial-aggregated argmax (min over (−quality, id) structs combines
    * map-side — no per-cluster window sort); `quality` is any per-doc
    * score frame, e.g. [[TextAnalysis.qualityScore]]'s output. */
  def survivorsByQuality(clusters: DataFrame, quality: DataFrame,
      idCol: String = "doc_id", qualCol: String = "quality"): DataFrame =
    clusters.join(quality.select(col(idCol), col(qualCol)), idCol)
      .groupBy(col("cluster"))
      .agg(min(struct((-col(qualCol)).as("nq"), col(idCol).as("id"))).as("m"))
      .select(col("cluster"), col("m.id").as("survivor_id"),
        (-col("m.nq")).as("survivor_quality"))

  /** Connected components of a SMALL edge set by union-find in one task.
    * Union always hangs the larger root under the smaller, so every root
    * is its component's minimum id — the same label contract as
    * [[graft.graph.Iterative.ccFind]]. */
  private def smallGraphCc(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.as[(Long, Long)].coalesce(1).mapPartitions { it =>
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      it.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val vs = parent.keys.toArray
      vs.iterator.map(v => (v, find(v)))
    }.toDF("doc_id", "cluster")
  }

  /** Sequence-level (substring) dedup: maximal token spans of length ≥ L
    * that appear in at least `minDocs` distinct documents — the
    * "deduplicating training data" repeated-passage operation, vs. the
    * whole-document identity every other dedup operator here keys on.
    * Returns (doc_id, span_start, span_end, span_tokens) with 1-based
    * inclusive positions into the document's NON-EMPTY whitespace token
    * sequence, one row per maximal span.
    *
    * Scale design (the suffix-array formulation is a single-machine
    * algorithm; this is the shuffle-lean equivalent):
    *  1. one codegen'd projection computes every positional L-gram hash
    *     via the O(tokens) rolling [[graft.functions.TokenGramHashes]] —
    *     TWO independently-seeded 64-bit hashes per position, so the
    *     group key is effectively 128-bit and hash-equality ≡
    *     gram-equality for any non-adversarial corpus (first expected
    *     birthday collision past 10^18 grams; an adversarial corpus can
    *     forge collisions — this operator's contract is statistical, like
    *     every hashing dedup here);
    *  2. duplicated grams by a two-phase countDistinct aggregate over
    *     (h1, h2) — the shuffle carries 24-byte rows (two hashes + id),
    *     never gram text (a naive slice+concat gram column would shuffle
    *     L tokens per position: ~50× the bytes at the production L≈50);
    *  3. duplicated positions by a semi-join on the gram key;
    *  4. maximal spans by the gaps-and-islands merge: positions p, p'
    *     cover overlapping-or-adjacent L-windows iff p' − p ≤ L, so one
    *     window pass per document (a shuffle by doc id, bounded by
    *     tokens-per-doc) merges them.
    * No step is quadratic in the corpus; the only per-gram state is two
    * longs. DuckDB replays the whole pipeline over gram TEXT, which is
    * exactly the hash-collision-free semantics the 128-bit key
    * approximates. */
  def repeatedSpans(docs: DataFrame, textCol: String, idCol: String,
      spanLen: Int = 50, minDocs: Int = 2): DataFrame =
    mergedSpans(dupPositions(docs, textCol, idCol, spanLen, minDocs,
      keepOne = false), spanLen)

  /** Per-document n-gram novelty: the fraction of a document's DISTINCT
    * token L-grams that appear in no other document — the inverse signal
    * of substring dedup (a low score means the doc is mostly assembled
    * from corpus-shared passages; a training-data mixer upweights high
    * novelty). Returns (doc_id, n_grams, novel_ratio) for every doc with
    * ≥ L tokens.
    *
    * Scale shape (same economics as [[repeatedSpans]]): grams ride as
    * 24-byte (doc, h1, h2) double-hash rows — never materialized as
    * strings — through a per-doc distinct, a gram-keyed doc-frequency
    * aggregate (map-side partials absorb hot grams), one gram-keyed
    * equi-join back, and a per-doc count. All hash-partitioned; nothing
    * is quadratic in docs or grams. The oracle replays string grams —
    * equality of the (h1, h2) pair stands in for gram equality at a
    * 2^-128 collision bar, the substring-dedup family's contract. */
  def noveltyScore(docs: DataFrame, textCol: String, idCol: String,
      gramLen: Int = 8): DataFrame = {
    val toks = split(col(textCol), "\\s+")
    val grams = docs.select(col(idCol).as("doc_id"),
        explode(arrays_zip(
          graft.functions.TokenGramHashes.gramHashes(toks, gramLen, 1L),
          graft.functions.TokenGramHashes.gramHashes(toks, gramLen, 2L))))
      .select(col("doc_id"), col("col.0").as("h1"), col("col.1").as("h2"))
      .distinct()
    val df = grams.groupBy(col("h1"), col("h2"))
      .agg(count(lit(1)).as("nd")) // rows are (doc, gram)-distinct already
    grams.join(df, Seq("h1", "h2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("nd") === 1L, lit(1L)).otherwise(lit(0L))).as("n_novel"))
      .select(col("doc_id"), col("n_grams"),
        round(col("n_novel").cast("double") / col("n_grams"), 6)
          .as("novel_ratio"))
  }

  /** Positions (doc_id, p) covered-at-start by a cross-document
    * duplicated L-gram. With `keepOne`, positions in the gram's OWNER
    * (min doc id among the docs containing it) are exempt — the
    * keep-one-copy excision policy's front half. */
  private def dupPositions(docs: DataFrame, textCol: String, idCol: String,
      spanLen: Int, minDocs: Int, keepOne: Boolean): DataFrame = {
    val toks = split(col(textCol), "\\s+")
    val grams = docs.select(col(idCol).as("doc_id"),
        posexplode(arrays_zip(
          graft.functions.TokenGramHashes.gramHashes(toks, spanLen, 1L),
          graft.functions.TokenGramHashes.gramHashes(toks, spanLen, 2L))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("p"),
        col("col.0").as("h1"), col("col.1").as("h2"))
    val dup = grams.groupBy(col("h1"), col("h2"))
      .agg(countDistinct(col("doc_id")).as("nd"),
        min(col("doc_id")).as("owner"))
      .where(col("nd") >= minDocs)
      .select(col("h1"), col("h2"), col("owner"))
    if (keepOne)
      // the owner column is needed row by row, so this is an equi-join
      // (not a semi-join) — same key, same shuffle shape
      grams.join(dup, Seq("h1", "h2"))
        .where(col("doc_id") =!= col("owner"))
        .select(col("doc_id"), col("p")).distinct()
    else
      grams.join(dup.select(col("h1"), col("h2")), Seq("h1", "h2"), "left_semi")
        .select(col("doc_id"), col("p"))
  }

  /** Gaps-and-islands merge of duplicated gram-start positions into
    * maximal spans (same island iff p − prev ≤ L). */
  private def mergedSpans(dpos: DataFrame, spanLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    val islands = dpos
      .withColumn("brk",
        when(col("p") - lag(col("p"), 1).over(w) <= spanLen, 0L).otherwise(1L))
      .withColumn("island", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    islands.groupBy(col("doc_id"), col("island"))
      .agg(min(col("p")).as("span_start"),
        (max(col("p")) + spanLen - 1).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** Substring-dedup EXCISION: rewrite each document with every token
    * covered by a cross-document repeated L-gram removed. Two policies:
    * the default removes ALL copies (the strictest form of the Lee et
    * al. "deduplicating training data" operation); `keepOne = true`
    * keeps each duplicated gram's copy in its OWNER document (min doc id
    * among the docs containing it — a deterministic global tie-break any
    * engine replays), so the corpus retains exactly the canonical copy
    * of each duplicated passage — the production dedup semantics. Output
    * is (doc_id, clean_text, n_removed) for EVERY document; `clean_text`
    * is the surviving tokens joined with single spaces — i.e.
    * whitespace-normalized, also for documents with nothing removed, so
    * the output is a pure function of the token sequence.
    *
    * The span set rides a broadcast-friendly frame only when small; the
    * general path is one join on doc id (covered positions are grouped
    * per doc first, so the join carries one row per AFFECTED doc, not
    * per span). The final rewrite is a per-row projection: higher-order
    * `filter`/`exists` over (token, position) — CodegenFallback, but a
    * leaf projection outside every shuffle, and only the affected-doc
    * rows pay the `exists` scan over their spans. */
  def exciseRepeatedSpans(docs: DataFrame, textCol: String, idCol: String,
      spanLen: Int = 50, minDocs: Int = 2, keepOne: Boolean = false): DataFrame = {
    val spans = mergedSpans(
        dupPositions(docs, textCol, idCol, spanLen, minDocs, keepOne), spanLen)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("span_start").as("s"),
          col("span_end").as("e")))).as("spans"),
        sum(col("span_tokens")).as("n_cut"))
    // the rewrite is the native codegen'd merge-walk ExciseTokens (the
    // HOF filter/exists formulation was CodegenFallback and O(tokens ×
    // spans) per row — and this projection touches EVERY document);
    // n_removed comes from the span aggregate (spans are merged
    // non-overlapping and in-range, so their token mass IS the cut)
    val noSpans = expr("CAST(array() AS array<struct<s: bigint, e: bigint>>)")
    docs.select(col(idCol).as("doc_id"),
        split(col(textCol), "\\s+").as("w"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        array_join(graft.functions.ExciseTokens.excise(col("w"),
          coalesce(col("spans"), noSpans)), " ").as("clean_text"),
        coalesce(col("n_cut"), lit(0L)).as("n_removed"))
  }

  /** SimHash 64-bit fingerprints: per-word PORTABLE polynomial hash +
    * mixer bit signs (replayable in any engine — the DuckDB oracle
    * recomputes every fingerprint; see [[graft.functions.SimHashFp]]),
    * each bit weighted +1/-1 and summed; bit set where the sum is
    * positive. Computed by the native expression in a zero-shuffle
    * projection (the explode + 64-conditional-sum aggregation shuffled
    * every (doc, word) pair). */
  def simHash(docs: DataFrame, textCol: String, idCol: String,
      salt: Int = 0): DataFrame =
    // raw split for the same codegen reason as minHashSignatures; the
    // expression nulls documents with no non-empty words
    docs.select(col(idCol).as("id"),
      graft.functions.SimHashFp.simhashFp(
        split(col(textCol), "\\s+"), salt).as("fingerprint"))
      .where(col("fingerprint").isNotNull)

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, candidate
    * generation via four 16-bit band buckets (any pair within distance 3
    * shares at least one exact band; wider distances may be missed —
    * standard SimHash banding tradeoff).
    *
    * SCALE CAVEAT: 16-bit bands mean 2^16 buckets per band, so expected
    * in-bucket candidate pairs grow ~n²/2^18 — fine to ~10^7 docs, a
    * blow-up at 10^9. The 100 TB path is [[simHashPairsWide]]: a 128-bit
    * fingerprint with 4×32-bit bands (2^32 buckets, candidates ~n²/2^34)
    * at the same ≤3-distance recall guarantee. */
  def simHashPairs(docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3): DataFrame = {
    val fps = simHash(docs, textCol, idCol).localCheckpoint()
    val bandKeys = (0 until 4).map(b =>
      struct(lit(b).as("band"),
        shiftright(col("fingerprint"), b * 16).bitwiseAND(0xffffL).as("bh")))
    val banded = fps.select(col("id"), col("fingerprint"),
      explode(array(bandKeys: _*)).as("bk"))
    banded.select(col("id").as("da"), col("fingerprint").as("fa"), col("bk"))
      .join(banded.select(col("id").as("db"), col("fingerprint").as("fb"), col("bk")), "bk")
      .where(col("da") < col("db"))
      .select(col("da"), col("db"),
        bit_count(col("fa").bitwiseXOR(col("fb"))).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** 128-bit SimHash near-dup pairs — the billion-document band layout:
    * two independent 64-bit fingerprint halves (salt 0 / salt 1), banded
    * as FOUR 32-BIT bands. Same pigeonhole guarantee as the 64-bit form
    * (≤3 bit flips across 4 bands leave one band exact) but 2^32 buckets
    * per band instead of 2^16, shrinking expected in-bucket candidates
    * from ~n²/2^18 to ~n²/2^34 — the difference between a quadratic
    * blow-up and a linear pass at 10^9 documents (DedupScaleSpec shows
    * the shrink on a synthetic heavy-bucket corpus). Hamming distance is
    * over all 128 bits. */
  def simHashPairsWide(docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3): DataFrame = {
    val fps = docs.select(col(idCol).as("id"),
      graft.functions.SimHashFp.simhashFp(split(col(textCol), "\\s+"), 0).as("f0"),
      graft.functions.SimHashFp.simhashFp(split(col(textCol), "\\s+"), 1).as("f1"))
      .where(col("f0").isNotNull)
      .localCheckpoint()
    val mask = lit(0xffffffffL)
    val bandVals = Seq(
      col("f0").bitwiseAND(mask),
      shiftright(col("f0"), 32).bitwiseAND(mask),
      col("f1").bitwiseAND(mask),
      shiftright(col("f1"), 32).bitwiseAND(mask))
    val bandKeys = bandVals.zipWithIndex.map { case (v, b) =>
      struct(lit(b).as("band"), v.as("bh"))
    }
    val banded = fps.select(col("id"), col("f0"), col("f1"),
      explode(array(bandKeys: _*)).as("bk"))
    banded.select(col("id").as("da"), col("f0").as("fa0"), col("f1").as("fa1"), col("bk"))
      .join(banded.select(col("id").as("db"), col("f0").as("fb0"),
        col("f1").as("fb1"), col("bk")), "bk")
      .where(col("da") < col("db"))
      .select(col("da"), col("db"),
        (bit_count(col("fa0").bitwiseXOR(col("fb0"))) +
          bit_count(col("fa1").bitwiseXOR(col("fb1")))).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }
}
