package graft.text

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, SpecificInternalRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.RowsBridge
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.core.TopK
import graft.functions.StrTok

/** Text-processing capabilities of the reference:
  *
  *  - word splitting + frequency (`oink/map_read_words.cpp`,
  *    `oink/wordfreq.cpp:40-112`, `examples/wordfreq.cpp:64-86`) — strtok
  *    semantics: split on whitespace runs, punctuation kept in tokens;
  *  - top-N by count (`oink/wordfreq.cpp:65-82` local-truncate+gather idiom →
  *    Catalyst TakeOrderedAndProject);
  *  - inverted index (`cpu/InvertedIndex.cpp:196-260`,
  *    `cuda/InvertedIndex.cu:79-135`): token → sorted list of containing
  *    documents, the fork's flagship GPU workload;
  *  - integer frequency count (`cpu/IntCount.cpp:150-190`).
  *
  * The map phases are byte-scan kernels, the CPU counterpart of the
  * fork's GPU map: tokens come from the native [[StrTok]] expression
  * (one byte scan per row, inside whole-stage codegen); the href and
  * int kernels ([[ByteScan]]) stream each file through a fixed buffer
  * and combine on the map side — distinct (url, file) postings per file,
  * per-task int counts in a primitive hash map — so each file job has
  * exactly one aggregation shuffle.
  *
  * Scale notes: tokenization is a per-row generator (no shuffle); the single
  * shuffle is the word groupBy. Posting lists use collect_list on the
  * already-grouped side — bounded by documents-per-token, the same bound the
  * reference's KMV multivalue had.
  */
object TextOps {

  /** strtok tokens: the maximal runs of non-whitespace bytes
    * ([[StrTok]]). */
  def tokens(text: Column): Column = StrTok.strtok(text)

  /** One row per (docCol, word). */
  def words(docs: DataFrame, textCol: String, docCol: String): DataFrame =
    docs.select(col(docCol), explode(tokens(col(textCol))).as("word"))

  /** wordfreq: word → count. */
  def wordFreq(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))

  /** wordfreq Ntop: global top-N, count desc then word asc (deterministic). */
  def topWords(docs: DataFrame, textCol: String, n: Int): DataFrame =
    wordFreq(docs, textCol).orderBy(col("n").desc, col("word").asc).limit(n)

  /** wordfreq through [[graft.core.Skew.saltedAgg]] — the cc_find nthresh
    * analog (`oink/cc_find.cpp:224-264`): each word's rows are split over
    * `salts` sub-keys, counted per (word, salt), then the salt partials
    * are summed per word. Same answer as [[wordFreq]] (the salt only
    * reshapes the shuffle), so the two share an oracle; for an ALGEBRAIC
    * count Spark's partial aggregation already splits hot keys, so this
    * exists to keep the two-phase plan exercised end-to-end for the
    * holistic/flatMapGroups cases that genuinely need it. */
  def wordFreqSalted(docs: DataFrame, textCol: String, salts: Int): DataFrame =
    graft.core.Skew.saltedAgg(
      docs.select(explode(tokens(col(textCol))).as("word")),
      col("word"), salts)(
      Seq(count(lit(1)).as("n_part")),
      Seq(sum(col("n_part")).as("n")))
      .withColumnRenamed("_k", "word")

  /** TF-IDF, top-`k` terms per document (tf × ln(N/df), rounded to 6dp
    * so any engine ranks identical keys). Shuffle budget: one (doc, word)
    * aggregation for tf; document frequency is derived from tf's OUTPUT
    * (vocabulary-sized — never a second pass over raw tokens); the corpus
    * size joins in as a broadcast 1-row aggregate; the final top-k is a
    * window partitioned by document (per-doc vocab bounds each
    * partition). */
  def tfIdfTopK(docs: DataFrame, textCol: String, docCol: String,
      k: Int): DataFrame = {
    // tf feeds both the scoring join and the df aggregate; without a
    // checkpoint the tokenize+explode subtree executes once per reference
    // (no ReusedExchange across the broadcast boundary — the r9 kmeans
    // lesson, core/Checkpoints).
    val tf = words(docs, textCol, docCol)
      .groupBy(col(docCol), col("word")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfc = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val nd = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfc, "word").crossJoin(broadcast(nd))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs") / col("df")), 6))
    TopK.perKey(scored, docCol, k, col("tfidf").desc, col("word").asc)
      .select(col(docCol), col("word"), col("tf"), col("tfidf"))
  }

  /** The Okapi BM25 per-term score over columns (tf, df, dl, n_docs,
    * sum_dl) — factored so [[bm25TopK]] and the persisted index
    * ([[graft.sources.TextIndex.serve]]) sum the byte-identical
    * expression tree: same operand order, so the two paths share one
    * oracle and the 6dp rounding boundary never diverges. */
  def bm25Term(k1: Double, b: Double): Column = {
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("df") + lit(0.5)) /
        (col("df") + lit(0.5)))
    idf * (col("tf") * (lit(k1) + lit(1.0))) /
      (col("tf") + lit(k1) *
        (lit(1.0) - lit(b) + lit(b) * col("dl") / avgdl))
  }

  /** Okapi BM25 top-k retrieval: score every document against a small
    * keyword-query set — the retrieval counterpart of [[tfIdfTopK]]
    * (scoring the corpus FOR queries rather than summarizing each doc).
    * Per query term: idf·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) with
    * idf = ln(1 + (N−df+0.5)/(df+0.5)), summed per (query, doc) and
    * rounded to 6dp; the whole formula is ONE double expression shape
    * mirrored operand-for-operand by the oracle (the ln-parity
    * discipline; the cross-term summation order is the documented
    * rounding-boundary caveat shared with avg-of-ln ops like lmScore).
    *
    * 100 TB shape: tf is the wordfreq aggregate; df joins to the TINY
    * query-term list first (≤ Σ|query| rows) and that product
    * BROADCASTS into tf, so only rows whose term appears in some query
    * survive; doc lengths join doc-keyed (both sides already hash by
    * doc); corpus totals ride a 1-row broadcast; per-query top-k is a
    * window partitioned by qid. The corpus is never cartesian-joined
    * against the query set. */
  def bm25TopK(docs: DataFrame, textCol: String, docCol: String,
      queries: Seq[(String, String)], k: Int = 5, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val w = words(docs, textCol, docCol)
    // tf is referenced FOUR times (scoring join, dl, dfc→qdf, tot→dl) and
    // Spark does not reuse the exchange across the broadcast subtrees, so
    // without a checkpoint the tokenize+explode+aggregate pipeline — the
    // dominant cost — runs four times (r9 bench: 2.1 s vs 0.27 s for one
    // wordfreq pass over the same corpus). Checkpoint once; the harness
    // releases the blocks via core/Checkpoints after consumption.
    val tf = w.groupBy(col(docCol), col("word")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dl = tf.groupBy(col(docCol)).agg(sum(col("tf")).as("dl"))
    val dfc = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val tot = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val spark = docs.sparkSession
    import spark.implicits._
    val qterms = queries.flatMap { case (qid, qt) =>
      qt.split("\\s+").filter(_.nonEmpty).distinct.map(t => (qid, t))
    }.toDF("qid", "word")
    val qdf = broadcast(qterms.join(dfc, "word"))
    val term = bm25Term(k1, b)
    val scored = tf.join(qdf, "word")
      .join(dl, docCol)
      .crossJoin(broadcast(tot))
      .groupBy(col("qid"), col(docCol))
      .agg(round(sum(term), 6).as("score"))
    TopK.perKey(scored, "qid", k, col("score").desc, col(docCol).asc)
  }

  /** Inverted index: token → sorted distinct posting list + frequency. */
  def invertedIndex(docs: DataFrame, textCol: String, docCol: String): DataFrame =
    words(docs, textCol, docCol).distinct()
      .groupBy(col("word"))
      .agg(
        count(lit(1)).as("n_docs"),
        array_join(transform(array_sort(collect_list(col(docCol))),
          x => x.cast("string")), ",").as("postings"))

  /** The GPU fork's exact workload: extract `<a href="...">` targets from
    * HTML files, emit (url, file) posting lists
    * (`cuda/InvertedIndex.cu:79-135,463-513`). Each file streams through
    * the [[ByteScan.hrefs]] kernel (compressed files through their codec,
    * as `spark.read.text` reads them); its distinct URLs (decoded as UTF-8,
    * invalid bytes → U+FFFD) become one posting each, so the only
    * shuffle is the url groupBy. `files` holds `input_file_name()`
    * strings, sorted. File-based: not oracle-able against the star
    * schema, unit-tested on temp corpora. */
  def urlIndexFromFiles(spark: SparkSession, paths: String*): DataFrame = {
    val postings = mapFiles(spark, paths) { (files, conf) =>
      val buf = new Array[Byte](ByteScan.BufferBytes)
      val codecs = Some(new CompressionCodecFactory(conf.value.value))
      files.flatMap { case (path, file) =>
        val urls = new java.util.HashSet[String]()
        read(path, conf, codecs)(in => ByteScan.hrefs(in, buf) { (b, n) =>
          urls.add(new String(b, 0, n, java.nio.charset.StandardCharsets.UTF_8))
        })
        urls.asScala.iterator.map(u =>
          new GenericInternalRow(Array[Any](UTF8String.fromString(u), file)))
      }
    }
    RowsBridge.frame(spark, postings,
        new StructType().add("url", StringType, false).add("file", StringType, false))
      .groupBy(col("url"))
      .agg(array_sort(collect_list(col("file"))).as("files"))
  }

  /** map v2/v3 parity: read files as whitespace words (one task per file ≙
    * one partition per file split). */
  def readWordsFromFiles(spark: SparkSession, paths: String*): DataFrame =
    spark.read.text(paths: _*)
      .select(explode(tokens(col("value"))).as("word"))

  /** map v3/v4 parity (`src/mapreduce.cpp:1232-1485`): read files split
    * into chunks at a custom separator string instead of newlines — the
    * reference's sepchar/sepstr chunking via Hadoop's record delimiter
    * (each chunk is one row; file splitting stays block-parallel). */
  def readChunks(spark: SparkSession, path: String, separator: String): DataFrame = {
    import org.apache.hadoop.io.{LongWritable, Text}
    import org.apache.hadoop.mapreduce.lib.input.TextInputFormat
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.set("textinputformat.record.delimiter", separator)
    val rdd = spark.sparkContext.newAPIHadoopFile(
      path, classOf[TextInputFormat], classOf[LongWritable], classOf[Text], conf)
      .map(_._2.toString)
    import spark.implicits._
    rdd.toDF("chunk")
  }

  /** IntCount: frequency of every fixed-width int in a binary stream.
    * Columnar analog over any integral column. */
  def intCount(df: DataFrame, intCol: String): DataFrame =
    df.groupBy(col(intCol).as("i")).agg(count(lit(1)).as("n"))

  /** IntCount from raw binary files (4-byte little-endian ints,
    * `cpu/IntCount.cpp:179-180`; a file's trailing 1–3 bytes are
    * dropped). Each task streams its files through [[ByteScan.countInts]]
    * into one primitive int → count map and emits (i, partial count)
    * pairs; one sum per key merges them. */
  def intCountFromBinaryFiles(spark: SparkSession, path: String): DataFrame = {
    val partials = mapFiles(spark, Seq(path)) { (files, conf) =>
      val buf = new Array[Byte](ByteScan.BufferBytes)
      val counts = new ByteScan.IntCounts
      files.foreach { case (p, _) => read(p, conf)(ByteScan.countInts(_, buf, counts)) }
      counts.rows(new SpecificInternalRow(Seq(IntegerType, LongType)))
    }
    RowsBridge.frame(spark, partials,
        new StructType().add("i", IntegerType, false).add("n", LongType, false))
      .groupBy(col("i")).agg(sum(col("n")).as("n"))
  }

  /** Runs `kernel` once per task over that task's (path, file) pairs:
    * `path` opens the file, `file` is its `input_file_name()` string.
    * The files are listed by a `binaryFile` scan that reads no content,
    * so they spread over tasks the way any file source packs them. */
  private def mapFiles(spark: SparkSession, paths: Seq[String])(
      kernel: (Iterator[(String, UTF8String)], Broadcast[SerializableConfiguration]) =>
        Iterator[InternalRow]): RDD[InternalRow] = {
    val conf = hadoopConf(spark)
    spark.read.format("binaryFile").load(paths: _*)
      .select(col("path"), input_file_name())
      .queryExecution.toRdd
      .mapPartitions { rows =>
        kernel(rows.map(r => (r.getString(0), r.getUTF8String(1).clone())), conf)
      }
  }

  /** The session's Hadoop conf as a broadcast, made once per distinct
    * conf and SparkContext. A broadcast serializes through a 4 MB chunk,
    * a humongous object for G1 with 2 MB regions, so one per call
    * adds garbage that piles up between young collections and raises
    * peak RSS; shipped in the task closure instead, the ~100 KB conf is
    * deserialized by every task. */
  private val confs = new java.util.WeakHashMap[SparkContext,
    mutable.Map[String, Broadcast[SerializableConfiguration]]]()

  private def hadoopConf(spark: SparkSession): Broadcast[SerializableConfiguration] = {
    val c = spark.sessionState.newHadoopConf()
    val key = c.iterator().asScala.map(e => s"${e.getKey}=${e.getValue}")
      .toSeq.sorted.mkString("\n")
    confs.synchronized {
      confs.computeIfAbsent(spark.sparkContext, _ => mutable.Map.empty)
        .getOrElseUpdate(key, spark.sparkContext.broadcast(new SerializableConfiguration(c)))
    }
  }

  /** Streams the file at `path` into `body`; with `codecs`, a file whose
    * name has a codec's suffix (`.gz`, `.bz2`, ...) is decompressed, as
    * the text source does. */
  private def read(path: String, conf: Broadcast[SerializableConfiguration],
      codecs: Option[CompressionCodecFactory] = None)(
      body: java.io.InputStream => Unit): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val raw = p.getFileSystem(conf.value.value).open(p)
    try {
      val in = codecs.flatMap(c => Option(c.getCodec(p)))
        .fold[java.io.InputStream](raw)(_.createInputStream(raw))
      try body(in) finally in.close()
    } finally raw.close()
  }
}
