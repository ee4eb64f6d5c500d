package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Checkpoints
import graft.gen.RMat
import graft.graph.{Iterative, Triangles}
import graft.sources.{Compact, DedupIndex, IvfIndex}
import graft.text.TextOps

/** What one run shares with its workload. */
final class Env(val spark: SparkSession, val seed: Long, val tracer: Tracer) {
  def step[T](name: String)(body: => T): T = tracer.step(name)(body)
}

/** The outcome of one job: the input bytes and items it consumed and the
  * output checks that failed (empty when every check passed). */
final case class JobOut(inputBytes: Long, items: Long, failures: Seq[String])

/** A benchmark workload. [[prepare]] may be called more than once per
  * run, each time on a fresh directory; the last call's state serves the
  * warm-up and the measured jobs. */
trait Workload {
  def name: String
  /** The span names this workload records, in call order. */
  def spans: Seq[String]
  /** Generate the inputs from the seed and build any stored index. */
  def prepare(env: Env, dir: File): Unit
  /** Runs of [[job]] charged to set-up, before measuring. */
  def warmUpJobs: Int = 1
  /** One closed-loop job; only the calls inside `env.step` are timed.
    * Warm-up jobs have a negative `i`. */
  def job(env: Env, i: Int): JobOut
  /** Untimed end-of-run checks and workload-specific per-layer values. */
  def finish(env: Env): (Map[String, Double], Seq[String]) = (Map.empty, Nil)
  /** Drop every table the workload registered. */
  def cleanup(env: Env): Unit = ()
}

object Workloads {
  val all: Seq[Workload] = Seq(new InvIdxHtml, new RmatGraph, new CrawlAdmit)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  def check(failures: mutable.Buffer[String], ok: Boolean, what: => String): Unit =
    if (!ok) failures += what
}

/** The paper's own workload: an inverted index of `<a href>` targets over
  * HTML part files, word frequency over the same files, and IntCount over
  * binary int files. Scanning, regex and tokenizing do almost all the work
  * before one aggregation shuffle; nothing iterates and nothing is stored. */
final class InvIdxHtml extends Workload {
  import Workloads.check
  val name = "invidx_html"
  val spans = Seq("text.url_index", "text.wordfreq", "text.intcount")

  private val HtmlFiles = 32
  private val HtmlBytesPerFile = 512 << 10
  private val IntFiles = 8
  private val IntsPerFile = 256 << 10

  private var htmlDir, intDir: String = _
  private var html: Gen.HtmlTruth = _
  private var ints: Gen.IntTruth = _

  def prepare(env: Env, dir: File): Unit = {
    val h = new File(dir, "html"); val i = new File(dir, "ints")
    html = Gen.html(h, env.seed, HtmlFiles, HtmlBytesPerFile,
      vocabSize = 20000, urlCount = 50000)
    ints = Gen.ints(i, env.seed, IntFiles, IntsPerFile, keys = 1 << 16)
    htmlDir = h.getPath; intDir = i.getPath
  }

  override def warmUpJobs = 3

  def job(env: Env, i: Int): JobOut = {
    val spark = env.spark
    val idx = env.step("text.url_index") {
      TextOps.urlIndexFromFiles(spark, htmlDir)
        .agg(count(lit(1)), sum(size(col("files")))).head()
    }
    val top = env.step("text.wordfreq") {
      TextOps.readWordsFromFiles(spark, htmlDir)
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word").asc).limit(20).collect()
    }
    val ic = env.step("text.intcount") {
      TextOps.intCountFromBinaryFiles(spark, intDir)
        .agg(count(lit(1)), sum(col("n")), sum(col("i").cast("long") * col("n")),
          max(col("n"))).head()
    }
    val f = mutable.ArrayBuffer.empty[String]
    check(f, idx.getLong(0) == html.distinctUrls,
      s"url_index: ${idx.getLong(0)} urls, expected ${html.distinctUrls}")
    check(f, idx.getLong(1) == html.postings,
      s"url_index: ${idx.getLong(1)} postings, expected ${html.postings}")
    val got = top.map(r => (r.getString(0), r.getLong(1))).toSeq
    check(f, got == html.top20, s"wordfreq top-20 $got, expected ${html.top20}")
    val gotInts = (ic.getLong(0), ic.getLong(1), ic.getLong(2), ic.getLong(3))
    check(f, gotInts == ((ints.distinct, ints.total, ints.weighted, ints.maxCount)),
      s"intcount totals $gotInts, expected $ints")
    JobOut(html.bytes + ints.bytes, HtmlFiles + IntFiles, f.toSeq)
  }
}

/** R-MAT generation plus three iterative graph algorithms. Many small
  * driver-synchronized Spark jobs, per-round checkpoints and skewed
  * shuffles dominate; the text layer does no work. */
final class RmatGraph extends Workload {
  import Workloads.check
  val name = "rmat_graph"
  val spans = Seq("gen.rmat", "graph.cc", "graph.triangles", "graph.pagerank")

  private val Levels = 11
  private val EdgesPerVertex = 8
  private def params(seed: Long) =
    RMat.Params(Levels, EdgesPerVertex, 0.57, 0.19, 0.19, 0.05, 0.0, seed)
  private def edgeCount = EdgesPerVertex.toLong << Levels

  private var ref: GraphRef = _

  /** The graph is generated inside each job, by the generator under test. */
  def prepare(env: Env, dir: File): Unit = ref = null

  def job(env: Env, i: Int): JobOut = {
    val (edges, labels, triangles, ranks) = run(env, params(env.seed))
    val f = mutable.ArrayBuffer.empty[String]
    try if (i >= 0) {
      if (ref == null) ref = GraphRef(edges.select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))))
      check(f, ref.edges.length == edgeCount,
        s"rmat: ${ref.edges.length} edges, expected $edgeCount")
      val n = edges.count()
      check(f, n == edgeCount, s"rmat: $n edges this job, expected $edgeCount")
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      check(f, got == ref.components,
        s"cc: ${got.values.toSet.size} components over ${got.size} vertices, " +
          s"expected ${ref.components.values.toSet.size} over ${ref.components.size}")
      check(f, triangles == ref.triangles,
        s"triangles: $triangles, expected ${ref.triangles}")
      val pr = ranks.collect().map(r => (r.getLong(0), r.getDouble(1)))
      val mass = pr.map(_._2).sum
      check(f, math.abs(mass - 1.0) < 1e-6, s"pagerank mass $mass")
      val top = pr.sortBy { case (v, r) => (-r, v) }.take(10).map(_._1).toSeq
      check(f, top == ref.top10, s"pagerank top-10 $top, expected ${ref.top10}")
    } finally Checkpoints.release(edges, labels, ranks)
    JobOut(edgeCount * 16, edgeCount, f.toSeq)
  }

  private def run(env: Env, p: RMat.Params) = {
    val edges = env.step("gen.rmat")(RMat.generate(env.spark, p))
    val labels = env.step("graph.cc")(Iterative.ccFind(edges))
    val tri = env.step("graph.triangles") {
      Triangles.triangleCount(edges).head().getLong(0)
    }
    val ranks = env.step("graph.pagerank")(Iterative.pagerank(edges, tol = 1e-6))
    (edges, labels, tri, ranks)
  }
}

/** Driver-side reference answers over the collected edge list. */
final case class GraphRef(edges: Array[(Long, Long)]) {
  private val undirected: Array[(Long, Long)] = edges
    .collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.distinct

  /** vertex → minimum vertex id of its component (self-loops ignored). */
  lazy val components: Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    undirected.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  lazy val triangles: Long = {
    val deg = mutable.HashMap.empty[Long, Int].withDefaultValue(0)
    undirected.foreach { case (a, b) => deg(a) += 1; deg(b) += 1 }
    def key(v: Long) = (deg(v), v)
    val out = mutable.HashMap.empty[Long, mutable.HashSet[Long]]
    val oriented = undirected.map { case (a, b) =>
      if (Ordering[(Int, Long)].lt(key(a), key(b))) (a, b) else (b, a)
    }
    oriented.foreach { case (a, b) => out.getOrElseUpdate(a, mutable.HashSet.empty) += b }
    oriented.iterator.map { case (a, b) =>
      val na = out(a)
      out.get(b).fold(0L)(nb => nb.count(na.contains).toLong)
    }.sum
  }

  /** Top 10 vertices (rank desc, id asc) of the same damped power
    * iteration the engine runs: 1/out-degree weights, dangling mass
    * spread evenly, stop when Σ|Δrank| ≤ 1e-6 or after 20 rounds. */
  lazy val top10: Seq[Long] = {
    val directed = edges.filter { case (a, b) => a != b }.distinct
    val vs = directed.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
    val ix = vs.zipWithIndex.toMap
    val n = vs.length
    val outDeg = new Array[Int](n)
    directed.foreach { case (a, _) => outDeg(ix(a)) += 1 }
    val src = directed.map(e => ix(e._1)); val dst = directed.map(e => ix(e._2))
    var rank = Array.fill(n)(1.0 / n)
    var (delta, iter) = (Double.MaxValue, 0)
    while (delta > 1e-6 && iter < 20) {
      val contrib = new Array[Double](n)
      for (e <- src.indices) contrib(dst(e)) += rank(src(e)) / outDeg(src(e))
      val dangling = 1.0 - contrib.sum
      val next = Array.tabulate(n)(v => 0.15 / n + 0.85 * (contrib(v) + dangling / n))
      delta = next.indices.map(v => math.abs(next(v) - rank(v))).sum
      rank = next; iter += 1
    }
    vs.indices.sortBy(v => (-rank(v), vs(v))).take(10).map(vs(_))
  }
}

/** Admission of fresh crawl batches against stored indexes: a near-dup
  * gate over a bucketed MinHash index, appends into it and into a
  * bucketed IVF vector index, kNN serving, and fragmentation-gated
  * compaction. The only workload whose appends, fragmentation and
  * compaction trade write cost against read cost and space. */
final class CrawlAdmit extends Workload {
  import Workloads.check
  val name = "crawl_admit"
  val spans = Seq("sources.dedup_gate", "sources.dedup_append",
    "sources.ivf_append", "sources.ivf_serve", "sources.maintain")

  private val CorpusDocs = 2000
  private val CorpusVecs = 2500
  private val BatchDocs = 500
  private val PlantedShare = 0.3
  private val Queries = 64
  private val Clusters = 64
  private val Dim = 64
  private val Sigma = 0.06
  private val Dedup = "pb_dedup"
  private val Ivf = "pb_ivf"

  private var vocab: Array[String] = _
  private var zipf: Gen.Zipf = _
  private var corpus: Array[Gen.Doc] = _
  private var centres: Array[Array[Double]] = _
  private var base: String = _
  private var batchNo = 0
  private var corpusBytes = 0L
  // run totals for the per-layer ratios
  private var planted, refused, plantedRefused = 0L
  private var admittedBytes, tracedAdmittedBytes = 0L
  private val fragmentation = mutable.ArrayBuffer.empty[Double]
  /** Ground truth: the cluster every generated vector was drawn from. */
  private val clusterOf = mutable.HashMap.empty[Long, Int]

  def prepare(env: Env, dir: File): Unit = {
    cleanup(env)
    val spark = env.spark
    import spark.implicits._
    base = new File(dir, "indexes").getPath
    vocab = Gen.vocabulary(env.seed, 20000)
    zipf = new Gen.Zipf(vocab.length, 0.9)
    centres = Gen.centres(env.seed, Clusters, Dim)
    val r = Gen.rng(env.seed, 5)
    corpus = Array.tabulate(CorpusDocs)(i => Gen.document(r, vocab, zipf, i))
    corpusBytes = corpus.map(_.text.getBytes("UTF-8").length.toLong).sum +
      CorpusVecs.toLong * Dim * 4
    clusterOf.clear()
    val vecs = Array.tabulate(CorpusVecs)(i => (i.toLong, vector(r, i)))
    DedupIndex.build(spark, corpus.map(d => (d.id, d.text)).toSeq.toDF("doc_id", "text"),
      "text", "doc_id", Dedup, basePath = base)
    IvfIndex.build(spark, vecs.toSeq.toDF("vec_id", "vec"), "vec_id", "vec", Ivf,
      numCentroids = 64, basePath = base)
    batchNo = 0
    planted = 0; refused = 0; plantedRefused = 0
    admittedBytes = 0; tracedAdmittedBytes = 0; fragmentation.clear()
  }

  def job(env: Env, i: Int): JobOut = {
    val spark = env.spark
    import spark.implicits._
    val b = batchNo; batchNo += 1
    val r = Gen.rng(env.seed, 1000 + b)
    val plantedIds = mutable.HashSet.empty[Long]
    val docs = Array.tabulate(BatchDocs) { j =>
      val id = 1000000L + b * 10000L + j
      if (r.nextDouble() < PlantedShare) {
        plantedIds += id
        Gen.nearCopy(r, vocab, zipf, corpus(r.nextInt(corpus.length)), id)
      } else Gen.document(r, vocab, zipf, id)
    }
    val vecs = docs.map(d => d.id -> vector(r, d.id))
    val queries = Array.tabulate(Queries)(q =>
      (-(b * 1000L + q) - 1, Gen.around(r, centres(q % Clusters), Sigma)))
    val fresh = docs.map(d => (d.id, d.text)).toSeq.toDF("doc_id", "text")
    val qdf = queries.toSeq.toDF("qid", "qv")

    val admitted = env.step("sources.dedup_gate") {
      DedupIndex.dedupAgainst(spark, Dedup, fresh, "text", "doc_id")
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    }
    val admittedDocs = docs.filter(d => admitted(d.id))
    env.step("sources.dedup_append") {
      DedupIndex.append(spark, Dedup,
        admittedDocs.map(d => (d.id, d.text)).toSeq.toDF("doc_id", "text"),
        "text", "doc_id")
    }
    env.step("sources.ivf_append") {
      IvfIndex.append(spark, Ivf, vecs.filter(v => admitted(v._1)).toSeq.toDF("vec_id", "vec"),
        "vec_id", "vec")
    }
    val served = env.step("sources.ivf_serve") {
      IvfIndex.serve(spark, Ivf, qdf, k = 10, nProbe = 4).collect()
    }
    if (i >= 0) fragmentation += filesPerBucket(spark)
    env.step("sources.maintain") {
      DedupIndex.maintain(spark, Dedup)
      IvfIndex.maintain(spark, Ivf)
    }

    val refusedIds = docs.map(_.id).filterNot(admitted)
    val hit = refusedIds.count(plantedIds)
    val bytes = admittedDocs.map(_.text.getBytes("UTF-8").length.toLong).sum +
      admittedDocs.length.toLong * Dim * 4
    admittedBytes += bytes
    if (env.tracer.jobTraced) tracedAdmittedBytes += bytes
    if (i >= 0) {
      planted += plantedIds.size; refused += refusedIds.length; plantedRefused += hit
    }
    val f = mutable.ArrayBuffer.empty[String]
    check(f, hit >= 0.99 * plantedIds.size,
      s"dedup gate refused $hit of ${plantedIds.size} planted near-copies")
    check(f, hit >= 0.99 * refusedIds.length,
      s"dedup gate refused ${refusedIds.length}, only $hit planted")
    check(f, served.length == Queries * 10, s"serve returned ${served.length} rows")
    val inBytes = docs.map(_.text.getBytes("UTF-8").length.toLong).sum +
      docs.length.toLong * Dim * 4
    JobOut(inBytes, BatchDocs, f.toSeq)
  }

  private def vector(r: java.util.SplittableRandom, id: Long): Array[Float] = {
    val c = r.nextInt(Clusters)
    clusterOf(id) = c
    Gen.around(r, centres(c), Sigma)
  }

  private def bucketedTables = Seq(s"${Dedup}_bands", s"${Dedup}_shingles",
    s"${Dedup}_sizes", s"${Ivf}_cells")

  private def filesPerBucket(spark: SparkSession): Double =
    bucketedTables.map(Compact.filesPerBucket(spark, _)).sum / bucketedTables.size

  /** Recall@10 of the served answer against brute force over the stored
    * vectors, for one fresh query set, and the share of served neighbours
    * drawn from the query's own cluster. */
  override def finish(env: Env): (Map[String, Double], Seq[String]) = {
    val spark = env.spark
    import spark.implicits._
    val r = Gen.rng(env.seed, 7)
    val qs = Array.tabulate(Queries)(q =>
      (-9000001L - q, q % Clusters, Gen.around(r, centres(q % Clusters), Sigma)))
    val served = IvfIndex.serve(spark, Ivf, qs.map(q => (q._1, q._3)).toSeq.toDF("qid", "qv"),
        k = 10, nProbe = 4)
      .collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val stored = spark.table(s"${Ivf}_cells").select("vec_id", "vec").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var (d, na, nb) = (0.0, 0.0, 0.0)
      for (k <- a.indices) { d += a(k) * b(k); na += a(k) * a(k); nb += b(k) * b(k) }
      math.floor(d / (math.sqrt(na) * math.sqrt(nb)) * 1e6 + 0.5) / 1e6
    }
    val recall = qs.map { case (q, _, v) =>
      val exact = stored.map { case (id, sv) => (id, cos(v, sv)) }
        .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
      (served.getOrElse(q, Set.empty) intersect exact).size / 10.0
    }.sum / Queries
    val inCluster = qs.map { case (q, c, _) =>
      served.getOrElse(q, Set.empty).count(clusterOf(_) == c)
    }.sum.toDouble / (Queries * 10)
    val stats = Map(
      "sources.dedup_gate.recall" -> plantedRefused.toDouble / math.max(1, planted),
      "sources.dedup_gate.precision" -> plantedRefused.toDouble / math.max(1, refused),
      "sources.ivf_serve.recall_at10" -> recall,
      "sources.files_per_bucket" -> Stats.median(fragmentation.toSeq),
      "sources.space_amp" -> storedBytes(spark).toDouble / (corpusBytes + admittedBytes),
      "sources.write_amp" -> writtenBytes(env) / math.max(1L, tracedAdmittedBytes))
    val f = mutable.ArrayBuffer.empty[String]
    check(f, recall >= 0.8, s"ivf serve recall@10 $recall against brute force")
    check(f, inCluster >= 0.9, s"only $inCluster of served neighbours share the query's cluster")
    (stats, f.toSeq)
  }

  /** Bytes the traced append and maintenance calls wrote. */
  private def writtenBytes(env: Env): Double = {
    val sum = env.tracer.summary()
    Seq("sources.dedup_append", "sources.ivf_append", "sources.maintain")
      .flatMap(sum.get).map(m => m("output_mb") * m("calls") * 1e6).sum
  }

  private def storedBytes(spark: SparkSession): Long = {
    val tables = bucketedTables :+ s"${Ivf}_cents"
    tables.map { t =>
      val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
        .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(t)).location)
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(loc).getLength
    }.sum
  }

  override def cleanup(env: Env): Unit =
    (bucketedTables ++ Seq(s"${Ivf}_cents", s"${Ivf}_coarse")).foreach(t =>
      env.spark.sql(s"DROP TABLE IF EXISTS $t"))
}
