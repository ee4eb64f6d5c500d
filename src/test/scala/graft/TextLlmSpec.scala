package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, LlmQueries, Similarity, TextAnalysis}
import graft.text.TextOps

class TextLlmSpec extends AnyFunSuite {
  import TestSession._

  private def docs(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("contaminationScore grades overlap per doc, keeps clean docs at 0") {
    val train = docs(
      (1L, "a b c d e"),  // shingles: "a b c","b c d","c d e"
      (2L, "x y z w v"),  // none shared
      (3L, "b c d"))      // single shingle, fully in the eval set
    val eval_ = docs((9L, "b c d q r"))
    val got = graft.llm.Dedup.contaminationScore(train, eval_, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((3L, 1L, 0.333333)))
    assert(got(2L) == ((3L, 0L, 0.0)))
    assert(got(3L) == ((1L, 1L, 1.0)))
  }

  test("incrementalDedup rejects corpus near-dups, admits novel docs") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = docs((100L, base), (101L, "completely different corpus text " +
      "with many unrelated words forming its own distinct shingle set"))
    val fresh = docs(
      (1L, base),                                   // exact dup → rejected
      (2L, base + " extra"),                        // near-dup → rejected
      (3L, "a genuinely novel document about spark plans and shuffles " +
        "sharing nothing with the existing corpus at all"))
    val admitted = graft.llm.Dedup.incrementalDedup(fresh, corpus,
      "text", "doc_id").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(3L), s"got $admitted")
  }

  test("incremental dedup admits everything against an empty corpus") {
    val empty = docs().where("1 = 0")
    val fresh = docs((1L, "some document body here"), (2L, "another one entirely"))
    val viaBloom = graft.llm.Dedup.exactIncremental(fresh, empty,
      "text", "doc_id").count()
    val viaBands = graft.llm.Dedup.incrementalDedup(fresh, empty,
      "text", "doc_id").count()
    assert(viaBloom == 2 && viaBands == 2)
  }

  test("exactIncremental: bloom-prefiltered exact dedup is bloom-invariant") {
    val corpus = docs((100L, "shared corpus document body"),
      (101L, "another corpus document"))
    val fresh = docs(
      (1L, "shared  CORPUS   document body"), // normalized dup → rejected
      (2L, "a novel document"))
    val admitted = graft.llm.Dedup.exactIncremental(fresh, corpus,
      "text", "doc_id").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(2L), s"got $admitted")
  }

  test("exactIncremental raises the runtime bloom size caps and restores them") {
    // Simulate a corpus bigger than the configured cap: with the caps left
    // at these values a correctly-sized bloom would be impossible, so the
    // operator must raise them for the build — and put them back after.
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    spark.conf.set(itemsKey, "2")
    spark.conf.set(bitsKey, "64")
    try {
      val corpus = docs((100L, "corpus doc one"), (101L, "corpus doc two"),
        (102L, "corpus doc three"), (103L, "corpus doc four"))
      val fresh = docs((1L, "corpus doc three"), (2L, "a novel document"))
      val admitted = Dedup.exactIncremental(fresh, corpus, "text", "doc_id")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(admitted == Set(2L), s"got $admitted")
      assert(spark.conf.get(itemsKey) == "2", "maxNumItems not restored")
      assert(spark.conf.get(bitsKey) == "64", "maxNumBits not restored")
    } finally {
      spark.conf.unset(itemsKey)
      spark.conf.unset(bitsKey)
    }
  }

  test("lmScore: corpus-MLE bigram log-likelihood, hand-computed") {
    // corpus: "a b" ×2 and "a c" ×1 (plus a 1-token doc → degenerate).
    // counts: c(a)=3, c(b)=2, c(c)=1, c("a b")=2, c("a c")=1.
    // doc 1 "a b": ln(2/3); doc 2 "a b": ln(2/3); doc 3 "a c": ln(1/3).
    val d = docs((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "solo"))
    val out = graft.llm.TextAnalysis.lmScore(d, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) == ((1L, r6(math.log(2.0 / 3.0)))))
    assert(out(2L) == ((1L, r6(math.log(2.0 / 3.0)))))
    assert(out(3L) == ((1L, r6(math.log(1.0 / 3.0)))))
    assert(out(4L) == ((0L, 0.0)))
    // fluency ordering: the more predictable continuation scores higher
    assert(out(1L)._2 > out(3L)._2)
  }

  test("piiScrub redacts emails/phones/ssns and counts what it found") {
    val d = docs(
      (1L, "mail a.b+c@x.co and d@y.org, call 415-555-0100 or 415.555.0101"),
      (2L, "ssn 123-45-6789 is not a phone; 12-34-5678 is neither"),
      (3L, "nothing to redact here"))
    val out = graft.llm.Scrub.piiScrub(d, "text", "doc_id").collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L) == (("mail <EMAIL> and <EMAIL>, call <PHONE> or <PHONE>",
      2L, 2L, 0L)))
    assert(out(2L) == (("ssn <SSN> is not a phone; 12-34-5678 is neither",
      0L, 0L, 1L)))
    assert(out(3L) == (("nothing to redact here", 0L, 0L, 0L)))
  }

  test("wordFreq counts strtok tokens, punctuation kept") {
    val d = docs((1L, "a b  a\tc!"), (2L, "a"))
    val freq = TextOps.wordFreq(d, "text").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(freq == Map("a" -> 3L, "b" -> 1L, "c!" -> 1L))
  }

  test("topWords breaks ties by word ascending") {
    val d = docs((1L, "b a c b a"))
    val top = TextOps.topWords(d, "text", 2).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(top == Seq(("a", 2L), ("b", 2L)))
  }

  test("urlIndexFromFiles extracts hrefs per file (the GPU fork workload)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_html")
    java.nio.file.Files.writeString(dir.resolve("f1.html"),
      """<p><a href="http://x/1">one</a> <a href="http://x/2">two</a></p>""")
    java.nio.file.Files.writeString(dir.resolve("f2.html"),
      """<a href="http://x/1">again</a>""")
    val idx = TextOps.urlIndexFromFiles(spark, dir.toString + "/*")
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).map(_.split("/f").last)).toMap
    assert(idx.keySet == Set("http://x/1", "http://x/2"))
    assert(idx("http://x/1").map(_.takeRight(7)).sorted == Seq("1.html", "2.html"))
    assert(idx("http://x/2").map(_.takeRight(7)) == Seq("1.html"))
  }

  test("intCountFromBinaryFiles decodes little-endian int stream") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bin")
    val buf = java.nio.ByteBuffer.allocate(20).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(7, 7, 42, 7, 42).foreach(buf.putInt)
    java.nio.file.Files.write(dir.resolve("ints.bin"), buf.array())
    val counts = TextOps.intCountFromBinaryFiles(spark, dir.toString)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts == Map(7 -> 3L, 42 -> 2L))
  }

  test("exact dedup groups identical content, survivor = min id") {
    val d = docs((5L, "same text"), (2L, "same text"), (9L, "other"))
    val out = Dedup.exact(d, "text", "doc_id").collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out == Map(2L -> 2L, 9L -> 1L))
  }

  test("jaccard pair of identical docs is 1.0; disjoint docs absent") {
    val d = docs(
      (1L, "w1 w2 w3 w4 w5"), (2L, "w1 w2 w3 w4 w5"), (3L, "x1 x2 x3 x4 x5"))
    val pairs = Dedup.jaccardPairs(d, "text", "doc_id", k = 3, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("minhash LSH recovers the exact near-dup pairs on real documents") {
    val d = Tables.documents(spark, sf0001)
    val exact = Dedup.jaccardPairs(d, "text", "doc_id", k = 3, tau = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minHashLshPairs(d, "text", "doc_id",
      k = 3, numHashes = 64, bands = 16, tau = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert((exact -- mh).isEmpty, s"missed pairs: ${exact -- mh}")
  }

  test("exact-verified minhash LSH equals the quadratic baseline exactly") {
    val d = Tables.documents(spark, sf0001)
    val exact = Dedup.jaccardPairs(d, "text", "doc_id", k = 3, tau = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val banded = Dedup.minHashLshPairsExact(d, "text", "doc_id",
      k = 3, numHashes = 64, bands = 16, tau = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty)
    assert(banded == exact,
      s"missed: ${exact -- banded}; spurious: ${banded -- exact}")
  }

  test("simhash golden corpus: banded pairs equal brute-force Hamming pairs") {
    val s = spark
    import s.implicits._
    val d = LlmQueries.simhashGoldenDocs.toDF("doc_id", "text")
    val fps = Dedup.simHash(d, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = (for {
      a <- fps.keys; b <- fps.keys if a < b
      h = java.lang.Long.bitCount(fps(a) ^ fps(b)) if h <= 3
    } yield (a, b, h.toLong)).toSet
    val banded = Dedup.simHashPairs(d, "text", "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    info(s"golden simhash pairs: ${banded.toSeq.sorted.mkString(", ")}")
    assert(banded == expect)
    assert(banded.nonEmpty, "golden corpus must contain near-dup pairs")
  }

  test("MinHashSig expression matches driver-side reference (codegen, no fallback)") {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.types.UTF8String
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val d = docs((1L, "a b c d e"))
      val ws = filter(split(col("text"), "\\s+"), w => length(w) > 0)
      val sig = d.select(graft.functions.MinHashSig.minhashSig(ws, 3, 8).as("sig"))
        .head().getSeq[Long](0)
      val shingles = Seq("a b c", "b c d", "c d e").map(UTF8String.fromString)
      val expect = (0 until 8).map(h => shingles.map(s =>
        XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, h.toLong)).min)
      assert(sig == expect)
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("simhash of identical texts is identical; pairs found at hamming 0") {
    val d = docs((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "zeta eta theta iota"))
    val fps = Dedup.simHash(d, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L) && fps(1L) != fps(3L))
    val pairs = Dedup.simHashPairs(d, "text", "doc_id", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("brute-force knn: nearest neighbor of a vector is its duplicate") {
    val s = spark
    import s.implicits._
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(1.0f, 0.001f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)), (4L, Array(0.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val knn = Similarity.bruteForceKnn(emb, "vec_id", "embedding",
      col("vec_id") === 1, k = 1).collect()
    assert(knn.length == 1 && knn(0).getLong(1) == 2L)
    assert(knn(0).getDouble(2) > 0.999)
  }

  test("multi-probe LSH knn reaches decent recall of true top-5") {
    val emb = Tables.embeddings(spark, sf0001)
    val truth = Similarity.bruteForceKnn(emb, "vec_id", "embedding",
      col("vec_id") < 10, k = 5).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshKnn(emb, "vec_id", "embedding", dim = 64,
      col("vec_id") < 10, k = 5, nPlanes = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & approx).size.toDouble / truth.size
    assert(recall >= 0.3, s"recall $recall")
  }

  test("readChunks splits files at a custom separator (map v3 parity)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_chunks")
    java.nio.file.Files.writeString(dir.resolve("data.txt"), "aaa::bb b::cc\ncc")
    val chunks = graft.text.TextOps.readChunks(spark, dir.toString, "::")
      .collect().map(_.getString(0)).toSet
    assert(chunks == Set("aaa", "bb b", "cc\ncc"))
  }

  test("dedupClusters groups near-dup pairs transitively") {
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.85), (8L, 9L, 0.95))
      .toDF("da", "db", "jaccard")
    val clusters = Dedup.dedupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 8L -> 8L, 9L -> 8L))
  }

  test("IVF knn reaches decent recall of true top-5") {
    val emb = Tables.embeddings(spark, sf0001)
    val truth = Similarity.bruteForceKnn(emb, "vec_id", "embedding",
      col("vec_id") < 10, k = 5).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 8 cells over the 50 sf0.001 vectors (~6 members each, probe 2):
    // at 64 cells every cell would be a singleton and recall degenerate
    val approx = Similarity.ivfKnn(emb, "vec_id", "embedding",
      col("vec_id") < 10, k = 5, numCentroids = 8, nProbe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & approx).size.toDouble / truth.size
    assert(recall >= 0.3, s"recall $recall")
  }

  test("PQ shortlist catches true neighbors (shortlist-then-rerank shape)") {
    // raw ADC rank is a SHORTLIST stage, not a final ranking — the
    // production pipeline reranks the shortlist exactly. Pin: the PQ
    // top-20 shortlist (8 subspaces × 16 codewords, deterministic
    // codebooks) contains a decent fraction of the true EUCLIDEAN top-5
    // (PQ approximates L2, so the truth metric is L2, not cosine).
    val emb = Tables.embeddings(spark, sf0001)
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      graft.functions.DotProduct.dot(a, b)
    val q = broadcast(emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv")))
    val truth = q.crossJoin(emb.select(col("vec_id").as("nid"),
        col("embedding").as("nv")))
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (dot(col("qv"), col("qv")) - lit(2.0) * dot(col("qv"), col("nv"))
          + dot(col("nv"), col("nv"))).as("d2"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("d2").asc, col("nid").asc)))
      .where(col("rn") <= 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val shortlist = Similarity.pqKnn(emb, "vec_id", "embedding", dim = 64,
      col("vec_id") < 10, m = 8, ksub = 16, k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & shortlist).size.toDouble / truth.size
    assert(recall >= 0.3, s"shortlist recall $recall")

    // the composed IVF-PQ shortlist restricts candidates to probed
    // cells BEFORE ADC-scoring them; with most cells probed (6 of 8
    // over the 50-vector corpus) its shortlist must stay comparable
    val composed = Similarity.ivfPqKnn(emb, "vec_id", "embedding",
      dim = 64, col("vec_id") < 10, numCentroids = 8, nProbe = 6,
      m = 8, ksub = 16, k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val composedRecall = (truth & composed).size.toDouble / truth.size
    assert(composedRecall >= 0.3, s"IVF-PQ shortlist recall $composedRecall")
    // residual codebooks train on 50 residual vectors here — far too few
    // for their advantage (within-cell resolution) to show, so the pin
    // is only "catches a sensible fraction", slightly looser than flat
    val residual = Similarity.ivfPqResidualKnn(emb, "vec_id", "embedding",
      dim = 64, col("vec_id") < 10, numCentroids = 8, nProbe = 6,
      m = 8, ksub = 16, k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val residualRecall = (truth & residual).size.toDouble / truth.size
    assert(residualRecall >= 0.2, s"residual IVF-PQ recall $residualRecall")
    // routing only FILTERS candidates — the ADC distance of any pair
    // both variants score must be bit-identical (same codebooks)
    val flatDist = Similarity.pqKnn(emb, "vec_id", "embedding", dim = 64,
      col("vec_id") < 10, m = 8, ksub = 16, k = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val composedDist = Similarity.ivfPqKnn(emb, "vec_id", "embedding",
      dim = 64, col("vec_id") < 10, numCentroids = 8, nProbe = 6,
      m = 8, ksub = 16, k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    composedDist.foreach { case (pair, d) =>
      assert(flatDist.get(pair).contains(d),
        s"ADC distance diverges for $pair: ivfpq=$d flat=${flatDist.get(pair)}")
    }
  }

  test("exact refine of the PQ shortlist never loses recall vs ADC-only") {
    // the IndexRefineFlat claim: re-scoring the 20-deep shortlist with
    // exact vectors recovers orderings ADC quantization scrambled, so
    // refined top-5 recall of the true L2 top-5 is >= ADC-only top-5
    // recall — and every refined hit must come FROM the shortlist
    val emb = Tables.embeddings(spark, sf0001)
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      graft.functions.DotProduct.dot(a, b)
    val q = broadcast(emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv")))
    val truth = q.crossJoin(emb.select(col("vec_id").as("nid"),
        col("embedding").as("nv")))
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (dot(col("qv"), col("qv")) - lit(2.0) * dot(col("qv"), col("nv"))
          + dot(col("nv"), col("nv"))).as("d2"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("d2").asc, col("nid").asc)))
      .where(col("rn") <= 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adcOnly = Similarity.pqKnn(emb, "vec_id", "embedding", dim = 64,
      col("vec_id") < 10, m = 8, ksub = 16, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val shortlist = Similarity.pqKnn(emb, "vec_id", "embedding", dim = 64,
      col("vec_id") < 10, m = 8, ksub = 16, k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val refined = Similarity.pqKnnRefined(emb, "vec_id", "embedding",
      dim = 64, col("vec_id") < 10, m = 8, ksub = 16, shortlistK = 20,
      k = 5).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(refined.subsetOf(shortlist),
      "refine may only reorder the shortlist, never add candidates")
    val adcRecall = (truth & adcOnly).size.toDouble / truth.size
    val refinedRecall = (truth & refined).size.toDouble / truth.size
    assert(refinedRecall >= adcRecall,
      s"refine lost recall: refined=$refinedRecall adc=$adcRecall")
  }

  test("token stats and quality on a known string") {
    val d = docs((1L, "The cat, the hat!"))
    val ts = TextAnalysis.tokenStats(d, "text", "doc_id").head()
    assert(ts.getLong(1) == 4L)  // ws tokens
    assert(ts.getLong(2) == 6L)  // word pieces + , + !
    assert(ts.getLong(3) == 17L)
    val q = TextAnalysis.qualityScore(d, "text", "doc_id").head()
    assert(q.getLong(1) == 4L)
    assert(q.getDouble(3) == 0.25) // "the" of 4 tokens ("The" capitalized not counted)
  }

  test("fingerprint is whitespace/case insensitive") {
    val d = docs((1L, "Hello  World"), (2L, "hello world"), (3L, "bye"))
    val fps = Dedup.exactNormalized(d, "text", "doc_id").collect()
    assert(fps.length == 2)
    assert(fps.find(_.getLong(2) == 2L).get.getLong(1) == 1L)
  }

  test("chunkDocs: overlap, short tail, sub-width doc, empty doc dropped") {
    val d = docs((1L, "abcdefghij"), (2L, "xy"), (3L, ""))
    val chunks = graft.llm.Chunking.chunkDocs(d, "text", "doc_id",
      width = 6, stride = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(chunks == Set(
      (1L, 0L, "abcdef"), (1L, 1L, "efghij"), (1L, 2L, "ij"), // 2-char overlap
      (2L, 0L, "xy"))) // doc 3 is empty → no chunks
  }

  test("packSequences: boundary doc straddles into the pack it starts in") {
    val s = spark
    import s.implicits._
    // tokens: 3, 4, 2, 5 — capacity 6; cumulative-before: 0, 3, 7, 9
    // → packs 0, 0, 1, 1 (doc 20 straddles the boundary but stays in
    // pack 0 because it STARTS there)
    val d = Seq(
      (10L, "a b c", "s1"), (20L, "d e f g", "s1"),
      (30L, "h i", "s1"), (40L, "j k l m n", "s1"))
      .toDF("doc_id", "text", "source")
    val packs = graft.llm.Chunking.packSequences(d, "text", "doc_id",
      "source", capacity = 6).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(packs == Set(("s1", 0L, 2L, 7L), ("s1", 1L, 2L, 7L)))
  }

  test("vecMean: exact centroid; null and wrong-length vectors skipped") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1, Array(1.0f, 3.0f)), (1, Array(3.0f, 5.0f)),
      (1, null.asInstanceOf[Array[Float]]), (1, Array(9.0f)), // both skipped
      (2, Array(2.0f, 2.0f)))
      .toDF("label", "embedding")
    val out = d.groupBy(col("label"))
      .agg(graft.functions.VectorMeanAggregator.vecMean(2)(col("embedding"))
        .as("c"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toMap
    assert(out == Map(1 -> Seq(2.0, 4.0), 2 -> Seq(2.0, 2.0)))
  }

  test("bm25TopK ranks docs matching more/rarer query terms first") {
    val d = docs(
      (1L, "spark hash join fast"),
      (2L, "spark spark spark table"),
      (3L, "table scan value"))
    val got = TextOps.bm25TopK(d, "text", "doc_id",
        Seq("qa" -> "spark hash"), k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3)))
    // doc 3 has no query term — absent; doc 1 (both terms, one rare)
    // outranks doc 2 (one common term, tf-saturated)
    assert(got.map(_._2).toSeq == Seq(1L, 2L), s"got ${got.mkString(",")}")
    assert(got.forall(_._3 > 0.0))
    val Seq(s1, s2) = got.map(_._3).toSeq
    assert(s1 > s2)
  }

  test("pmiPairs ranks collocations by hand-computed PMI with min-count cut") {
    import graft.llm.TextAnalysis
    val d = docs((1L, "x y x y x y"), (2L, "x z"))
    // unigrams: x=4 y=3 z=1, N1=8; bigrams: "x y"=3 "y x"=2 "x z"=1, N2=6
    // minCount=2 keeps "x y","y x":
    //   pmi(x y) = ln(3*8*8 / (6*4*3)) = ln(8/3)  = 0.980829
    //   pmi(y x) = ln(2*8*8 / (6*3*4)) = ln(16/9) = 0.575364
    val got = TextAnalysis.pmiPairs(d, "text", topK = 5, minCount = 2L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(("x y", 3L, 0.980829), ("y x", 2L, 0.575364)))
  }

  test("containmentPairs catches subset duplication that Jaccard misses") {
    val inner = "alpha beta gamma delta epsilon zeta eta theta"
    val d = docs(
      (1L, inner), // fully contained in doc 2
      (2L, inner + " iota kappa lambda mu nu xi omicron pi rho sigma tau"),
      (3L, "wholly unrelated words about spark shuffles and catalyst plans"))
    val got = Dedup.containmentPairs(d, "text", "doc_id", tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(got.keySet == Set((1L, 2L)), s"got $got")
    assert(got((1L, 2L))._1 == 1.0, "doc 1's shingles are all inside doc 2")
    // symmetric Jaccard at the same threshold misses the pair
    assert(Dedup.jaccardPairs(d, "text", "doc_id", k = 3, tau = 0.9)
      .count() == 0)
    // hot-shingle exclusion is deterministic: with maxDf = 1 no shingle
    // is rare, so no candidates exist at all
    assert(Dedup.containmentPairs(d, "text", "doc_id", tau = 0.9,
      maxDf = 1L).count() == 0)
  }

  test("pseudonymize is join-consistent across tables and seed-dependent") {
    import graft.llm.Scrub
    val s = spark
    import s.implicits._
    val a = Seq((1L, 10L), (2L, 20L)).toDF("row_id", "user_id")
    val b = Seq((20L, "x"), (10L, "y")).toDF("user_id", "tag")
    val pa = Scrub.pseudonymize(a, Seq("user_id"))
    val pb = Scrub.pseudonymize(b, Seq("user_id"))
    // tokens are opaque, stable, and join exactly like the raw ids did
    val joined = pa.join(pb, "user_id").collect()
    assert(joined.length == 2)
    val tok = pa.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(tok.values.forall(_.startsWith("anon_")))
    assert(tok(1L) != tok(2L))
    // a different seed unlinks the mapping
    val rot = Scrub.pseudonymize(a, Seq("user_id"), seed = 99L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rot(1L) != tok(1L))
  }

  test("kAnonymityAudit flags quasi-identifier groups under k") {
    import graft.llm.Scrub
    val s = spark
    import s.implicits._
    val d = (Seq.fill(5)(("en", "s1")) ++ Seq.fill(2)(("en", "s2")) ++
      Seq.fill(1)(("fr", "s1"))).zipWithIndex
      .map { case ((l, src), i) => (i.toLong, l, src) }
      .toDF("id", "lang", "src")
    val got = Scrub.kAnonymityAudit(d, Seq("lang", "src"), k = 3L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(got(("en", "s1")) == ((5L, false)))
    assert(got(("en", "s2")) == ((2L, true)))
    assert(got(("fr", "s1")) == ((1L, true)))
  }

  test("semanticDecontaminate flags near-eval train vectors, cross-set only") {
    val s = spark
    import s.implicits._
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val base = v(1, 0, 0, 0, 0, 0, 0, 0)
    val near = v(0.99, 0.01, 0, 0, 0, 0, 0, 0)
    val ortho = v(0, 0, 0, 0, 1, 0, 0, 0)
    val evalSet = Seq((1L, base)).toDF("vec_id", "embedding")
    // 100/101: near-identical PAIR within train with no eval counterpart
    // — must NOT flag each other (candidates are eval x train only)
    val train = Seq((10L, near), (11L, ortho),
      (100L, v(0, 1, 0, 0, 0, 0, 0, 0.02)),
      (101L, v(0, 1, 0, 0, 0, 0, 0, 0.01))).toDF("vec_id", "embedding")
    val got = graft.llm.Similarity.semanticDecontaminate(
        train, evalSet, "vec_id", "embedding", dim = 8, tau = 0.5,
        nPlanes = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(got.keySet == Set(10L), s"only the near-eval vector flags: $got")
    assert(got(10L)._1 == 1L && got(10L)._2 > 0.999)
  }

  test("relativeQualityFilter drops lowest buckets per group, whole-bucket rule") {
    import graft.llm.TextAnalysis
    val s = spark
    import s.implicits._
    // two groups with spread quality: stopword-dense docs score high,
    // stopword-free low; duplicate texts share a bucket (tie case)
    val d = Seq(
      (1L, "ga", "zz yy xx ww vv"),
      (2L, "ga", "zz yy xx ww vv"), // same bucket as doc 1
      (3L, "ga", "the a of to and"),
      (4L, "ga", "the a of qq rr ss"),
      (5L, "ga", "the of zz yy xx ww vv uu tt"),
      (6L, "gb", "no stop words here at all friend"),
      (7L, "gb", "the the the a of in is"),
      (8L, "gb", "mixed the content of words going on")
    ).toDF("doc_id", "src", "text")
    val qb = d.withColumn("qb",
        round(TextAnalysis.quality(col("text")) * 10000.0).cast("long"))
      .select("doc_id", "src", "qb").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // replay the histogram-CDF rule: drop whole buckets (ascending)
    // while cumulative count stays <= floor(dropFrac * n)
    val expected = qb.groupBy(_._2).flatMap { case (_, rows) =>
      val cut = math.floor(0.4 * rows.length).toLong
      var cum = 0L
      val dropped = rows.groupBy(_._3).toSeq.sortBy(_._1).flatMap {
        case (b, rs) =>
          cum += rs.length
          if (cum <= cut) Some(b) else None
      }.toSet
      rows.filterNot(r => dropped(r._3)).map(_._1).toSeq
    }.toSet
    val got = TextAnalysis.relativeQualityFilter(d, "text", "doc_id", "src", 0.4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected, s"buckets: ${qb.mkString(", ")}")
    assert(got.size < 8, "the filter must actually drop documents")
    assert(TextAnalysis.relativeQualityFilter(d, "text", "doc_id", "src", 0.0)
      .count() == 8, "dropFrac=0 keeps everything")
  }

  test("vocab build ranks count-desc word-asc; encode counts OOV and checksums order") {
    import graft.text.Vocab
    val d = docs(
      (1L, "b b b a a c"),
      (2L, "a  rare"))  // double space: empty token must be dropped
    val vocab = Vocab.build(d, "text", size = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // counts: a=3, b=3, c=1, rare=1 → ids: a=1 (tie with b, word asc),
    // b=2, c=3; "rare" falls outside size=3
    assert(vocab.sortBy(_._3).toSeq ==
      Seq(("a", 3L, 1L), ("b", 3L, 2L), ("c", 1L, 3L)))
    val enc = Vocab.encodeSummary(d, "text", "doc_id",
        Vocab.build(d, "text", size = 3))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1: ids b,b,b,a,a,c = 2,2,2,1,1,3 →
    //   Σ (pos+1)(id+7): 1·9+2·9+3·9+4·8+5·8+6·10 = 186
    assert(enc(1L) == ((6L, 0L, 186L)))
    // doc 2: tokens a, rare (positions AFTER empty-token removal) →
    //   ids 1, OOV=0: 1·8 + 2·7 = 22
    assert(enc(2L) == ((2L, 1L, 22L)))
  }

  test("tfIdfTopK ranks by tfidf desc with word-asc tiebreak") {
    // 3 docs; "common" is in all docs (idf = 0), so distinguishing terms win
    val d = docs(
      (1L, "common apple apple banana"),
      (2L, "common banana"),
      (3L, "common cherry"))
    val top = TextOps.tfIdfTopK(d, "text", "doc_id", k = 1).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    // doc 1: apple tf=2, df=1 → top; doc 2: banana (df=2 but common has idf 0)
    assert(top == Map(1L -> "apple", 2L -> "banana", 3L -> "cherry"))
  }

  test("sessionize: gap strictly over the threshold starts a new session") {
    val s = spark
    import s.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(sec: Long) = new java.sql.Timestamp(base.getTime + sec * 1000)
    // user 1: events at 0s, 1800s (exactly gap → SAME session), 3601s (new)
    val ev = Seq(
      (1L, 1L, at(0)), (1L, 2L, at(1800)), (1L, 3L, at(3601)),
      (2L, 4L, at(0)))
      .toDF("user_id", "event_id", "ts")
    val out = graft.operators.Sessionize.sessionize(ev, "user_id", "ts",
      "event_id", gapSec = 1800L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 1L, 2L), (1L, 2L, 1L), (2L, 1L, 1L)))
  }
}
