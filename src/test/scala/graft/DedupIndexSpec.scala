package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Sampling}
import graft.sources.DedupIndex

/** The persisted band index must answer exactly what the in-memory
  * incremental dedup answers, with the corpus side served from storage
  * shuffle-free — and appends must make admitted docs first-class
  * corpus members for the next batch. */
class DedupIndexSpec extends AnyFunSuite {
  import TestSession._

  private def fixtureSplit() = {
    val docs = Tables.documents(spark, sf0001)
    val fresh = Sampling.hashSample(docs, "doc_id", 0.2)
    val corpus = docs.join(fresh.select(col("doc_id")), Seq("doc_id"),
      "left_anti")
    (docs, fresh, corpus)
  }

  test("stored-index dedup equals in-memory incrementalDedup row-for-row") {
    val (_, fresh, corpus) = fixtureSplit()
    DedupIndex.build(spark, corpus, "text", "doc_id", "graft_dedup_spec")
    val stored = DedupIndex.dedupAgainst(spark, "graft_dedup_spec", fresh,
      "text", "doc_id").collect().map(_.toSeq).toSet
    val mem = Dedup.incrementalDedup(fresh, corpus, "text", "doc_id")
      .collect().map(_.toSeq).toSet
    assert(stored == mem && stored.nonEmpty)
  }

  test("both admission paths equal a driver-side banded exact-Jaccard reference") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(20261018L)
    def words(n: Int) = Vector.fill(n)(s"w${rnd.nextInt(400)}")
    val corpusText = Vector.tabulate(60) { i =>
      if (i < 3) words(i).mkString(" ") else words(40 + rnd.nextInt(20)).mkString(" ")
    }
    // planted near-copies: e spread word edits in a 40-59 word doc give
    // 3-shingle Jaccard 1.0 (e = 0), ≈ 0.85-0.9, ≈ 0.73-0.81, ≈ 0.62-0.73
    def nearCopy(src: String, e: Int) = {
      val ws = src.split(" ").toVector
      (0 until e).foldLeft(ws)((w, j) =>
        w.updated(j * ws.length / e + rnd.nextInt(3), s"edit$j")).mkString(" ")
    }
    val freshText = Vector.tabulate(20)(i =>
      nearCopy(corpusText(3 + i * 2), i % 4)) ++ Vector(
      "   " + corpusText(50),                  // leading whitespace
      corpusText(51).replace(" ", "\t "),      // other whitespace runs
      "", "two words", " one") ++              // fewer than 3 words
      Vector.fill(15)(words(40 + rnd.nextInt(20)).mkString(" "))
    val corpus = corpusText.zipWithIndex.map { case (t, i) => (i + 1L, t) }
    val fresh = freshText.zipWithIndex.map { case (t, i) => (i + 1001L, t) }

    // reference: band keys, shingles and rounded Jaccard on the driver
    def toks(t: String) = t.split("\\s+").filter(_.nonEmpty)
    def bandKeys(t: String): Set[(Int, Long)] = {
      val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        t.split("\\s+").map(org.apache.spark.unsafe.types.UTF8String.fromString)
          .toArray[Any])
      Option(graft.functions.MinHashBands.compute(arr, 3, 64, 16))
        .map(_.toLongArray().zipWithIndex.map { case (h, b) => (b, h) }.toSet)
        .getOrElse(Set.empty)
    }
    def shingles(t: String) = toks(t).sliding(3).filter(_.length == 3)
      .map(_.mkString(" ")).toSet
    def jaccard(a: String, b: String) = {
      val (sa, sb) = (shingles(a), shingles(b))
      val c = (sa & sb).size
      BigDecimal(c.toDouble / (sa.size + sb.size - c))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val cand = for {
      (f, ft) <- fresh; (c, ct) <- corpus
      if (bandKeys(ft) & bandKeys(ct)).nonEmpty
    } yield (f, c, jaccard(ft, ct))
    val expected = fresh.map(_._1).toSet --
      cand.filter(_._3 >= 0.8).map(_._1)
    assert(cand.exists(_._3 < 0.8) && cand.exists(p => p._3 >= 0.8 &&
      p._3 < 1.0) && fresh.size - expected.size >= 10,
      s"the fixture needs candidates on both sides of tau: $cand")
    assert(Set(1023L, 1024L, 1025L).subsetOf(expected),
      "docs under 3 words have no band keys and are admitted")
    assert(!expected.contains(1021L), "leading whitespace must not hide a dup")

    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val freshDf = fresh.toDF("doc_id", "text")
    val corpusDf = corpus.toDF("doc_id", "text")
    assert(ids(Dedup.incrementalDedup(freshDf, corpusDf, "text", "doc_id"))
      == expected)
    DedupIndex.build(spark, corpusDf, "text", "doc_id", "graft_dedup_ref")
    assert(ids(DedupIndex.dedupAgainst(spark, "graft_dedup_ref", freshDf,
      "text", "doc_id")) == expected)
  }

  test("the candidate probe never shuffles the stored bands side") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val (_, fresh, corpus) = fixtureSplit()
    DedupIndex.build(spark, corpus, "text", "doc_id", "graft_dedup_spec2")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = DedupIndex.dedupAgainst(spark, "graft_dedup_spec2", fresh,
        "text", "doc_id")
      df.count()
      val shuffledStored = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec
            if e.child.toString.contains("graft_dedup_spec2_bands") => e
      }
      assert(shuffledStored.isEmpty,
        s"the stored band postings must join on their bucket key " +
          s"without an Exchange:\n${df.queryExecution.executedPlan}")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("append makes admitted docs corpus members: a re-crawl is rejected") {
    val (_, fresh, corpus) = fixtureSplit()
    DedupIndex.build(spark, corpus, "text", "doc_id", "graft_dedup_spec3")
    val admitted = DedupIndex.dedupAgainst(spark, "graft_dedup_spec3",
      fresh, "text", "doc_id").localCheckpoint()
    DedupIndex.append(spark, "graft_dedup_spec3", admitted, "text",
      "doc_id")
    // the same admitted docs re-crawled under NEW ids are exact dups of
    // what was just appended — the index must now reject every one that
    // has >= 3 words (short docs have no bands/shingles by contract)
    val recrawl = admitted
      .withColumn("doc_id", col("doc_id") + 5000000L)
      .where(size(split(col("text"), "\\s+")) >= 3)
    val secondPass = DedupIndex.dedupAgainst(spark, "graft_dedup_spec3",
      recrawl, "text", "doc_id")
    assert(recrawl.count() > 0 && secondPass.count() == 0,
      s"re-crawled duplicates of appended docs must be rejected " +
        s"(${secondPass.count()} of ${recrawl.count()} admitted)")
  }
}
