package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sources.{Compact, DedupIndex, IvfIndex, TextIndex}

/** Bucket-preserving compaction contract (r12 verdict #2): after
  * thousands of `append` batches a bucketed index is thousands of small
  * files per bucket — compactTable must fold each bucket back to ONE
  * file while leaving (a) the catalog bucket spec, (b) every pruned
  * serve plan, and (c) every served answer byte-identical. */
class CompactSpec extends AnyFunSuite {
  import TestSession._

  private def tableFiles(table: String): Seq[String] = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    val loc = new org.apache.hadoop.fs.Path(meta.location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(loc).toSeq.map(_.getPath.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith("."))
  }

  // bucketed writer names files part-...-_NNNNN.c000...: _NNNNN is the
  // bucket id — the per-bucket file census the contract is about
  private def filesPerBucket(table: String): Map[String, Int] = {
    val bucketId = "_(\\d{5})\\.".r
    tableFiles(table)
      .flatMap(n => bucketId.findFirstMatchIn(n).map(_.group(1)))
      .groupBy(identity).map { case (b, fs) => b -> fs.size }
  }

  private def queries = Tables.embeddings(spark, sf0001)
    .where(col("vec_id") < 10)
    .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  test("IVF compact folds appended buckets to one file; plan and answers unchanged") {
    val emb = Tables.embeddings(spark, sf0001)
    IvfIndex.build(spark, emb.where(col("vec_id") >= 200), "vec_id",
      "embedding", "graft_ivf_cmp", numCentroids = 8)
    Seq((0L, 100L), (100L, 150L), (150L, 200L)).foreach { case (a, b) =>
      IvfIndex.append(spark, "graft_ivf_cmp",
        emb.where(col("vec_id") >= a && col("vec_id") < b),
        "vec_id", "embedding")
    }
    val beforeAnswer = IvfIndex.serve(spark, "graft_ivf_cmp", queries,
      k = 5, nProbe = 4).collect().map(_.toSeq).toSet
    val beforeCensus = filesPerBucket("graft_ivf_cmp_cells")
    assert(beforeCensus.values.max > 1,
      s"appends must have fragmented at least one bucket: $beforeCensus")
    val (fb, fa) = IvfIndex.compact(spark, "graft_ivf_cmp")(
      "graft_ivf_cmp_cells")
    val afterCensus = filesPerBucket("graft_ivf_cmp_cells")
    assert(afterCensus.values.forall(_ == 1),
      s"every bucket must fold to one file: $afterCensus")
    assert(fa < fb && fa == afterCensus.size.toLong)
    val served = IvfIndex.serve(spark, "graft_ivf_cmp", queries,
      k = 5, nProbe = 4)
    val p = served.queryExecution.executedPlan.toString
    assert(p.contains("SelectedBucketsCount"),
      s"compaction must keep the pruned serve plan:\n$p")
    assert(served.collect().map(_.toSeq).toSet == beforeAnswer,
      "served answers must be byte-identical across compaction")
  }

  test("one append adds at most one file per bucket to each index table") {
    val docs = Tables.documents(spark, sf0001)
    val fresh = graft.llm.Sampling.hashSample(docs, "doc_id", 0.2)
    DedupIndex.build(spark, docs.join(fresh.select(col("doc_id")),
      Seq("doc_id"), "left_anti"), "text", "doc_id", "graft_dedup_align")
    val emb = Tables.embeddings(spark, sf0001)
    IvfIndex.build(spark, emb.where(col("vec_id") >= 200), "vec_id",
      "embedding", "graft_ivf_align", numCentroids = 8)
    val tables = Seq("graft_dedup_align_bands", "graft_dedup_align_shingles",
      "graft_dedup_align_sizes", "graft_ivf_align_cells")
    val before = tables.map(t => t -> filesPerBucket(t)).toMap
    // a crawl batch arrives spread over several tasks
    DedupIndex.append(spark, "graft_dedup_align", fresh.repartition(4),
      "text", "doc_id")
    IvfIndex.append(spark, "graft_ivf_align",
      emb.where(col("vec_id") < 200).repartition(4), "vec_id", "embedding")
    for (t <- tables) {
      val added = filesPerBucket(t).map { case (b, n) =>
        b -> (n - before(t).getOrElse(b, 0)) }
      assert(added.values.sum > 0 && added.values.forall(_ <= 1),
        s"$t: files added per bucket $added")
    }
  }

  test("compaction is repeatable: generations alternate, answers stable") {
    // the previous test left graft_ivf_cmp compacted once (…__c0/__c1
    // alternation); a second append + compact must still work and land
    // on the other generation path
    val emb = Tables.embeddings(spark, sf0001)
    IvfIndex.build(spark, emb.where(col("vec_id") >= 100), "vec_id",
      "embedding", "graft_ivf_cmp2", numCentroids = 8)
    IvfIndex.append(spark, "graft_ivf_cmp2",
      emb.where(col("vec_id") < 100), "vec_id", "embedding")
    IvfIndex.compact(spark, "graft_ivf_cmp2")
    val loc1 = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(
        "graft_ivf_cmp2_cells")).location.toString
    IvfIndex.append(spark, "graft_ivf_cmp2",
      emb.where(col("vec_id") >= 100 && col("vec_id") < 110)
        .withColumn("vec_id", col("vec_id") + 1000000L),
      "vec_id", "embedding")
    // snapshot AFTER the second append: compaction must not move any
    // answer, including ones that rank freshly appended vectors
    val a1 = IvfIndex.serve(spark, "graft_ivf_cmp2", queries, k = 5,
      nProbe = 4).collect().map(_.toSeq).toSet
    IvfIndex.compact(spark, "graft_ivf_cmp2")
    val loc2 = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(
        "graft_ivf_cmp2_cells")).location.toString
    assert(loc1 != loc2 && loc1.endsWith("__c0") && loc2.endsWith("__c1"),
      s"generations must alternate: $loc1 vs $loc2")
    assert(filesPerBucket("graft_ivf_cmp2_cells").values.forall(_ == 1))
    val a2 = IvfIndex.serve(spark, "graft_ivf_cmp2", queries, k = 5,
      nProbe = 4).collect().map(_.toSeq).toSet
    assert(a2 == a1,
      "answers must be byte-identical across the second compaction")
  }

  test("text-index compact folds postings AND the non-bucketed totals sidecar") {
    val s = spark
    import s.implicits._
    val docs = Tables.documents(spark, sf0001)
    TextIndex.build(spark, docs.where(col("doc_id") >= 100), "text",
      "doc_id", "graft_text_cmp", buckets = 16)
    Seq((0L, 50L), (50L, 100L)).foreach { case (a, b) =>
      TextIndex.append(spark, "graft_text_cmp",
        docs.where(col("doc_id") >= a && col("doc_id") < b),
        "text", "doc_id")
    }
    val q = Seq("q1" -> "the data and of")
    val before = TextIndex.serve(spark, "graft_text_cmp", q, k = 5)
      .collect().map(_.toSeq).toSet
    assert(spark.table("graft_text_cmp_totals").count() == 3L,
      "each append adds one totals delta row")
    val res = TextIndex.compact(spark, "graft_text_cmp")
    assert(res("graft_text_cmp_totals")._2 == 1L,
      s"totals must fold to one file: $res")
    assert(filesPerBucket("graft_text_cmp_postings").values.forall(_ == 1))
    // serve checkpoints its probe, so pin pruning on the probe scan
    // itself (the TextIndexSpec pattern) — it must still read a strict
    // subset of buckets from the compacted table
    val terms = q.flatMap(_._2.split("\\s+")).distinct
    val p = TextIndex.forceBucketedScan(spark) { iso =>
      val probe = iso.table("graft_text_cmp_postings")
        .where(col("word").isin(terms: _*))
      probe.count()
      probe.queryExecution.executedPlan.toString
    }
    assert(p.contains("SelectedBucketsCount"),
      s"postings must stay bucket-pruned after compaction:\n$p")
    assert(TextIndex.serve(spark, "graft_text_cmp", q, k = 5)
      .collect().map(_.toSeq).toSet == before)
    // totals ROWS survive the fold (idf/avgdl inputs intact, 3 → 1 file)
    assert(spark.table("graft_text_cmp_totals").count() == 3L)
  }

  test("compact sweeps the leftover of a crashed prior attempt") {
    val emb = Tables.embeddings(spark, sf0001).where(col("vec_id") < 60)
    IvfIndex.build(spark, emb, "vec_id", "embedding", "graft_ivf_cmp3",
      numCentroids = 4)
    // simulate a crash between copy-write and swap: a fully-written
    // __compacting table exists alongside the live one
    val stale = new org.apache.hadoop.fs.Path(
      IvfIndex.defaultBase + "/stale_leftover")
    stale.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(stale, true) // previous suite run's copy
    spark.table("graft_ivf_cmp3_cells").write.format("parquet")
      .option("path", stale.toString)
      .saveAsTable("graft_ivf_cmp3_cells__compacting")
    val (fb, fa) = IvfIndex.compact(spark, "graft_ivf_cmp3")(
      "graft_ivf_cmp3_cells")
    assert(fa <= fb && filesPerBucket("graft_ivf_cmp3_cells")
      .values.forall(_ == 1))
    assert(!spark.catalog.tableExists("graft_ivf_cmp3_cells__compacting"))
  }

  test("compact completes an interrupted drop->rename swap instead of sweeping it") {
    // r13 ADVICE: a crash INSIDE the swap window leaves no live table
    // and the finished copy under the __compacting name — the next
    // compactTable must rename it back into place (the only surviving
    // copy), not drop it
    val emb = Tables.embeddings(spark, sf0001).where(col("vec_id") < 60)
    IvfIndex.build(spark, emb, "vec_id", "embedding", "graft_ivf_cmp4",
      numCentroids = 4)
    val want = spark.table("graft_ivf_cmp4_cells").collect()
      .map(_.toSeq).toSet
    spark.sql("ALTER TABLE graft_ivf_cmp4_cells RENAME TO " +
      "graft_ivf_cmp4_cells__compacting")
    assert(!spark.catalog.tableExists("graft_ivf_cmp4_cells"))
    val (fb, fa) = IvfIndex.compact(spark, "graft_ivf_cmp4")(
      "graft_ivf_cmp4_cells")
    assert(spark.catalog.tableExists("graft_ivf_cmp4_cells"))
    assert(!spark.catalog.tableExists("graft_ivf_cmp4_cells__compacting"))
    assert(fa <= fb && fa > 0)
    assert(spark.table("graft_ivf_cmp4_cells").collect()
      .map(_.toSeq).toSet == want,
      "recovery must serve the completed copy's rows untouched")
  }

  test("the scheduled maintenance path heals an interrupted swap too") {
    // r14 ADVICE: filesPerBucket (and with it maintainTables and every
    // family maintain() built on it) used to throw on the crashed-swap
    // state a direct compactTable call recovers from — the shared
    // healInterruptedSwap must make the cheap census path recover as
    // well, so a scheduled maintenance pass completes the swap instead
    // of erroring out
    val emb = Tables.embeddings(spark, sf0001).where(col("vec_id") < 60)
    IvfIndex.build(spark, emb, "vec_id", "embedding", "graft_ivf_cmp6",
      numCentroids = 4)
    val want = spark.table("graft_ivf_cmp6_cells").collect()
      .map(_.toSeq).toSet
    spark.sql("ALTER TABLE graft_ivf_cmp6_cells RENAME TO " +
      "graft_ivf_cmp6_cells__compacting")
    assert(!spark.catalog.tableExists("graft_ivf_cmp6_cells"))
    val f = Compact.filesPerBucket(spark, "graft_ivf_cmp6_cells")
    assert(f > 0.0, s"census over the healed table: $f")
    assert(spark.catalog.tableExists("graft_ivf_cmp6_cells"))
    assert(!spark.catalog.tableExists("graft_ivf_cmp6_cells__compacting"))
    assert(spark.table("graft_ivf_cmp6_cells").collect()
      .map(_.toSeq).toSet == want)
  }

  test("maintainAll walks the family registry: fragmented families compact, healthy ones are a cheap no-op") {
    import graft.multimodal.Multimodal
    // media family: fragmented by three appends
    val media = Multimodal.imageTable(spark, sf0001)
    graft.sources.MediaIndex.build(spark,
      Multimodal.imageDHash(media.where(col("media_id") % 4 === 0)),
      "graft_mnt_media")
    (1 to 3).foreach(i => graft.sources.MediaIndex.append(spark,
      "graft_mnt_media",
      Multimodal.imageDHash(media.where(col("media_id") % 4 === i))))
    // video family: fragmented by two appends
    val vid = Multimodal.videoTableOf(Tables.documents(spark, sf0001))
    graft.sources.VideoIndex.build(spark,
      Multimodal.videoFramesFp(vid.where(col("media_id") % 4 === 0)),
      "graft_mnt_vid")
    (1 to 3).foreach(i => graft.sources.VideoIndex.append(spark,
      "graft_mnt_vid", Multimodal.videoFramesFp(
        vid.where(col("media_id") % 4 === i))))
    // text family: freshly built, healthy — must be a no-op
    graft.sources.TextIndex.build(spark,
      Tables.documents(spark, sf0001), "text", "doc_id",
      "graft_mnt_text", buckets = 8)
    val mediaPairsBefore = graft.sources.MediaIndex.pairs(spark,
      "graft_mnt_media").collect().map(_.toSeq).toSet
    val vidPairsBefore = graft.sources.VideoIndex.pairs(spark,
      "graft_mnt_vid").collect().map(_.toSeq).toSet
    val rep = graft.sources.Maintenance.maintainAll(spark, Seq(
      ("media", "graft_mnt_media"), ("video", "graft_mnt_vid"),
      ("text", "graft_mnt_text")))
    assert(rep.map(_.kind) == Seq("media", "video", "text"))
    val byKind = rep.map(r => r.kind -> r).toMap
    assert(byKind("media").compacted.values.exists { case (b, a) => a < b },
      s"fragmented media family must compact: $rep")
    assert(byKind("video").compacted.values.exists { case (b, a) => a < b },
      s"fragmented video family must compact: $rep")
    assert(byKind("text").compacted.isEmpty,
      s"the healthy family must be a no-op: $rep")
    assert(graft.sources.MediaIndex.pairs(spark, "graft_mnt_media")
      .collect().map(_.toSeq).toSet == mediaPairsBefore)
    assert(graft.sources.VideoIndex.pairs(spark, "graft_mnt_vid")
      .collect().map(_.toSeq).toSet == vidPairsBefore)
    intercept[IllegalArgumentException] {
      graft.sources.Maintenance.maintainAll(spark, Seq(("nope", "x")))
    }
  }

  test("the forced-scan window is invisible to concurrent caller-session planning") {
    // r13 verdict #6: the window runs on spark.newSession(), so a query
    // planned on the CALLER's session mid-compaction keeps its conf and
    // its pruned plan — enforced, not just documented. The transform
    // hook IS a point inside the window (it plans against the forced
    // scan), so plan a caller-session pruned probe from inside it.
    val emb = Tables.embeddings(spark, sf0001).where(col("vec_id") < 80)
    IvfIndex.build(spark, emb, "vec_id", "embedding", "graft_ivf_cmp5",
      numCentroids = 4)
    IvfIndex.append(spark, "graft_ivf_cmp5",
      Tables.embeddings(spark, sf0001)
        .where(col("vec_id") >= 80 && col("vec_id") < 120),
      "vec_id", "embedding")
    val docs = Tables.documents(spark, sf0001)
    TextIndex.build(spark, docs, "text", "doc_id", "graft_text_cmp5",
      buckets = 16)
    val terms = Seq("the", "data", "and")
    // the layout-consuming shape that prunes WITHOUT forcing: the
    // aggregate on the bucket column keeps the bucketed scan alive
    def prunedProbe(): String = {
      val df = spark.table("graft_text_cmp5_postings")
        .where(col("word").isin(terms: _*))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
      df.count()
      df.queryExecution.executedPlan.toString
    }
    assert(prunedProbe().contains("SelectedBucketsCount"),
      "precondition: the probe shape prunes outside any window")
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    var confMidWindow: String = null
    var planMidWindow: String = null
    Compact.compactTable(spark, "graft_ivf_cmp5_cells",
      transform = df => {
        confMidWindow = spark.conf.get(key)
        planMidWindow = prunedProbe()
        df
      })
    assert(confMidWindow == "true",
      "the caller session's conf must be untouched mid-compaction")
    assert(planMidWindow != null &&
      planMidWindow.contains("SelectedBucketsCount"),
      s"concurrent planning must keep bucket pruning:\n$planMidWindow")
    assert(filesPerBucket("graft_ivf_cmp5_cells").values.forall(_ == 1))
  }
}
