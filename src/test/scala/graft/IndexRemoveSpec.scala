package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.sources.{Bucketing, DedupIndex, IvfIndex, MediaIndex, TextIndex, VideoIndex}

/** Index DELETION — the lifecycle op between append and refresh
  * (takedowns, re-crawl invalidation, privacy erasure): one
  * bucket-preserving rewrite with a broadcast anti-join riding the
  * compaction scan. The contracts under test: served answers after
  * remove equal a FRESH derivation over the shrunk corpus (TextIndex's
  * totals bookkeeping is the sharp case — idf's N and avgdl must move
  * exactly), removed content stops vetoing dedup admission, plans stay
  * bucket-pruned, and the rewrite leaves one file per bucket. */
class IndexRemoveSpec extends AnyFunSuite {
  import TestSession._

  // > 64 bytes each, so a video payload has >= 2 sampled frames to align on
  private val tGone = "alpha beta gamma delta epsilon zeta eta theta iota " +
    "kappa lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi"
  private val tStay = "one two three four five six seven eight nine ten " +
    "eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen"

  private def docsOf(rows: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  private def idsOf(c: String, ids: Long*) = {
    val s = spark
    import s.implicits._
    ids.toDF(c)
  }

  /** Filler items `lo until lo + 4`, each its own text. */
  private def fillers(lo: Long): Seq[(Long, String)] =
    (lo until lo + 4L).map(i => i -> (s"filler $i " +
      Seq.tabulate(12)(j => s"w${(i * 31 + j * 7) % 97}").mkString(" ")))

  private def sorted(table: String): Seq[String] =
    spark.table(table).collect().map(_.toSeq.mkString(",")).toSeq.sorted

  /** Distinct buckets the rows of `table` hash to: the bucketed writer's
    * pmod(murmur3(key), buckets), recomputed here. */
  private def nonEmptyBuckets(table: String, key: String, buckets: Int): Long =
    spark.table(table).select(pmod(hash(col(key)), lit(buckets))).distinct().count()

  test("TextIndex.remove: stored BM25 after removal ranks exactly like a fresh build on the shrunk corpus") {
    val docs = Tables.documents(spark, sf0001)
    TextIndex.build(spark, docs, "text", "doc_id", "graft_text_rm")
    val qs = Seq("q1" -> "spark hash join", "q2" -> "table scan filter")
    val removeIds = docs.where(col("doc_id") % 5 === 0)
      .select(col("doc_id"))
    TextIndex.remove(spark, "graft_text_rm", removeIds)
    val stored = TextIndex.serve(spark, "graft_text_rm", qs, k = 5)
      .collect().map(_.toSeq).toSet
    val live = graft.text.TextOps.bm25TopK(
      docs.where(col("doc_id") % 5 =!= 0), "text", "doc_id", qs, k = 5)
      .collect().map(_.toSeq).toSet
    assert(stored == live && stored.nonEmpty,
      "idf/avgdl must be exact for the shrunk corpus — the negative " +
        "totals delta is the bookkeeping under test")
    // the pruning lives in serve's own checkpointed probe execution
    // (the TextIndexSpec pattern) — replicate that exact scan against
    // the REWRITTEN postings table
    val terms = qs.flatMap(_._2.split("\\s+")).distinct
    val p = Bucketing.forceBucketedScan(spark) { iso =>
      val probe = iso.table("graft_text_rm_postings")
        .where(col("word").isin(terms: _*))
      probe.count()
      probe.queryExecution.executedPlan.toString
    }
    assert(p.contains("SelectedBucketsCount"),
      s"the rewritten postings scan must stay bucket-pruned:\n$p")
  }

  test("IvfIndex.remove: deleted vectors vanish from serve; survivors unchanged at full probe; plan pruned") {
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    IvfIndex.build(spark, emb, "vec_id", "embedding", "graft_ivf_rm",
      numCentroids = 16)
    val queries = emb.where(col("vec_id") < 8)
      .select((col("vec_id") + lit(800000L)).as("qid"),
        col("embedding").as("qv"))
    val before = IvfIndex.serve(spark, "graft_ivf_rm", queries, k = 5,
      nProbe = 16).collect().map(_.toSeq).toSet
    val victims = emb.where(col("vec_id") % 3 === 0).select(col("vec_id"))
    val victimSet = victims.collect().map(_.getLong(0)).toSet
    IvfIndex.remove(spark, "graft_ivf_rm", victims)
    val after = IvfIndex.serve(spark, "graft_ivf_rm", queries, k = 5,
      nProbe = 16).collect().map(_.toSeq).toSet
    assert(!after.exists(r => victimSet.contains(r(1).asInstanceOf[Long])),
      "a removed vector must never be served")
    // full probe = exact kNN over the stored rows: the post-remove
    // answer is the pre-remove ranking with victims squeezed out, i.e.
    // a fresh build over survivors (quantizer identical by design)
    val fresh = {
      IvfIndex.build(spark, emb.where(col("vec_id") % 3 =!= 0),
        "vec_id", "embedding", "graft_ivf_rm_fresh", numCentroids = 16)
      IvfIndex.serve(spark, "graft_ivf_rm_fresh", queries, k = 5,
        nProbe = 16).collect().map(_.toSeq).toSet
    }
    assert(after == fresh && after.nonEmpty,
      "full-probe serve after remove must equal a fresh build on the survivors")
    assert(before != after, "the removal must have changed something")
    val q = queries
    val (_, reads, buckets) = SparkJobs.tableReads("graft_ivf_rm_cells",
      "serve score")(IvfIndex.serve(spark, "graft_ivf_rm", q, k = 5, nProbe = 2))
    assert(reads.size == 1 && reads.head < buckets,
      s"the rewritten cells scan must stay bucket-pruned: $reads of $buckets buckets")
  }

  test("IvfIndex.maintain and serve on an index whose every vector was removed") {
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding")).where(col("vec_id") < 40)
    IvfIndex.build(spark, emb, "vec_id", "embedding", "graft_ivf_rm_all",
      numCentroids = 4)
    IvfIndex.remove(spark, "graft_ivf_rm_all", emb.select(col("vec_id")))
    assert(spark.table("graft_ivf_rm_all_cells").count() == 0)
    // no occupied cell: skew is 1.0, so the pass neither refreshes a
    // quantizer over nothing nor compacts an empty table
    val m = IvfIndex.maintain(spark, "graft_ivf_rm_all")
    assert(m == IvfIndex.Maintenance(1.0, refreshed = false,
      compacted = false, skewAfter = 1.0, files = Map.empty))
    val queries = emb.where(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    assert(IvfIndex.serve(spark, "graft_ivf_rm_all", queries, k = 5,
      nProbe = 4).count() == 0)
  }

  test("DedupIndex.remove: an erased document stops vetoing its re-crawled twin") {
    val s = spark
    import s.implicits._
    val tGone = "alpha beta gamma delta epsilon zeta eta theta iota"
    val tStay = "one two three four five six seven eight nine ten"
    val corpus = Seq(1L -> tGone, 2L -> tStay).toDF("doc_id", "text")
    DedupIndex.build(spark, corpus, "text", "doc_id", "graft_dedup_rm")
    val twin = Seq(901L -> tGone, 902L -> tStay).toDF("doc_id", "text")
    val vetoed = DedupIndex.dedupAgainst(spark, "graft_dedup_rm", twin,
      "text", "doc_id").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(vetoed.isEmpty, "both twins must be rejected pre-removal")
    DedupIndex.remove(spark, "graft_dedup_rm",
      Seq(1L).toDF("doc_id"))
    val admitted = DedupIndex.dedupAgainst(spark, "graft_dedup_rm", twin,
      "text", "doc_id").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(admitted == Set(901L),
      s"the erased doc's twin must be admitted, the survivor's still " +
        s"vetoed — got $admitted")
  }

  test("remove compacts as a side effect: one file per non-empty bucket") {
    val docs = Tables.documents(spark, sf0001)
    TextIndex.build(spark, docs.where(col("doc_id") < 100), "text",
      "doc_id", "graft_text_rmc")
    // three appends fragment the buckets, then remove rewrites them
    Seq(100L, 200L, 300L).foreach(lo =>
      TextIndex.append(spark, "graft_text_rmc",
        docs.where(col("doc_id") >= lo && col("doc_id") < lo + 100),
        "text", "doc_id"))
    val (before, after) = TextIndex.remove(spark, "graft_text_rmc",
      docs.where(col("doc_id") % 7 === 0).select(col("doc_id")))(
      "graft_text_rmc_postings")
    assert(before > after && after > 0,
      s"the anti-join rewrite must also fold the appended fragments " +
        s"($before -> $after files)")
  }

  test("MediaIndex.remove: an erased item stops vetoing its re-crawled twin; one file per non-empty bucket; _bstop re-derived") {
    def fp(rows: Seq[(Long, String)]) =
      Multimodal.imageDHash(Multimodal.imageTableOf(docsOf(rows)))
    MediaIndex.build(spark, fp(Seq(1L -> tGone, 2L -> tStay)), "graft_media_rm")
    // three appends fragment the buckets the removal then folds
    Seq(10L, 20L, 30L).foreach(lo =>
      MediaIndex.append(spark, "graft_media_rm", fp(fillers(lo))))
    val twins = fp(Seq(901L -> tGone, 902L -> tStay))
    def admitted = MediaIndex.dedupAgainst(spark, "graft_media_rm", twins)
      .select(col("media_id")).collect().map(_.getLong(0)).toSet
    assert(admitted.isEmpty, "both twins must be refused pre-removal")
    val (before, after) = MediaIndex.remove(spark, "graft_media_rm",
      idsOf("media_id", 1L))(
      "graft_media_rm_fp")
    assert(admitted == Set(901L),
      s"the erased item's twin must be admitted, the survivor's still refused: $admitted")
    val buckets = nonEmptyBuckets("graft_media_rm_fp", "media_id", 16)
    assert(before > after && after == buckets,
      s"remove must fold the appended fragments to one file per non-empty " +
        s"bucket ($before -> $after files, $buckets buckets)")
    // maxBandDf = 0 stops every stored band value, so the sidecar
    // follows the removed item's bands exactly
    val all = Seq(1L -> tGone, 2L -> tStay) ++ fillers(10L)
    MediaIndex.build(spark, fp(all), "graft_media_rm_stop", maxBandDf = 0)
    val stopBefore = sorted("graft_media_rm_stop_bstop")
    MediaIndex.remove(spark, "graft_media_rm_stop",
      idsOf("media_id", 1L))
    MediaIndex.build(spark, fp(all.filter(_._1 != 1L)), "graft_media_rm_ref",
      maxBandDf = 0)
    val stopAfter = sorted("graft_media_rm_stop_bstop")
    assert(stopAfter == sorted("graft_media_rm_ref_bstop") && stopAfter != stopBefore,
      "_bstop after remove must equal a fresh build's over the survivors")
  }

  test("VideoIndex.remove: an erased video stops vetoing its re-crawled twin; one file per non-empty bucket; _dfs/_stop and _bdfs/_bstop re-derived") {
    def frames(rows: Seq[(Long, String)]) =
      Multimodal.videoFramesFp(Multimodal.videoTableOf(docsOf(rows)))
    VideoIndex.build(spark, frames(Seq(1L -> tGone, 2L -> tStay)), "graft_video_rm")
    Seq(10L, 20L, 30L).foreach(lo =>
      VideoIndex.append(spark, "graft_video_rm", frames(fillers(lo))))
    val twins = frames(Seq(901L -> tGone, 902L -> tStay))
    def admitted = VideoIndex.dedupAgainst(spark, "graft_video_rm", twins,
      Multimodal.Exact).select(col("media_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(admitted.isEmpty, "both twins must be refused pre-removal")
    val (before, after) = VideoIndex.remove(spark, "graft_video_rm",
      idsOf("media_id", 1L))(
      "graft_video_rm_vf")
    assert(admitted == Set(901L),
      s"the erased video's twin must be admitted, the survivor's still refused: $admitted")
    val buckets = nonEmptyBuckets("graft_video_rm_vf", "media_id", 16)
    assert(before > after && after == buckets,
      s"remove must fold the appended fragments to one file per non-empty " +
        s"bucket ($before -> $after files, $buckets buckets)")
    // a verbatim copy (id 3) puts every digest and band value of tGone
    // in two videos: over the dials at 1, removing the copy empties them
    // from both stop sidecars
    val all = Seq(1L -> tGone, 2L -> tStay, 3L -> tGone)
    VideoIndex.build(spark, frames(all), "graft_video_rm_stop", maxDf = 1,
      maxBandDf = 1)
    val sidecars = Seq("_dfs", "_stop", "_bdfs", "_bstop")
    val beforeRm = sidecars.map(t => sorted(s"graft_video_rm_stop$t"))
    VideoIndex.remove(spark, "graft_video_rm_stop",
      idsOf("media_id", 3L))
    VideoIndex.build(spark, frames(all.filter(_._1 != 3L)), "graft_video_rm_ref",
      maxDf = 1, maxBandDf = 1)
    sidecars.zip(beforeRm).foreach { case (t, b) =>
      val got = sorted(s"graft_video_rm_stop$t")
      assert(got == sorted(s"graft_video_rm_ref$t"),
        s"$t after remove must equal a fresh build's over the survivors")
      if (t.endsWith("stop")) assert(got != b, s"$t must have changed")
    }
  }

  test("every table of an index stays under the base it was built at, through append, compact, remove and refresh") {
    val base = java.nio.file.Files.createTempDirectory("graft_base").toFile.getCanonicalPath
    def under(tables: Seq[String]): Unit = tables.foreach { t =>
      val loc = new java.io.File(spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(t)).location).getCanonicalPath
      assert(loc.startsWith(base + "/"), s"$t lives at $loc, not under $base")
    }
    val docs = docsOf(Seq(1L -> tGone, 2L -> tStay) ++ fillers(10L))
    val batch = docsOf(fillers(20L))
    val emb = Tables.embeddings(spark, sf0001)
    IvfIndex.build(spark, emb.where(col("vec_id") >= 40 && col("vec_id") < 120),
      "vec_id", "embedding", "graft_ivf_base", numCentroids = 4, basePath = base)
    IvfIndex.append(spark, "graft_ivf_base", emb.where(col("vec_id") < 40),
      "vec_id", "embedding")
    IvfIndex.compact(spark, "graft_ivf_base")
    IvfIndex.remove(spark, "graft_ivf_base", idsOf("vec_id", 1L))
    IvfIndex.refresh(spark, "graft_ivf_base")
    under(IvfIndex.tables(spark, "graft_ivf_base"))
    TextIndex.build(spark, docs, "text", "doc_id", "graft_text_base", basePath = base)
    TextIndex.append(spark, "graft_text_base", batch, "text", "doc_id")
    TextIndex.compact(spark, "graft_text_base")
    TextIndex.remove(spark, "graft_text_base", idsOf("doc_id", 1L))
    under(TextIndex.tables(spark, "graft_text_base"))
    def img(d: org.apache.spark.sql.DataFrame) =
      Multimodal.imageDHash(Multimodal.imageTableOf(d))
    MediaIndex.build(spark, img(docs), "graft_media_base", basePath = base)
    MediaIndex.append(spark, "graft_media_base", img(batch))
    MediaIndex.compact(spark, "graft_media_base")
    MediaIndex.remove(spark, "graft_media_base", idsOf("media_id", 1L))
    under(MediaIndex.tables(spark, "graft_media_base"))
    def vid(d: org.apache.spark.sql.DataFrame) =
      Multimodal.videoFramesFp(Multimodal.videoTableOf(d))
    VideoIndex.build(spark, vid(docs), "graft_video_base", basePath = base)
    VideoIndex.append(spark, "graft_video_base", vid(batch))
    VideoIndex.compact(spark, "graft_video_base")
    VideoIndex.remove(spark, "graft_video_base", idsOf("media_id", 1L))
    val videoTables = VideoIndex.tables(spark, "graft_video_base")
    assert(videoTables.size == 5, s"a perceptual index has five tables: $videoTables")
    under(videoTables)
  }

  test("every family's remove releases what it checkpoints") {
    val sc = spark.sparkContext
    def check(family: String)(remove: => Any): Unit = {
      val before = sc.getPersistentRDDs.keySet.toSet
      remove
      val left = sc.getPersistentRDDs.keySet.toSet -- before
      assert(left.isEmpty, s"$family.remove left RDDs $left persisted")
    }
    val docs = docsOf(Seq(1L -> tGone, 2L -> tStay) ++ fillers(10L))
    def ids(c: String) = idsOf(c, 1L)
    DedupIndex.build(spark, docs, "text", "doc_id", "graft_dedup_rmfree")
    check("DedupIndex")(DedupIndex.remove(spark, "graft_dedup_rmfree", ids("doc_id")))
    TextIndex.build(spark, docs, "text", "doc_id", "graft_text_rmfree")
    check("TextIndex")(TextIndex.remove(spark, "graft_text_rmfree", ids("doc_id")))
    IvfIndex.build(spark, Tables.embeddings(spark, sf0001).where(col("vec_id") < 40),
      "vec_id", "embedding", "graft_ivf_rmfree", numCentroids = 4)
    check("IvfIndex")(IvfIndex.remove(spark, "graft_ivf_rmfree", ids("vec_id")))
    MediaIndex.build(spark, Multimodal.imageDHash(Multimodal.imageTableOf(docs)),
      "graft_media_rmfree")
    check("MediaIndex")(MediaIndex.remove(spark, "graft_media_rmfree", ids("media_id")))
    VideoIndex.build(spark, Multimodal.videoFramesFp(Multimodal.videoTableOf(docs)),
      "graft_video_rmfree")
    check("VideoIndex")(VideoIndex.remove(spark, "graft_video_rmfree", ids("media_id")))
  }
}
