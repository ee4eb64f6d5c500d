package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.sources.MediaIndex

/** The persisted fingerprint index must answer exactly what the live
  * decode+dHash pipeline answers — the stored layout changes COST
  * (payloads decoded once at ingest, never at query time), never
  * answers — and the append/remove lifecycle must mirror the sibling
  * index families' contracts. */
class MediaIndexSpec extends AnyFunSuite {
  import TestSession._

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("stored image pairs equal the live decode+dHash pipeline") {
    val media = Multimodal.imageTable(spark, sf0001)
    MediaIndex.build(spark, Multimodal.imageDHash(media),
      "graft_media_spec_img")
    val stored = rows(MediaIndex.pairs(spark, "graft_media_spec_img",
      maxDist = 6))
    val live = rows(Multimodal.imageDedupPairs(media))
    assert(stored == live)
  }

  test("stored audio pairs equal the live pipeline over corpus + re-crawl") {
    val media = Multimodal.audioTable(spark, sf0001)
      .unionByName(Multimodal.audioScaledTable(spark, sf0001))
    MediaIndex.build(spark, Multimodal.audioDHash(media),
      "graft_media_spec_aud")
    val stored = rows(MediaIndex.pairs(spark, "graft_media_spec_aud",
      maxDist = 6))
    val live = rows(Multimodal.audioDedupPairs(media))
    assert(stored == live && stored.nonEmpty)
  }

  test("append folds a crawl batch in: pairs equal a full rebuild") {
    val media = Multimodal.audioTable(spark, sf0001)
      .unionByName(Multimodal.audioScaledTable(spark, sf0001))
    // the re-crawl slice arrives as a later batch: its 0.9×-amplitude
    // copies must pair with their stored originals with no rebuild
    val batch = media.where(col("media_id") >= 1000000L)
    val corpus = media.where(col("media_id") < 1000000L)
    MediaIndex.build(spark, Multimodal.audioDHash(corpus),
      "graft_media_spec_app")
    val before = rows(MediaIndex.pairs(spark, "graft_media_spec_app",
      maxDist = 6))
    MediaIndex.append(spark, "graft_media_spec_app",
      Multimodal.audioDHash(batch))
    val after = rows(MediaIndex.pairs(spark, "graft_media_spec_app",
      maxDist = 6))
    val full = rows(Multimodal.audioDedupPairs(media))
    assert(after == full && (after -- before).nonEmpty)
  }

  test("remove erases an item's pair surface; a re-crawl re-pairs") {
    val media = Multimodal.audioTable(spark, sf0001)
      .unionByName(Multimodal.audioScaledTable(spark, sf0001))
    MediaIndex.build(spark, Multimodal.audioDHash(media),
      "graft_media_spec_rm")
    val all = rows(MediaIndex.pairs(spark, "graft_media_spec_rm",
      maxDist = 6))
    val victim = all.head.head.asInstanceOf[Long]
    val s = spark
    import s.implicits._
    MediaIndex.remove(spark, "graft_media_spec_rm",
      Seq(victim).toDF("media_id"))
    val post = rows(MediaIndex.pairs(spark, "graft_media_spec_rm",
      maxDist = 6))
    assert(!post.exists(r => r.head == victim || r(1) == victim))
    assert(post == all.filterNot(r => r.head == victim || r(1) == victim),
      "removal must not disturb any pair not involving the victim")
    // re-ingesting the erased item's fingerprint restores its pairs
    MediaIndex.append(spark, "graft_media_spec_rm",
      Multimodal.audioDHash(media.where(col("media_id") === victim)))
    assert(rows(MediaIndex.pairs(spark, "graft_media_spec_rm",
      maxDist = 6)) == all)
  }

  test("pairsAgainst matches a fresh batch cross-only; dedupAgainst admits the rest") {
    val corpus = Multimodal.audioTable(spark, sf0001)
    // the fresh crawl carries BOTH regimes: the 0.9×-amplitude re-crawl
    // slice (every copy within Hamming 6 of its stored original — all
    // must be refused) and a genuinely-novel slice (reversed payloads
    // under +2M ids — the admitted mass)
    val novel = graft.Tables.documents(spark, sf0001)
      .where(pmod(col("doc_id"), lit(4L)) === 2L)
      .select((col("doc_id") + lit(2000000L)).as("doc_id"),
        reverse(col("text")).as("text"))
    val fresh = Multimodal.audioScaledTable(spark, sf0001)
      .unionByName(Multimodal.audioTableOf(novel))
    MediaIndex.build(spark, Multimodal.audioDHash(corpus),
      "graft_media_spec_agn")
    val freshFp = Multimodal.audioDHash(fresh).localCheckpoint()
    val got = MediaIndex.pairsAgainst(spark, "graft_media_spec_agn",
      freshFp, maxDist = 6).collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)), r.getLong(2))).toSet
    // truth: the live banded pipeline over corpus ∪ fresh, restricted
    // to CROSS pairs (fresh ids sit at +1000000)
    val truth = rows(Multimodal.audioDedupPairs(
        corpus.unionByName(fresh)))
      .map(r => (r.head.asInstanceOf[Long], r(1).asInstanceOf[Long],
        r(2).asInstanceOf[Long]))
      .filter(p => (p._1 >= 1000000L) != (p._2 >= 1000000L))
    assert(got == truth && got.nonEmpty,
      s"cross restriction of the live pairs, exactly: got=${got.size} " +
        s"truth=${truth.size}")
    // every fresh side of a match is refused; everything else admits
    val matchedFresh = got.flatMap(p => Seq(p._1, p._2))
      .filter(_ >= 1000000L)
    val admitted = MediaIndex.dedupAgainst(spark, "graft_media_spec_agn",
      freshFp, maxDist = 6).select(col("media_id"))
      .collect().map(_.getLong(0)).toSet
    val freshIds = freshFp.select(col("media_id"))
      .collect().map(_.getLong(0)).toSet
    assert(admitted == freshIds -- matchedFresh && admitted.nonEmpty)
  }

  test("pairsAgainst plan: fresh batch broadcasts; the stored corpus is never shuffled before the join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val corpus = Multimodal.audioTable(spark, sf0001)
    MediaIndex.build(spark, Multimodal.audioDHash(corpus),
      "graft_media_spec_plan")
    val freshFp = Multimodal.audioDHash(
      Multimodal.audioScaledTable(spark, sf0001)).localCheckpoint()
    val df = MediaIndex.pairsAgainst(spark, "graft_media_spec_plan",
      freshFp, maxDist = 6)
    df.count()
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("BroadcastHashJoin"),
      s"the band match must be a broadcast equi-join:\n$plan")
    val shuffledStored = plan.collect {
      case e: ShuffleExchangeExec
          if e.child.toString.contains("graft_media_spec_plan_fp") => e
    }
    assert(shuffledStored.isEmpty,
      s"the stored fingerprints must stream map-side into the band " +
        s"join without an Exchange:\n$plan")
  }

  test("compact leaves one file per bucket and answers byte-identical") {
    val media = Multimodal.imageTable(spark, sf0001)
    val fp = Multimodal.imageDHash(media).localCheckpoint()
    MediaIndex.build(spark, fp.where(col("media_id") % 2 === 0),
      "graft_media_spec_cmp")
    MediaIndex.append(spark, "graft_media_spec_cmp",
      fp.where(col("media_id") % 2 === 1))
    val before = rows(MediaIndex.pairs(spark, "graft_media_spec_cmp",
      maxDist = 6))
    val census = MediaIndex.compact(spark, "graft_media_spec_cmp")
    val (nBefore, nAfter) = census("graft_media_spec_cmp_fp")
    assert(nBefore > 16 && nAfter == 16,
      s"build+append fragments ($nBefore) must compact to 1/bucket ($nAfter)")
    assert(rows(MediaIndex.pairs(spark, "graft_media_spec_cmp",
      maxDist = 6)) == before)
  }

  test("band-df discipline: a near-solid band flood collapses to the genuine pairs") {
    val s = spark
    import s.implicits._
    // twelve DISTINCT fingerprints sharing band 0's value 7 (near-solid
    // rasters: same dominant band, different residue — the collapse
    // can't help because the fps differ) + one genuine near-dup pair
    // (13, 14) at Hamming 2 sharing band (0, 99). Without the dial the
    // flood pays 12-choose-2 candidate rows; with maxBandDf = 5 the
    // flood's shared band stops and only the genuine pair survives.
    val flood = (1L to 12L).map(v =>
      (v, 65536L * (1000 + v) + 7, 65536L * (3000 + v) + 3000 + v))
    val genuine = Seq(
      (13L, 65536L * 2000 + 99, 65536L * 4000 + 4000),
      (14L, 65536L * 2000 + 99, 65536L * 4000 + 4001))
    val fp = (flood ++ genuine).toDF("media_id", "h_lo", "h_hi")
    val loose = Multimodal.dhashPairs(fp, maxDist = 64, maxBandDf = 10000)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(loose.length == 67, // 12C2 flood + the genuine pair
      s"without the dial the flood pairs quadratically: ${loose.length}")
    val strict = Multimodal.dhashPairs(fp, maxDist = 64, maxBandDf = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(strict.toSeq == Seq((13L, 14L, 1L)),
      s"only the genuine pair survives the dial: ${strict.toSeq}")
    // the GATE rides the persisted sidecar: corpus = the flood + item
    // 13; a fresh batch carrying a flood-banded fp and a re-fetch of 13
    // admits the flood item, refuses the genuine dup
    MediaIndex.build(spark, (flood ++ genuine.take(1))
      .toDF("media_id", "h_lo", "h_hi"), "graft_media_spec_bstop",
      maxBandDf = 5)
    assert(spark.table("graft_media_spec_bstop_bstop").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet == Set((0, 7L)),
      "exactly the flood's shared band value is stopped")
    val fresh = Seq(
      (100L, 65536L * 5000 + 7, 65536L * 6000 + 6000), // flood-banded
      (101L, 65536L * 2000 + 99, 65536L * 4000 + 4001)) // dup of 13
      .toDF("media_id", "h_lo", "h_hi")
    val admitted = MediaIndex.dedupAgainst(spark,
      "graft_media_spec_bstop", fresh, maxDist = 64)
      .select(col("media_id")).collect().map(_.getLong(0)).toSet
    assert(admitted == Set(100L),
      s"hot-band candidate suppressed, genuine dup refused: $admitted")
  }

  test("reprobeRecall: pigeonhole floor holds, frontier feeds pickMaxDist") {
    val media = Multimodal.audioTable(spark, sf0001)
      .unionByName(Multimodal.audioScaledTable(spark, sf0001))
    MediaIndex.build(spark, Multimodal.audioDHash(media),
      "graft_media_spec_rp")
    val frontier = MediaIndex.reprobeRecall(spark, "graft_media_spec_rp",
      maxDists = Seq(3, 4, 6), sampleSize = 64)
    assert(frontier.map(_.maxDist) == Seq(3, 4, 6))
    assert(frontier.head.recall == 1.0,
      s"4x16 banding is pigeonhole-complete at dist <= 3: $frontier")
    assert(frontier.forall(p => p.recall >= 0.0 && p.recall <= 1.0))
    val picked = MediaIndex.pickMaxDist(frontier, 0.95)
    assert(Seq(3, 4, 6).contains(picked))
    assert(frontier.find(_.maxDist == picked)
      .forall(p => p.recall >= 0.95 || picked == 3),
      s"picked dial must meet the target or be the tightest: $picked")
  }

  test("maintain compacts only when fragmented") {
    val fp = Multimodal.imageDHash(Multimodal.imageTable(spark, sf0001))
      .localCheckpoint()
    MediaIndex.build(spark, fp.where(col("media_id") % 4 === 0),
      "graft_media_spec_mnt")
    (1 to 3).foreach(m => MediaIndex.append(spark, "graft_media_spec_mnt",
      fp.where(col("media_id") % 4 === m)))
    val answers = rows(MediaIndex.pairs(spark, "graft_media_spec_mnt",
      maxDist = 6))
    val m1 = MediaIndex.maintain(spark, "graft_media_spec_mnt",
      maxFilesPerBucket = 2.0)
    assert(m1.contains("graft_media_spec_mnt_fp") &&
      m1("graft_media_spec_mnt_fp")._2 == 16L,
      s"the fragmented pass must compact to 1/bucket: $m1")
    assert(rows(MediaIndex.pairs(spark, "graft_media_spec_mnt",
      maxDist = 6)) == answers)
    assert(MediaIndex.maintain(spark, "graft_media_spec_mnt",
      maxFilesPerBucket = 2.0).isEmpty,
      "the just-compacted pass must be a no-op")
  }
}
