package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

import graft.multimodal.Multimodal
import graft.sources.VideoIndex

/** An independent reference for the temporal near-duplicate family:
  * every media pair and every frame pair compared on the driver by
  * brute force, with no digest collapse and no band join, for all four
  * cells of {aligned, shift-tolerant} × {exact md5, perceptual bands +
  * Hamming}. The pair stage must equal the brute force over all frames;
  * the crawl gate must equal its restriction to (fresh, stored) pairs.
  *
  * The frames are hand-built (media_id, frame_idx, fm, f_lo, f_hi) rows:
  * a verbatim duplicate group of three (and another in the batch),
  * a re-cut, a periodic video and its duplicate, perceptual near-copies
  * (a few flipped bits, different md5), a stop digest carried by more
  * than `MaxDf` videos, a stop band value carried by more than `MaxDf`
  * videos on otherwise unrelated frames, and random videos over a small
  * alphabet so partial and inconsistent matches occur. */
class MediaPairReferenceSpec extends AnyFunSuite {
  import TestSession._

  private val MaxDf = 5
  private val MaxDist = 6
  private val MinFrames = 2

  /** One frame: md5 stand-in and the two 32-bit fingerprint halves. */
  private case class Fr(fm: String, lo: Long, hi: Long)

  private val rnd = new scala.util.Random(7)
  private def half(): Long = rnd.nextInt() & 0xffffffffL
  private val alphabet: Map[String, Fr] =
    ("black" +: (0 until 24).map(i => s"t$i"))
      .map(t => t -> Fr(t, half(), half())).toMap
  /** Tokens whose band 0 holds the same value, every other bit random:
    * band candidates that the Hamming verify must reject. */
  private val hotBand: Map[String, Fr] = (0 until 8).map { i =>
    s"h$i" -> Fr(s"h$i", (half() & 0xffff0000L) | 0x1234L, half())
  }.toMap
  private def tok(t: String): Fr = alphabet.getOrElse(t, hotBand(t))
  /** A perceptual near-copy: `bits` low bits of f_hi flipped, new md5. */
  private def near(f: Fr, bits: Int): Fr =
    Fr(f.fm + "'", f.lo, f.hi ^ ((1L << bits) - 1))
  /** A near-copy within MaxDist that keeps band 0 only. */
  private def band0Only(f: Fr): Fr =
    Fr(f.fm + "~", f.lo ^ (1L << 16), f.hi ^ 1L ^ (1L << 16))

  private def seq(ts: String*): Seq[Fr] = ts.map(tok)
  private val a = seq("t0", "t1", "t2", "t3", "t4", "t5")
  private val b = seq("t6", "t7", "t8", "t9", "t10", "t11")
  private val c = seq("t20", "t21", "t22", "t23")
  private val periodic = seq("t12", "t13", "t12", "t13", "t12", "t13",
    "t12", "t13")
  private def randomVideo(n: Int): Seq[Fr] =
    Seq.fill(n)(alphabet(s"t${14 + rnd.nextInt(6)}"))

  private val stored: Map[Long, Seq[Fr]] = Map(
    1L -> a, 2L -> a, 3L -> a,                                // dup group
    4L -> b,
    5L -> periodic, 6L -> periodic,                           // periodic dup
    7L -> b.map(near(_, 2)),                                  // near-copy
    8L -> (tok("black") +: a.take(3) :+ tok("black")),        // stop digest
    9L -> seq("black", "h0", "t8", "h1"),
    10L -> seq("h2", "black", "t9", "t10"),
    11L -> seq("h3", "h4", "black"),
    12L -> (tok("black") +: randomVideo(3) :+ tok("black")),
    13L -> (randomVideo(9) :+ tok("h5")),
    14L -> (tok("h6") +: randomVideo(6)))

  private val fresh: Map[Long, Seq[Fr]] = Map(
    101L -> a,                                                // verbatim
    102L -> c, 103L -> c, 104L -> c,                          // fresh dups
    105L -> (b.drop(4) ++ b.take(4)),                         // re-cut
    106L -> periodic.drop(1).map(near(_, 3)),                 // near re-cut
    107L -> Seq(tok("h7"), band0Only(tok("h0")), tok("black"),
      band0Only(tok("h1"))),
    108L -> randomVideo(8), 109L -> randomVideo(5))

  private def frames(vs: Map[Long, Seq[Fr]]): DataFrame = {
    val s = spark
    import s.implicits._
    vs.toSeq.flatMap { case (id, fs) =>
      fs.zipWithIndex.map { case (f, i) => (id, i.toLong, f.fm, f.lo, f.hi) }
    }.toDF("media_id", "frame_idx", "fm", "f_lo", "f_hi")
  }

  private def bands(f: Fr): Seq[(Int, Long)] = Seq(
    0 -> f.lo % 65536L, 1 -> f.lo / 65536L,
    2 -> f.hi % 65536L, 3 -> f.hi / 65536L)

  private val all = stored ++ fresh
  /** Stop sets over the union: md5 digests and band values carried by
    * more than MaxDf distinct videos. */
  private def overCommon[K](keys: Fr => Seq[K]): Set[K] =
    all.toSeq.flatMap { case (id, fs) => fs.flatMap(keys).map(_ -> id) }
      .groupBy(_._1).collect {
        case (k, v) if v.map(_._2).toSet.size > MaxDf => k
      }.toSet
  private val stopFm: Set[String] = overCommon(f => Seq(f.fm))
  private val stopBand: Set[(Int, Long)] = overCommon(bands)

  private def exactMatch(a: Fr, b: Fr): Boolean =
    a.fm == b.fm && !stopFm(a.fm)
  private def ham(a: Fr, b: Fr): Int =
    java.lang.Long.bitCount(a.lo ^ b.lo) + java.lang.Long.bitCount(a.hi ^ b.hi)
  private def percMatch(a: Fr, b: Fr): Boolean =
    bands(a).exists(x => !stopBand(x) && bands(b).contains(x)) &&
      ham(a, b) <= MaxDist

  /** Frame-pair matches of x against y, counted per offset
    * frame_x − frame_y (aligned cells keep offset 0 only), the counts
    * below MinFrames dropped. */
  private def brute(x: Seq[Fr], y: Seq[Fr], perceptual: Boolean,
      shifts: Boolean): Map[Long, Long] = {
    val m = for {
      (a, i) <- x.zipWithIndex; (b, j) <- y.zipWithIndex
      if (shifts || i == j) &&
        (if (perceptual) percMatch(a, b) else exactMatch(a, b))
    } yield (i - j).toLong
    m.groupBy(identity).map { case (s, v) => s -> v.size.toLong }
      .filter(_._2 >= MinFrames)
  }

  /** (id, id, shift, matched_frames), shift 0 for the aligned cells. */
  private def expected(pairs: Seq[(Long, Long)], vs: Map[Long, Seq[Fr]],
      perceptual: Boolean, shifts: Boolean): Set[(Long, Long, Long, Long)] =
    pairs.flatMap { case (a, b) =>
      brute(vs(a), vs(b), perceptual, shifts).map { case (s, n) => (a, b, s, n) }
    }.toSet

  private def got(df: DataFrame, shifts: Boolean): Set[(Long, Long, Long, Long)] =
    df.collect().map { r =>
      if (shifts) (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      else (r.getLong(0), r.getLong(1), 0L, r.getLong(2))
    }.toSet

  private val cells = for (p <- Seq(false, true); s <- Seq(false, true))
    yield (p, s)
  private def cellName(p: Boolean, s: Boolean) =
    s"${if (s) "shift-tolerant" else "aligned"} ${if (p) "perceptual" else "exact"}"

  private def pairStage(df: DataFrame, perceptual: Boolean,
      shifts: Boolean): DataFrame =
    Multimodal.framePairs(df, matchOf(perceptual), shifts, MaxDf)

  private def gate(name: String, fr: DataFrame, stop: DataFrame,
      perceptual: Boolean, shifts: Boolean): DataFrame =
    VideoIndex.pairsAgainst(spark, name, fr, matchOf(perceptual), shifts,
      Some(stop))

  private def matchOf(perceptual: Boolean): Multimodal.FrameMatch =
    if (perceptual) Multimodal.Perceptual(MaxDist) else Multimodal.Exact

  test("the fixture exercises what it claims") {
    assert(stopFm == Set("black"))
    assert(stopBand.contains(0 -> 0x1234L))
    // each stop set removes a match that would pass without it
    assert(stored(8L).zip(stored(12L)).count(p => p._1 == p._2) == 2)
    assert(brute(stored(8L), stored(12L), perceptual = false, shifts = false)
      .isEmpty)
    assert(Seq(1, 3).forall(i => ham(stored(9L)(i), fresh(107L)(i)) == 3))
    assert(brute(stored(9L), fresh(107L), perceptual = true, shifts = false)
      .isEmpty)
    // the periodic video overlaps itself at every even offset
    assert(brute(periodic, periodic, perceptual = false, shifts = true)
      .keySet == Set(-6L, -4L, -2L, 0L, 2L, 4L, 6L))
    // hot-band tokens are band candidates that fail the Hamming verify
    val hb = hotBand.values.toSeq
    assert(hb.combinations(2).forall { case Seq(a, b) => !percMatch(a, b) })
  }

  cells.foreach { case (p, s) =>
    test(s"pair stage equals the brute force: ${cellName(p, s)}") {
      val ids = all.keys.toSeq.sorted
      val pairs = for (a <- ids; b <- ids if a < b) yield (a, b)
      val truth = expected(pairs, all, p, s)
      assert(truth.exists(t => t._1 == 1L && t._2 == 2L),
        "the duplicate group pairs in every cell")
      val res = got(pairStage(frames(all), p, s), s)
      assert(res == truth, s"extra=${res -- truth} missing=${truth -- res}")
    }
  }

  test("gates equal the cross-only restriction of the union's brute force") {
    val name = "graft_media_pair_ref"
    VideoIndex.build(spark, frames(stored), name, maxDf = MaxDf)
    val fr = frames(fresh).localCheckpoint()
    val s = spark
    import s.implicits._
    val stopFmDf = stopFm.toSeq.toDF("fm")
    val stopBandDf = stopBand.toSeq.map { case (i, v) => (i, v) }
      .toDF("bi", "bv")
    cells.foreach { case (p, sh) =>
      // gate rows are (fid, cid, …) with shift = stored − fresh
      val truth = expected(
        for (f <- fresh.keys.toSeq; c <- stored.keys.toSeq) yield (c, f),
        all, p, sh).map { case (c, f, off, n) => (f, c, off, n) }
      assert(truth.nonEmpty, cellName(p, sh))
      val res = got(gate(name, fr, if (p) stopBandDf else stopFmDf, p, sh), sh)
      assert(res == truth,
        s"${cellName(p, sh)}: extra=${res -- truth} missing=${truth -- res}")
    }
  }
}
