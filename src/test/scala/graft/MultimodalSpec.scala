package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal

/** The multimodal decode path uses a REAL codec: encodePng must produce a
  * PNG that javax.imageio round-trips losslessly back to the payload plus
  * zero padding, and decodeFeatures must compute its features over those
  * DECODED bytes — distributed results pinned against a driver-side
  * re-derivation that never touches the codec. */
class MultimodalSpec extends AnyFunSuite {
  import TestSession._

  private def padded(payload: Array[Byte]): Array[Byte] = {
    val h = Multimodal.imgHeight(payload.length)
    java.util.Arrays.copyOf(payload, Multimodal.ImgWidth * 3 * h)
  }

  test("imgHeight sizes the raster to the payload, minimum one row") {
    assert(Multimodal.imgHeight(0) === 1)
    assert(Multimodal.imgHeight(1) === 1)
    assert(Multimodal.imgHeight(48) === 1)
    assert(Multimodal.imgHeight(49) === 2)
    assert(Multimodal.imgHeight(96) === 2)
  }

  test("checkpointFrames coalesces only from a complete storage report") {
    def report(parts: Int, cached: Int, bytes: Long) = {
      val i = new org.apache.spark.storage.RDDInfo(1, "cp", parts,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK, false, Nil)
      i.numCachedPartitions = cached
      i.memSize = bytes
      i
    }
    val mb = 1L << 20
    // complete: max(parallelism, bytes / 64 MB), only when that is fewer
    assert(Multimodal.coalesceTarget(Some(report(64, 64, 5 * mb)), 4) == Some(4))
    assert(Multimodal.coalesceTarget(Some(report(64, 64, 640 * mb)), 4) == Some(10))
    assert(Multimodal.coalesceTarget(Some(report(8, 8, 640 * mb)), 4) == None)
    assert(Multimodal.coalesceTarget(Some(report(4, 4, 1 * mb)), 4) == None)
    // partial or missing: the listener bus has not caught up, keep it
    assert(Multimodal.coalesceTarget(Some(report(64, 10, 1 * mb)), 4) == None)
    assert(Multimodal.coalesceTarget(Some(report(64, 0, 0L)), 4) == None)
    assert(Multimodal.coalesceTarget(None, 4) == None)
  }

  test("checkpointFrames plans the same partition count on every run") {
    // 64 small partitions: a complete report coalesces them to the
    // default parallelism; a report read before the listener bus caught
    // up would keep 64 on some runs
    val frames = spark.range(0, 20000, 1, 64).select(col("id").as("media_id"),
      (col("id") % 97).as("fm"))
    val counts = Seq.fill(3)(Multimodal.checkpointFrames(frames).rdd.getNumPartitions)
    assert(counts == Seq.fill(3)(spark.sparkContext.defaultParallelism), counts)
  }

  test("PNG round-trip is lossless: decoded raster = payload + zero pad") {
    val cases = Seq(
      Array.empty[Byte],
      "hello multimodal".getBytes("UTF-8"),
      Array.tabulate(256)(i => i.toByte), // every byte value incl. >= 0x80
      Array.fill(49)(0xff.toByte))
    cases.foreach { payload =>
      val png = Multimodal.encodePng(payload)
      // a real PNG container, not a passthrough of the payload
      assert(png.take(4).map(_ & 0xff).toSeq === Seq(0x89, 0x50, 0x4e, 0x47),
        "encodePng must emit a PNG signature")
      assert(Multimodal.decodePngBytes(png).toSeq === padded(payload).toSeq)
    }
  }

  test("decodeFeatures computes histogram/mean over the decoded bytes") {
    val s = spark
    import s.implicits._
    val payloads = Seq(
      1L -> "abc".getBytes("UTF-8"),
      2L -> Array.tabulate(100)(i => (i * 7).toByte),
      3L -> Array.empty[Byte])
    val media = payloads.map { case (id, p) =>
      (id, Multimodal.encodePng(p))
    }.toDF("media_id", "content")
    val got = Multimodal.decodeFeatures(media)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getSeq[Long](3)))).toMap
    payloads.foreach { case (id, p) =>
      val dec = padded(p)
      val hist = new Array[Long](16)
      dec.foreach(b => hist((b & 0xff) / 16) += 1)
      val sum = dec.map(b => (b & 0xff).toLong).sum
      val (nBytes, mean, gotHist) = got(id)
      assert(nBytes === dec.length.toLong)
      assert(mean === sum.toDouble / dec.length)
      assert(gotHist === hist.toSeq)
    }
  }

  test("WAV round-trip is exact: decoded PCM = payload, byte for byte") {
    val cases = Seq(
      Array.empty[Byte],
      "hello audio".getBytes("UTF-8"),
      Array.tabulate(256)(i => i.toByte),
      Array.fill(1000)(0x80.toByte))
    cases.foreach { payload =>
      val wav = Multimodal.encodeWav(payload)
      // a real RIFF/WAVE container, not a passthrough of the payload
      assert(new String(wav.take(4), "US-ASCII") === "RIFF",
        "encodeWav must emit a RIFF header")
      assert(new String(wav.slice(8, 12), "US-ASCII") === "WAVE")
      assert(Multimodal.decodeWavBytes(wav).toSeq === payload.toSeq)
    }
  }

  test("audioTable + decodeFeatures: second codec through the same operator") {
    // the swap claim: decodeFeatures runs VERBATIM over the WAV table
    // with only the decode call site changed — and since PCM decodes to
    // the exact payload, features equal the raw byte stats, unpadded
    val feats = Multimodal.decodeFeatures(
      Multimodal.audioTable(spark, sf0001), Multimodal.decodeWavBytes)
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("bytes"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("bytes")).toMap
    val rows = feats.collect()
    assert(rows.length === docs.size)
    rows.foreach { r =>
      val payload = docs(r.getLong(0))
      assert(r.getLong(1) === payload.length.toLong)
      assert(r.getDouble(2) ===
        payload.map(b => (b & 0xff).toLong).sum.toDouble / payload.length)
    }
  }

  test("imageTable emits real PNGs whose features match the documents") {
    val media = Multimodal.imageTable(spark, sf0001)
    val row = media.orderBy("media_id").limit(1).collect()(0)
    val png = row.getAs[Array[Byte]]("content")
    assert(png.take(4).map(_ & 0xff).toSeq === Seq(0x89, 0x50, 0x4e, 0x47))
    // features of the decoded corpus = padded byte stats of the raw text
    val feats = Multimodal.decodeFeatures(media)
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("bytes"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("bytes")).toMap
    feats.collect().foreach { r =>
      val dec = padded(docs(r.getLong(0)))
      assert(r.getLong(1) === dec.length.toLong)
      assert(r.getDouble(2) === dec.map(b => (b & 0xff).toLong).sum.toDouble / dec.length)
    }
  }

  test("codec error policy: corrupt payloads land in the error column, task survives") {
    val s = spark
    import s.implicits._
    val goodPng = Multimodal.encodePng(Array[Byte](1, 2, 3, 4))
    val rows = Seq(
      Multimodal.MediaRow(1L, goodPng),
      Multimodal.MediaRow(2L, goodPng.take(goodPng.length / 2)), // truncated
      Multimodal.MediaRow(3L, Array[Byte](9, 9, 9, 9, 9)),       // garbage
      Multimodal.MediaRow(4L, Array.emptyByteArray))             // empty
    val out = Multimodal.decodeFeaturesSafe(rows.toDF())
      .collect().map(r => r.getLong(0) -> r).toMap
    // the clean row decodes with features identical to the strict path
    val strict = Multimodal.decodeFeatures(Seq(rows.head).toDF()).head()
    assert(out(1L).isNullAt(4), "clean row must carry null error")
    assert(out(1L).getLong(1) == strict.getLong(1) &&
      out(1L).getDouble(2) == strict.getDouble(2))
    // every corrupt row survives as (id, nulls, error-class)
    Seq(2L, 3L, 4L).foreach { id =>
      val r = out(id)
      assert(!r.isNullAt(4), s"row $id must carry a decode error")
      assert(r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3),
        s"row $id must carry null features")
    }
  }

  test("codec error policy holds for the WAV codec through the same operator") {
    val s = spark
    import s.implicits._
    val goodWav = Multimodal.encodeWav(Array[Byte](5, 6, 7))
    val rows = Seq(
      Multimodal.MediaRow(1L, goodWav),
      Multimodal.MediaRow(2L, goodWav.take(8)),            // truncated header
      Multimodal.MediaRow(3L, Array[Byte](0, 1, 2, 3)))    // not a RIFF
    val out = Multimodal.decodeFeaturesSafe(rows.toDF(), Multimodal.decodeWavBytes)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).isNullAt(4) && out(1L).getLong(1) == 3L)
    Seq(2L, 3L).foreach { id =>
      assert(!out(id).isNullAt(4), s"row $id must carry a decode error")
    }
  }

  /** Driver-side re-derivation of the temporal dHash over raw bytes —
    * never touches the operator or the codec. */
  private def refAudioHash(payload: Array[Byte]): (Long, Long) = {
    val n = payload.length
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    var j = 0
    while (j < n) {
      val k = (j.toLong * 64 / n).toInt
      sums(k) += payload(j) & 0xff
      cnts(k) += 1
      j += 1
    }
    def m(k: Int): Long = if (cnts(k) == 0) 0L else sums(k) / cnts(k)
    var lo = 0L
    var hi = 0L
    for (k <- 0 until 64)
      if (m((k + 1) % 64) > m(k)) {
        if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
      }
    (lo, hi)
  }

  test("audioDHash matches the driver derivation; WAV codec path agrees") {
    val s = spark
    import s.implicits._
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog " * 12),
      (2L, "x"),   // n < 64: most windows empty, means default 0
      (3L, ""))    // n = 0: hash is (0, 0)
    val raw = texts.map { case (id, t) =>
      Multimodal.MediaRow(id, t.getBytes("UTF-8")) }
    // window/bit math isolated from the codec (identity decode)
    val got = Multimodal.audioDHash(raw.toDF(), identity)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    raw.foreach { r =>
      assert(got(r.media_id) === refAudioHash(r.content),
        s"media ${r.media_id}")
    }
    assert(got(3L) === ((0L, 0L)))
    // through the real WAV container: PCM is lossless, same hashes
    val wav = raw.filter(_.content.nonEmpty)
      .map(r => Multimodal.MediaRow(r.media_id, Multimodal.encodeWav(r.content)))
    val got2 = Multimodal.audioDHash(wav.toDF())
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    wav.foreach(r => assert(got2(r.media_id) === got(r.media_id)))
  }

  test("audioDedupPairs pairs a volume-scaled re-encode, not an inverted envelope") {
    val s = spark
    import s.implicits._
    // 512 bytes = 64 windows of exactly 8 bytes; alternating low/high
    // blocks give alternating gradient bits. The 0.9× copy scales every
    // window mean together (bits survive: dist 0); the inverted layout
    // flips every bit (Hamming 64) and must stay out
    val base = ("aaaaaaaa" + "~~~~~~~~") * 32
    val anti = ("~~~~~~~~" + "aaaaaaaa") * 32
    val scaled = base.getBytes("UTF-8").map(b => ((b & 0xff) * 9 / 10).toByte)
    val rows = Seq(
      Multimodal.MediaRow(1L, Multimodal.encodeWav(base.getBytes("UTF-8"))),
      Multimodal.MediaRow(2L, Multimodal.encodeWav(scaled)),
      Multimodal.MediaRow(3L, Multimodal.encodeWav(anti.getBytes("UTF-8"))))
    val pairs = Multimodal.audioDedupPairs(rows.toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 0L)))
  }

  test("dhash pair collapse: identical-fingerprint groups expand to the exact uncollapsed pair list") {
    val s = spark
    import s.implicits._
    // verbatim replicas (the crawl regime the r13 collapse targets)
    // plus a near variant: ids 1/4/5 identical, 2 volume-scaled (same
    // fingerprint), 6 one mutated block (close fingerprint), 7 a
    // verbatim copy of 6, 3 the inverted envelope (far). The expected
    // list replays the UNCOLLAPSED contract brute-force from the
    // fingerprints themselves: a pair is in iff it shares >= 1 of the
    // four band values AND Hamming distance <= maxDist.
    val base = ("aaaaaaaa" + "~~~~~~~~") * 32
    val anti = ("~~~~~~~~" + "aaaaaaaa") * 32
    val mutated = base.substring(0, 160) + "~~~~~~~~" + base.substring(168)
    val scaled = base.getBytes("UTF-8").map(b => ((b & 0xff) * 9 / 10).toByte)
    val rows = Seq(
      1L -> base.getBytes("UTF-8"), 2L -> scaled,
      3L -> anti.getBytes("UTF-8"), 4L -> base.getBytes("UTF-8"),
      5L -> base.getBytes("UTF-8"), 6L -> mutated.getBytes("UTF-8"),
      7L -> mutated.getBytes("UTF-8")
    ).map { case (id, c) => Multimodal.MediaRow(id, Multimodal.encodeWav(c)) }
    val fps = Multimodal.audioDHash(rows.toDF())
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    def bandVals(fp: (Long, Long)): Set[(Int, Long)] = Set(
      0 -> fp._1 % 65536L, 1 -> fp._1 / 65536L,
      2 -> fp._2 % 65536L, 3 -> fp._2 / 65536L)
    def dist(a: (Long, Long), b: (Long, Long)): Long =
      (java.lang.Long.bitCount(a._1 ^ b._1) +
        java.lang.Long.bitCount(a._2 ^ b._2)).toLong
    val ids = fps.keys.toSeq.sorted
    val expected = (for {
      a <- ids; b <- ids if a < b
      if bandVals(fps(a)).intersect(bandVals(fps(b))).nonEmpty
      d = dist(fps(a), fps(b)) if d <= 6
    } yield (a, b, d)).toSet
    // the fixture must exercise BOTH expansion arms: intra (equal
    // fingerprints) and cross (distinct fingerprints within maxDist)
    assert(expected.exists { case (a, b, _) => fps(a) == fps(b) })
    assert(expected.exists { case (a, b, _) => fps(a) != fps(b) },
      s"mutated block must land within maxDist of base: " +
        s"dist=${dist(fps(1L), fps(6L))}")
    val got = Multimodal.audioDedupPairs(rows.toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected,
      s"only-got=${got -- expected} only-expected=${expected -- got}")
  }

  test("video dedup: verbatim matches all frames, edited copy pays exactly its one edited frame, re-cut refused") {
    val media = Multimodal.videoTable(spark, sf0001)
      .unionByName(Multimodal.videoTwinTable(spark, sf0001))
    val pairs = Multimodal.videoDedupPairs(media, every = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    // verbatim twins: matched = the doc's full sampled frame count
    val docs = graft.Tables.documents(spark, sf0001)
      .where(pmod(col("doc_id"), lit(4L)) === 1L)
      .select(col("doc_id"), length(encode(col("text"), "UTF-8")).as("n"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    def sampled(n: Int): Long =
      (0 until math.max(1, math.ceil(n / 32.0).toInt)).count(_ % 2 == 0)
        .toLong
    val verbatimable = docs.filter { case (_, n) => sampled(n) >= 2 }
    assert(verbatimable.nonEmpty)
    verbatimable.foreach { case (d, n) =>
      assert(byPair.get((d, d + 1000000L)).contains(sampled(n)),
        s"doc $d (n=$n): verbatim twin must match all ${sampled(n)} " +
          s"sampled frames, got ${byPair.get((d, d + 1000000L))}")
    }
    // edited twins: exactly one sampled frame (frame 2) was overwritten
    val editable = docs.filter { case (_, n) => n > 128 }
    assert(editable.nonEmpty)
    editable.foreach { case (d, n) =>
      assert(byPair.get((d, d + 3000000L)).contains(sampled(n) - 1),
        s"doc $d (n=$n): edited twin must match ${sampled(n) - 1} frames")
    }
    // re-cut twins never pair with any UNROTATED copy of the material —
    // temporal alignment is the contract (recut-vs-recut of duplicate
    // docs may pair; that is the same material under the same rotation)
    val recutVsUnrotated = pairs.filter(p =>
      (p._2 >= 2000000L && p._2 < 3000000L) != // exactly one side recut
        (p._1 >= 2000000L && p._1 < 3000000L))
    assert(recutVsUnrotated.isEmpty,
      s"re-cut copies must not align-match unrotated material: " +
        s"${recutVsUnrotated.take(5).toSeq}")
    // dup-heavy expansion (the digest collapse's multi-member groups):
    // a SECOND verbatim copy (+5M) makes 3-member identical groups —
    // all three intra pairs must appear, each at the full sampled count
    val media3 = media.unionByName(
      Multimodal.videoTable(spark, sf0001)
        .where(pmod(col("media_id"), lit(4L)) === 1L)
        .select((col("media_id") + lit(5000000L)).as("media_id"),
          col("content")))
    val by3 = Multimodal.videoDedupPairs(media3, every = 2).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    verbatimable.foreach { case (d, n) =>
      val sc = sampled(n)
      Seq((d, d + 1000000L), (d, d + 5000000L),
        (d + 1000000L, d + 5000000L)).foreach { p =>
        assert(by3.get(p).contains(sc),
          s"3-member group of doc $d: pair $p must match all $sc frames")
      }
    }
  }

  test("clip detect finds a one-stride re-cut at shift 2; aligned dedup refuses it") {
    val media = Multimodal.videoTable(spark, sf0001).unionByName(
      Multimodal.videoClipTwinTable(spark, sf0001))
    val clips = Multimodal.videoClipDetect(media, every = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // every clip twin is found against its own original, always at the
    // consistent shift of +2 sampled frames (original leads the re-cut)
    val twinPairs = clips.filter(p => p._2 == p._1 + 4000000L)
    assert(twinPairs.nonEmpty)
    twinPairs.foreach { p =>
      assert(p._3 == 2L && p._4 >= 2L,
        s"clip twin must surface at shift 2 with >= 2 frames: $p")
    }
    // the aligned dedup refuses exactly these pairs — complementarity
    val aligned = Multimodal.videoDedupPairs(media, every = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(!aligned.exists(p => p._2 == p._1 + 4000000L),
      "a one-stride re-cut must not align-match its original")
  }

  test("perceptual video dedup: gain shift caught, noise caught, re-cut refused, md5 family blind to re-encodes") {
    val media = Multimodal.videoTable(spark, sf0001).unionByName(
      Multimodal.videoPerceptualTwinTable(spark, sf0001))
    val pairs = Multimodal.videoPerceptualPairs(media, every = 2,
      maxDist = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    val docs = graft.Tables.documents(spark, sf0001)
      .where(pmod(col("doc_id"), lit(4L)) === 1L)
      .select(col("doc_id"), length(encode(col("text"), "UTF-8")).as("n"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    // GAIN (+1 every byte): the fingerprint is INVARIANT on full frames
    // (every comparison, including vs the mean, shifts together), so
    // every doc with >= 2 full sampled frames (frames 0 and 2 full <=>
    // n >= 96) is caught against its +5M twin
    val gainable = docs.filter { case (_, n) => n >= 96 }
    assert(gainable.nonEmpty)
    gainable.foreach { case (d, n) =>
      assert(byPair.contains((d, d + 5000000L)),
        s"doc $d (n=$n): +1 gain twin must be caught perceptually")
    }
    // NOISE (+2 at every 16th byte): sparse perturbation, small nonzero
    // Hamming distance — the tolerance dial's regime. Not every frame
    // is guaranteed under maxDist, but the regime must be caught.
    val noiseCaught = pairs.count(p =>
      p._2 >= 6000000L && p._2 < 7000000L && p._1 == p._2 - 6000000L)
    assert(noiseCaught > 0, "sparse byte noise must be caught")
    // RE-CUT (+7M): perceptually identical material, refused by
    // alignment — the semantics the md5 family established
    assert(!pairs.exists(p =>
      p._2 >= 7000000L && p._1 == p._2 - 7000000L),
      "a re-cut must not align-match its original perceptually")
    // and the md5 family is BLIND to both re-encode regimes — the gap
    // the perceptual leg exists to close (r14 verdict top_next)
    val md5Pairs = Multimodal.videoDedupPairs(media, every = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(!md5Pairs.exists(p =>
      p._2 >= 5000000L && p._2 < 7000000L && p._1 == p._2 - 5000000L
        || p._2 >= 6000000L && p._2 < 7000000L && p._1 == p._2 - 6000000L),
      "byte-exact digests must refuse every re-encoded twin")
  }

  test("perceptual band stop: a hot shared frame collapses to the genuine pairs") {
    val s = spark
    import s.implicits._
    // eight videos share the SAME frame fingerprint at idx 0 and 6 (a
    // solid intro/outro card: band df 8); videos 1 and 2 additionally
    // share genuine content fps at idx 2 and 4. Filler fps are unique
    // per video with nonzero values in every 16-bit band so no
    // accidental band collisions occur.
    val hotLo = 65536L * 7 + 7
    val hotHi = 65536L * 9 + 9
    val frames = (1L to 8L).flatMap(v => Seq(
      (v, 0L, s"h0", hotLo, hotHi),
      (v, 6L, s"h6", hotLo + 1, hotHi + 1),
      (v, 8L, s"u$v", 65536L * (100 + v) + 100 + v,
        65536L * (200 + v) + 200 + v))) ++
      Seq((1L, 2L, "a1", 65536L * 31 + 31, 65536L * 33 + 33),
        (2L, 2L, "a2", 65536L * 31 + 31, 65536L * 33 + 33),
        (1L, 4L, "b1", 65536L * 41 + 41, 65536L * 43 + 43),
        (2L, 4L, "b2", 65536L * 41 + 41, 65536L * 43 + 43))
    val df = frames.toDF("media_id", "frame_idx", "fm", "f_lo", "f_hi")
    val loose = Multimodal.framePairs(df, Multimodal.Perceptual(maxDist = 0),
      shifts = false, maxDf = 10000).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(loose.length == 28,
      s"without the dial every pair of the 8 matches on the hot frames: " +
        s"${loose.length}")
    val strict = Multimodal.framePairs(df, Multimodal.Perceptual(maxDist = 0),
      shifts = false, maxDf = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(strict.toSeq == Seq((1L, 2L, 2L)),
      s"only the genuine pair at its 2 content frames: ${strict.toSeq}")
  }

  test("fourth quadrant: a transcoded re-cut is caught ONLY by shift-tolerant perceptual detection") {
    val media = Multimodal.videoTable(spark, sf0001).unionByName(
      Multimodal.videoClipPerceptualTwinTable(spark, sf0001))
    val q4 = Multimodal.videoClipPerceptual(media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val longEnough = graft.Tables.documents(spark, sf0001)
      .where(pmod(col("doc_id"), lit(4L)) === 1L)
      .select(col("doc_id"),
        length(encode(col("text"), "UTF-8")).as("n"))
      .collect().filter(_.getInt(1) >= 160).map(_.getLong(0)).toSet
    assert(longEnough.nonEmpty)
    val caught = q4.filter(p => p._2 == p._1 + 8000000L)
      .map(p => (p._1, p._3)).toMap
    longEnough.foreach { d =>
      assert(caught.get(d).contains(2L),
        s"doc $d: gain+re-cut twin must surface at shift 2, " +
          s"got ${caught.get(d)}")
    }
    // and it is INVISIBLE to the three other legs, each for its own
    // reason: md5 legs see different bytes, the aligned perceptual leg
    // sees different positions
    def noTwin(rows: Array[(Long, Long)]): Unit =
      assert(!rows.exists(p => p._2 == p._1 + 8000000L))
    noTwin(Multimodal.videoDedupPairs(media).collect()
      .map(r => (r.getLong(0), r.getLong(1))))
    noTwin(Multimodal.videoClipDetect(media).collect()
      .map(r => (r.getLong(0), r.getLong(1))))
    noTwin(Multimodal.videoPerceptualPairs(media).collect()
      .map(r => (r.getLong(0), r.getLong(1))))
  }

  test("cross-codec keyframes: PNG and BMP containers differ in every " +
      "byte region yet decode to identical fingerprints, so the " +
      "re-wrapped video pairs as verbatim") {
    val s = spark
    import s.implicits._
    // 3 full keyframes (+ a fingerprint-less tail): sampled kfs 0 and 2
    val payload = Array.tabulate(300)(i => (32 + (i * 31 + 7) % 95).toByte)
    val png = Multimodal.keyframeContainer(payload, "png")
    val bmp = Multimodal.keyframeContainer(payload, "bmp")
    assert(!java.util.Arrays.equals(png, bmp),
      "the two containers must differ at the byte level")
    val m = Seq(Multimodal.MediaRow(1L, png), Multimodal.MediaRow(2L, bmp))
      .toDF()
    val fps = Multimodal.videoKeyframesFp(m).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4)))
    val byId = fps.groupBy(_._1)
    assert(byId(1L).map(t => (t._2, t._3, t._4, t._5)).toSet ==
      byId(2L).map(t => (t._2, t._3, t._4, t._5)).toSet,
      "decoded-keyframe fingerprints must be codec-independent")
    assert(byId(1L).map(_._2).toSet == Set(0L, 2L),
      "every 2nd keyframe sampled; the 12-byte tail carries none")
    val pairs = Multimodal.framePairs(
      Multimodal.videoKeyframesFp(m), Multimodal.Exact, shifts = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSet == Set((1L, 2L, 2L)),
      "the cross-codec re-wrap is a verbatim dup on all sampled keyframes")
  }

  test("lossy-transcode keyframes: the byte-exact leg is blind to the " +
      "gain and quantized twins; the perceptual leg catches the gain " +
      "re-encode at distance 0") {
    val s = spark
    import s.implicits._
    // bytes with LOW BITS SET (so quantization actually changes them)
    // and a strictly varied gradient (so +1 preserves every comparison)
    val payload = Array.tabulate(300)(i => (33 + (i * 29 + 5) % 93).toByte)
    val gain = payload.map(b => ((b & 0xff) + 1).toByte)
    val quant = payload.map(b => (b & 0xfc).toByte)
    val m = Seq(
      Multimodal.MediaRow(1L, Multimodal.keyframeContainer(payload, "png")),
      Multimodal.MediaRow(2L, Multimodal.keyframeContainer(gain, "png")),
      Multimodal.MediaRow(3L, Multimodal.keyframeContainer(quant, "png")))
      .toDF()
    val frames = Multimodal.videoKeyframesFp(m).localCheckpoint()
    // byte-exact: every decoded keyframe's md5 differs → NO pairs
    val exact = Multimodal.framePairs(frames, Multimodal.Exact, shifts = false)
      .collect()
    assert(exact.isEmpty,
      s"the byte-exact keyframe leg must be blind to both lossy twins: " +
        s"${exact.mkString(", ")}")
    // perceptual: the gain twin fingerprints identically (frameFpBits
    // is +c-invariant) → pairs at every sampled keyframe; the quant
    // twin pairs only if its gradient survived within maxDist — on
    // this fixture's strictly-varied bytes (consecutive deltas ≥ 4 in
    // magnitude after mod wrap never quantize equal... asserted
    // empirically below as ≥ the gain pair, never asserted blind)
    val perc = Multimodal.framePairs(frames,
      Multimodal.Perceptual(maxDist = 6), shifts = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(perc.toSet.contains((1L, 2L, 2L)),
      s"the gain re-encode must pair at distance 0 on both sampled " +
        s"keyframes: ${perc.mkString(", ")}")
  }

  test("lossy-transcode audio (AudioLossySpec): quantization blinds " +
      "every byte-exact segment md5; the envelope leg catches the " +
      "re-encode; 2x decimation reads as different audio") {
    val corpus = Multimodal.audioTable(spark, sf0001)
    val twins = Multimodal.audioLossyTable(spark, sf0001)
    // byte-exact segment leg: NO segment md5 survives quantization —
    // an (idx, md5)-aligned join between each original and its twin
    // must be empty (the blindness the perceptual leg exists to cover)
    val segs = Multimodal.audioSegmentsFp(corpus.unionByName(twins))
      .localCheckpoint()
    val surviving = segs.as("a").join(segs.as("b"),
        col("a.media_id") + lit(9600000L) === col("b.media_id") &&
          col("a.frame_idx") === col("b.frame_idx") &&
          col("a.fm") === col("b.fm"))
      .count()
    assert(surviving == 0,
      s"quantization must change every PCM segment md5, $surviving survived")
    // perceptual whole-stream leg: the registered query's exact shape —
    // most twins land within the measured maxDist = 6 dial (sf0.01:
    // 122/123, median 1; outliers are honestly refused)
    val pairs = Multimodal.audioDedupPairs(corpus.unionByName(twins))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val slice = Tables.documents(spark, sf0001)
      .where(col("doc_id") % 4 === 1)
      .select("doc_id").collect().map(_.getLong(0))
    val caught = slice.count(d => pairs.contains((d, d + 9600000L)))
    assert(caught * 2 >= slice.length,
      s"the envelope leg must catch most quantized re-encodes: " +
        s"$caught of ${slice.length}")
    // decimation (the codec shape NOT registered): dropping every
    // other sample re-partitions the envelope windows onto half the
    // stream — measured min Hamming 10 at sf0.01 — so a 2x re-sample
    // correctly reads as DIFFERENT audio at the same dial
    val texts = Tables.documents(spark, sf0001)
      .where(col("doc_id") % 4 === 1)
      .select("text").collect().map(_.getString(0))
    val refused = texts.forall { t =>
      val b = t.getBytes("UTF-8")
      val (lo, hi) = Multimodal.envelopeBits(b, 0, b.length)
      val d = b.zipWithIndex.collect { case (x, i) if i % 2 == 0 => x }
      val (dlo, dhi) = Multimodal.envelopeBits(d, 0, d.length)
      java.lang.Long.bitCount(lo ^ dlo) +
        java.lang.Long.bitCount(hi ^ dhi) > 6
    }
    assert(refused, "a 2x-decimated stream must not land within the dial")
  }
}
