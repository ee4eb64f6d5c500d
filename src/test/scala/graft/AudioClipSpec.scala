package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.sources.VideoIndex

/** Audio EXCERPT (clip) detection — the shift-tolerant cell of the
  * audio modality matrix: a clip of stored material embedded in /
  * lifted from a longer recording must surface at a consistent segment
  * offset, a re-MASTERED (gain-scaled) excerpt must surface on the
  * perceptual leg only, and re-ORDERED segments must be refused (same
  * clips in a different order IS different audio — the consistency
  * threshold, not segment overlap, is the match semantics). The stages
  * are the video clip stages verbatim (pure functions of
  * (media_id, frame_idx, fm, f_lo, f_hi) rows), so these tests pin the
  * audio-specific seam: the WAV decode → PCM segment grid derivation
  * and the modality-agnostic reuse of the stored temporal index. */
class AudioClipSpec extends AnyFunSuite {
  import TestSession._

  private val Seg = 32

  /** Varied printable PCM: enough byte structure that segments are
    * distinctive and gradient bits non-degenerate. */
  private def pcm(n: Int): Array[Byte] =
    Array.tabulate(n)(i => (33 + (i * 37 + (i * i) % 19) % 90).toByte)

  private def wav(id: Long, d: Array[Byte]) =
    Multimodal.MediaRow(id, Multimodal.encodeWav(d))

  private def media(rows: Multimodal.MediaRow*) = {
    val s = spark
    import s.implicits._
    rows.toDF()
  }

  private def gain(d: Array[Byte]): Array[Byte] =
    d.map(b => ((b & 0xff) * 9 / 10).toByte)

  private val base = pcm(512)                      // 16 segments
  private val excerpt = base.slice(2 * Seg, 6 * Seg) // base segments 2..5

  test("an embedded excerpt is found at one consistent shift; the " +
      "aligned whole-stream dedup correctly refuses it") {
    val m = media(wav(1L, base), wav(2L, excerpt))
    val got = Multimodal.framePairs(
      Multimodal.audioSegmentsFp(m), Multimodal.Exact, shifts = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == Set((1L, 2L, 2L, 4L)),
      "4 excerpt segments must match base segments 2..5 at shift +2")
    // the whole-stream envelope dHash sees a different recording: the
    // excerpt moves every window, so aligned dedup finds nothing —
    // which is WHY the clip family exists
    assert(Multimodal.audioDedupPairs(m).isEmpty)
  }

  test("re-ordered segments are refused: every shift is inconsistent") {
    // base segments [5, 2, 4, 3]: matches at shifts 5, 1, 2, 0 — four
    // singleton shifts, all below minFrames
    val reordered = Seq(5, 2, 4, 3).flatMap(s =>
      base.slice(s * Seg, (s + 1) * Seg)).toArray
    val got = Multimodal.framePairs(
      Multimodal.audioSegmentsFp(media(wav(1L, base), wav(9L, reordered))),
      Multimodal.Exact, shifts = true)
    assert(got.isEmpty)
  }

  test("a gain-scaled excerpt is invisible to the exact leg and caught " +
      "by the perceptual leg at the same consistent shift") {
    val m = media(wav(1L, base), wav(3L, gain(excerpt)))
    val segs = Multimodal.audioSegmentsFp(m).localCheckpoint()
    assert(Multimodal.framePairs(segs, Multimodal.Exact, shifts = true).isEmpty,
      "every scaled sample byte differs — md5 equality must refuse")
    val perc = Multimodal.framePairs(segs, Multimodal.Perceptual(maxDist = 6),
      shifts = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(perc.contains((1L, 3L, 2L)),
      "gradient fingerprints must match within the dial at shift +2")
  }

  test("hop dial: a non-aligned excerpt is invisible at the aligned " +
      "default and found at hop = 16 at one consistent shift") {
    // excerpt starts at byte 48 — 16-aligned but NOT 32-aligned, so it
    // misses every default grid boundary (the granularity caveat the
    // scaladoc states); the overlapping grid buys it back
    val offExcerpt = base.slice(48, 176) // 128 bytes = 4 own segments
    val m = media(wav(1L, base), wav(7L, offExcerpt))
    assert(Multimodal.framePairs(
      Multimodal.audioSegmentsFp(m), Multimodal.Exact, shifts = true).isEmpty,
      "detection granularity IS the grid: a mid-segment offset must " +
        "miss the aligned default")
    val got = Multimodal.framePairs(
      Multimodal.audioSegmentsFp(m, hop = 16), Multimodal.Exact, shifts = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == Set((1L, 7L, 3L, 7L)),
      "all 7 overlapping windows must match at shift 3 (hop units)")
  }

  test("the stored temporal index serves audio segments unchanged and " +
      "its gates admit/refuse excerpt regimes correctly") {
    val corpus = media(wav(1L, base), wav(4L, pcm(512).map(b => (b ^ 0x55).toByte)))
    VideoIndex.build(spark, Multimodal.audioSegmentsFp(corpus),
      "graft_audio_clip_spec")
    // stored exact serve == live derivation
    val live = Multimodal.framePairs(
      Multimodal.audioSegmentsFp(corpus), Multimodal.Exact, shifts = true)
      .collect().map(_.toSeq).toSet
    val stored = Multimodal.framePairs(
      spark.table("graft_audio_clip_spec_vf"), Multimodal.Exact, shifts = true)
      .collect().map(_.toSeq).toSet
    assert(stored == live)
    // the exact gate finds the exact excerpt, misses the gain excerpt
    val fresh = Multimodal.audioSegmentsFp(
      media(wav(100L, excerpt), wav(101L, gain(excerpt))))
      .localCheckpoint()
    val exactHits = VideoIndex.pairsAgainst(spark, "graft_audio_clip_spec",
      fresh, Multimodal.Exact, shifts = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(exactHits == Set((100L, 1L, 2L)))
    // the perceptual gate catches BOTH regimes at the same shift
    val percHits = VideoIndex.pairsAgainst(spark,
      "graft_audio_clip_spec", fresh, Multimodal.Perceptual(maxDist = 6),
      shifts = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(percHits.contains((100L, 1L, 2L)) &&
      percHits.contains((101L, 1L, 2L)))
  }
}
