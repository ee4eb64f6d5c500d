package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal
import graft.sources.VideoIndex

/** 2D (horizontal/general) image crop detection — the regime the ROW
  * grid documents as out of scope (r15 verdict "what's missing" #2):
  * a horizontal crop reflows every raster row at the new width, so
  * [[Multimodal.imageRowsFp]] must be demonstrably BLIND to it (the
  * ImageCropSpec blindness discipline), while the 8×1-px block grid
  * ([[Multimodal.imageBlocksFp]]) finds the surviving tiles at ONE
  * consistent packed (row, col) shift — the temporal index's first
  * 2-vector shift, carried in a single long (row·2^20 + col). These
  * tests pin the image-specific seams: per-image width from the PNG
  * decode, the packed-shift arithmetic, the all-zero (padding) block
  * drop, and the stored-index/gate reuse. */
class ImageCrop2dSpec extends AnyFunSuite {
  import TestSession._

  private val Row = 48   // 16 px × 3 ch
  private val Blk = 24   // 8 px × 3 ch
  private val Stride = 1L << 20

  private def px(n: Int): Array[Byte] =
    Array.tabulate(n)(i => (33 + (i * 37 + (i * i) % 19) % 90).toByte)

  private def png(id: Long, d: Array[Byte], widthPx: Int = 16) =
    Multimodal.MediaRow(id, Multimodal.encodePngW(d, widthPx))

  private def media(rows: Multimodal.MediaRow*) = {
    val s = spark
    import s.implicits._
    rows.toDF()
  }

  private val base = px(480) // 10 whole 16-px rows, no padding

  /** Right half (block column 1) of rows `from` until `until`. */
  private def rightHalf(from: Int, until: Int): Array[Byte] =
    (from until until).flatMap(ri =>
      base.slice(ri * Row + Blk, (ri + 1) * Row)).toArray

  test("a horizontal+vertical crop is found at one consistent packed " +
      "(row, col) shift; the ROW grid and the whole-image dHash are " +
      "both blind to it") {
    // rows 1..4, right half → an honest 8-px-wide PNG
    val m = media(png(1L, base), png(2L, rightHalf(1, 5), widthPx = 8))
    val got = Multimodal.framePairs(
      Multimodal.imageBlocksFp(m), Multimodal.Exact, shifts = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == Set((1L, 2L, Stride + 1L, 4L)),
      "4 crop blocks must match base blocks (gy+1, 1) at packed shift " +
        "2^20 (one row) + 1 (one column)")
    assert(Multimodal.framePairs(
        Multimodal.imageRowsFp(m), Multimodal.Exact, shifts = true).isEmpty,
      "the 24-byte cropped rows reflow under the row grid's fixed " +
        "48-byte pitch — which is why the block grid exists")
    assert(Multimodal.imageDedupPairs(m).isEmpty,
      "the whole-image fingerprint sees a different raster")
  }

  test("a pure horizontal crop (every row, right half) lands at packed " +
      "shift 1 — a 0-row, 1-column offset") {
    val m = media(png(1L, base), png(3L, rightHalf(0, 10), widthPx = 8))
    val got = Multimodal.framePairs(
      Multimodal.imageBlocksFp(m), Multimodal.Exact, shifts = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == Set((1L, 3L, 1L, 10L)))
  }

  test("all-zero blocks (indistinguishable from raster padding) are " +
      "dropped at derivation") {
    // 60-byte payload → 2 rows: row 1 = 12 payload + 36 zero-pad bytes,
    // so block (1,0) keeps payload (kept) and block (1,1) is pure
    // padding (dropped)
    val blocks = Multimodal.imageBlocksFp(media(png(7L, px(60))))
      .collect()
    assert(blocks.length == 3, "4 grid cells minus the all-zero one")
    assert(blocks.map(_.getLong(1)).toSet ==
      Set(0L, 1L, Stride), "cell (1,1) must be absent")
  }

  test("the stored block index serves the 2D detector unchanged and " +
      "its gate finds the crop") {
    val corpus = media(png(1L, base),
      png(4L, px(480).map(b => (b ^ 0x2a).toByte)))
    VideoIndex.build(spark, Multimodal.imageBlocksFp(corpus),
      "graft_image_crop2d_spec")
    val live = Multimodal.framePairs(
      Multimodal.imageBlocksFp(corpus), Multimodal.Exact, shifts = true)
      .collect().map(_.toSeq).toSet
    val stored = Multimodal.framePairs(
      spark.table("graft_image_crop2d_spec_vf"), Multimodal.Exact,
      shifts = true)
      .collect().map(_.toSeq).toSet
    assert(stored == live)
    val fresh = Multimodal.imageBlocksFp(
      media(png(100L, rightHalf(1, 5), widthPx = 8)))
    val hits = VideoIndex.pairsAgainst(spark, "graft_image_crop2d_spec",
      fresh, Multimodal.Exact, shifts = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(hits == Set((100L, 1L, Stride + 1L)),
      "shift = stored − fresh: one row down, one column right")
  }

  test("colHopPx dial: a NON-8-px-aligned crop is invisible at the " +
      "aligned default and caught at hop 1 at one consistent shift; " +
      "blocksFor derives a batch at the stored hop") {
    // left edge at pixel column 3 (byte 9 of each row) — no aligned
    // block of the original survives the crop (the granularity
    // contract; measured 12 % recall on uniform phases, SCALE.md r17)
    val off = 9
    val unaligned = (1 to 5).flatMap(ri =>
      base.slice(ri * Row + off, ri * Row + off + Blk)).toArray
    val m = media(png(1L, base), png(5L, unaligned, widthPx = 8))
    assert(Multimodal.framePairs(
        Multimodal.imageBlocksFp(m), Multimodal.Exact, shifts = true).isEmpty,
      "the aligned grid must be blind to a phase-3 crop")
    // hop 1: the corpus side carries every column phase; packed column
    // ordinals are startPx (hop = 1), so the crop (aligned within its
    // own 8-px raster: ordinals 0,1,..,7 per row... its blocks start
    // at px 0 only at width 8) matches at shift = (1 row, 3 px)
    val got = Multimodal.framePairs(
      Multimodal.imageBlocksFp(m, colHopPx = 1), Multimodal.Exact,
      shifts = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got.contains((1L, 5L, Stride + 3L)),
      s"hop 1 must catch the phase-3 crop at packed shift 2^20 + 3: $got")
    // the hop persists (graft.hop) and blocksFor derives at it — the
    // coherence seam, same discipline as segmentsFor/keyframesFor
    VideoIndex.build(spark,
      Multimodal.imageBlocksFp(media(png(1L, base)), colHopPx = 1),
      "graft_image_crop2d_hop", gridHop = 1)
    assert(VideoIndex.storedHop(spark, "graft_image_crop2d_hop") == 1)
    val fresh = VideoIndex.blocksFor(spark, "graft_image_crop2d_hop",
      media(png(200L, unaligned, widthPx = 8)))
    val hits = VideoIndex.pairsAgainst(spark, "graft_image_crop2d_hop",
      fresh, Multimodal.Exact, shifts = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(hits.contains((200L, 1L, Stride + 3L)),
      s"the hop-1 gate must refuse the unaligned crop: $hits")
  }
}
