package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.sources.VideoIndex

/** Image CROP detection — the image cell of the shift-tolerant
  * modality matrix: a vertical crop (banner stripped/added) must
  * surface at one consistent vertical row offset, a re-BRIGHTENED crop
  * must surface on the perceptual leg only, and the whole-image dHash
  * must be demonstrably blind to the crop (why the row grid exists).
  * The stages are the shared clip machinery; these tests pin the
  * image-specific seam: PNG decode → whole-row grid (incl. the
  * zero-padded last row) and the stored-index reuse. */
class ImageCropSpec extends AnyFunSuite {
  import TestSession._

  private val Row = 48

  private def px(n: Int): Array[Byte] =
    Array.tabulate(n)(i => (33 + (i * 37 + (i * i) % 19) % 90).toByte)

  private def png(id: Long, d: Array[Byte]) =
    Multimodal.MediaRow(id, Multimodal.encodePng(d))

  private def media(rows: Multimodal.MediaRow*) = {
    val s = spark
    import s.implicits._
    rows.toDF()
  }

  private val base = px(480)                    // 10 whole rows
  private val crop = base.slice(Row, 5 * Row)   // rows 1..4
  private def brighten(d: Array[Byte]): Array[Byte] =
    d.map(b => ((b & 0xff) + 1).toByte)

  test("a vertical crop is found at one consistent row offset; the " +
      "whole-image dHash is blind to it") {
    val m = media(png(1L, base), png(2L, crop))
    val got = Multimodal.framePairs(
      Multimodal.imageRowsFp(m), Multimodal.Exact, shifts = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == Set((1L, 2L, 1L, 4L)),
      "4 crop rows must match base rows 1..4 at vertical shift +1")
    assert(Multimodal.imageDedupPairs(m).isEmpty,
      "the whole-image fingerprint sees a different raster — which is " +
        "why the row grid exists")
  }

  test("a brightened crop is invisible to the exact leg and caught by " +
      "the perceptual leg at distance 0") {
    val m = media(png(1L, base), png(3L, brighten(crop)))
    val rows = Multimodal.imageRowsFp(m).localCheckpoint()
    assert(Multimodal.framePairs(rows, Multimodal.Exact, shifts = true).isEmpty,
      "every brightened byte differs — md5 equality must refuse")
    val perc = Multimodal.framePairs(rows, Multimodal.Perceptual(maxDist = 0),
      shifts = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(perc.contains((1L, 3L, 1L)),
      "the gradient fingerprint is exactly +1-invariant: distance 0 " +
        "at vertical shift +1")
  }

  test("the stored row index serves crops unchanged and its gates " +
      "admit/refuse regimes correctly") {
    val corpus = media(png(1L, base),
      png(4L, px(480).map(b => (b ^ 0x2a).toByte)))
    VideoIndex.build(spark, Multimodal.imageRowsFp(corpus),
      "graft_image_crop_spec")
    val live = Multimodal.framePairs(
      Multimodal.imageRowsFp(corpus), Multimodal.Exact, shifts = true)
      .collect().map(_.toSeq).toSet
    val stored = Multimodal.framePairs(
      spark.table("graft_image_crop_spec_vf"), Multimodal.Exact, shifts = true)
      .collect().map(_.toSeq).toSet
    assert(stored == live)
    val fresh = Multimodal.imageRowsFp(
      media(png(100L, crop), png(101L, brighten(crop))))
      .localCheckpoint()
    val exactHits = VideoIndex.pairsAgainst(spark, "graft_image_crop_spec",
      fresh, Multimodal.Exact, shifts = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(exactHits == Set((100L, 1L, 1L)))
    val percHits = VideoIndex.pairsAgainst(spark,
      "graft_image_crop_spec", fresh, Multimodal.Perceptual(maxDist = 6),
      shifts = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(percHits.contains((100L, 1L, 1L)) &&
      percHits.contains((101L, 1L, 1L)))
  }
}
