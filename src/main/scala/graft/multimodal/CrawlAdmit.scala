package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Checkpoints
import graft.sources.{DedupIndex, MediaIndex, VideoIndex}

/** COMPOSED multimodal crawl admission (r14 verdict "what's missing"
  * #4): one call gates a crawl batch carrying text + image + audio +
  * video renditions through every modality's stored-index admission
  * gate and returns per-item flags — the media analog of
  * q_curation_pipeline's composed text gates, and the single entry a
  * crawler's ingest loop calls instead of four hand-wired ones.
  *
  * Shape at 100 TB: each modality's gate is the family's broadcast-batch
  * plan (fresh side derived once, |batch|-bounded, broadcast; stored
  * side streams map-side; exchanges match-bounded) — composing them
  * changes NOTHING about any one gate's economics, and the gates share
  * the single checkpointed batch AND each modality's ONE encoded media
  * table (r15 ADVICE: with the clip dials on, the whole-item
  * fingerprint and the segment/row grid both read the same
  * checkpointed encode — payloads really are encoded once per
  * modality). [[admitBatch]] additionally appends each family's OWN
  * admitted rows (per-modality admission: a novel text whose image is
  * a known dup enters the text index but not the image index — the
  * curation semantics of modality-scoped dedup), so the next batch
  * gates against corpus ∪ admitted with no rebuild. */
object CrawlAdmit {

  /** Run independent leg builds concurrently (guide §2.6: actions are
    * only sequential because the driver calls them sequentially). Each
    * modality gate eagerly materializes its broadcast fresh side
    * (`localCheckpoint` inside the *Against plans), so composing eight
    * gates serially paid the SUM of eight small-job latencies while the
    * box sat near-idle; submitting the builds from a small pool lets
    * each leg's tasks back-fill the others' scheduling gaps. Results
    * are unchanged: every leg is an independent read-only plan over the
    * shared checkpointed batch, and the flags composition consumes the
    * same frames it did when they were built one by one. */
  private def inParallel[T](tasks: Seq[() => T]): Seq[T] = {
    if (tasks.sizeIs <= 1) tasks.map(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(tasks.size, 8))
      try {
        import scala.jdk.CollectionConverters._
        val futures = pool.invokeAll(
          tasks.map(t => new java.util.concurrent.Callable[T] {
            override def call(): T = t()
          }).asJava)
        futures.asScala.toSeq.map(_.get()) // get() rethrows leg failures
      } catch {
        // unwrap so callers see the leg's own exception type, as the
        // sequential build did
        case e: java.util.concurrent.ExecutionException =>
          throw e.getCause
      } finally pool.shutdown()
    }
  }

  /** The registered fixture batch: a verbatim re-fetch of the
    * doc_id % 4 = 1 slice (+1M ids — every modality refuses it) and a
    * genuinely novel slice, the doc_id % 4 = 3 docs REVERSED (+2M ids —
    * different shingles, different rasters, different envelopes,
    * different frames: every modality admits it). Pure string surgery,
    * replayed by DuckDB's reverse(). */
  def crawlBatch(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, sfDir)
    docs.where(pmod(col("doc_id"), lit(4L)) === 1L)
      .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text"))
      .unionByName(
        docs.where(pmod(col("doc_id"), lit(4L)) === 3L)
          .select((col("doc_id") + lit(2000000L)).as("doc_id"),
            reverse(col("text")).as("text")))
  }

  /** The per-batch derived inputs every gate reads: the checkpointed
    * batch plus each modality's fingerprints/grids, derived from ONE
    * encoded media table per modality. `checkpointFps` materializes the
    * fingerprint frames too ([[admitBatch]]'s gate-then-append reuse);
    * [[admitFlags]] keeps them lazy (each is read once). */
  private final case class BatchInputs(b: DataFrame, imgFp: DataFrame,
      audFp: DataFrame, vFrames: DataFrame, audSeg: Option[DataFrame],
      imgRows: Option[DataFrame], imgBlocks: Option[DataFrame],
      kfFrames: Option[DataFrame]) {
    def all: Seq[DataFrame] =
      Seq(b, imgFp, audFp, vFrames) ++ audSeg ++ imgRows ++ imgBlocks ++ kfFrames
  }

  private def deriveInputs(spark: SparkSession, batch: DataFrame,
      audioClipIdx: Option[String], imageCropIdx: Option[String],
      imageCrop2dIdx: Option[String],
      videoKeyframeIdx: Option[String], checkpointFps: Boolean): BatchInputs = {
    val b = batch.select(col("doc_id"), col("text")).localCheckpoint()
    def cp(df: DataFrame): DataFrame =
      if (checkpointFps) df.localCheckpoint() else df
    // one encode per modality: when a clip dial splits a modality into
    // two fingerprint passes, the encoded table is checkpointed so the
    // second pass reads materialized payloads instead of re-encoding.
    // The two encode checkpoints are independent jobs over the shared
    // batch — built concurrently (inParallel scaladoc).
    val imageTwoPasses = imageCropIdx.isDefined || imageCrop2dIdx.isDefined
    val tbls = inParallel(Seq(
      () => if (imageTwoPasses) Multimodal.imageTableOf(b).localCheckpoint()
            else Multimodal.imageTableOf(b),
      () => if (audioClipIdx.isDefined)
              Multimodal.audioTableOf(b).localCheckpoint()
            else Multimodal.audioTableOf(b)))
    val (imgTbl, audTbl) = (tbls(0), tbls(1))
    // the seven fingerprint/grid frames are mutually independent reads
    // of the materialized tables; when checkpointFps they each run an
    // eager materialization job, so they too build concurrently (lazy
    // mode only constructs plans — the pool is a no-op there)
    val fps = inParallel(Seq[() => Option[DataFrame]](
      () => Some(cp(Multimodal.imageDHash(imgTbl))),
      () => Some(cp(Multimodal.audioDHash(audTbl))),
      () => Some(cp(Multimodal.videoFramesFp(Multimodal.videoTableOf(b)))),
      // segment at the INDEX'S persisted hop (r15 ADVICE: a batch
      // segmented at a different hop than the index was built with has
      // incoherent shift semantics — the stored dial is authoritative)
      () => audioClipIdx.map(idx =>
        cp(VideoIndex.segmentsFor(spark, idx, audTbl))),
      () => imageCropIdx.map(_ =>
        cp(Multimodal.imageRowsFp(imgTbl))),
      // blocks derive at the INDEX'S persisted column hop (blocksFor —
      // the segmentsFor discipline on the 2D grid)
      () => imageCrop2dIdx.map(idx =>
        cp(VideoIndex.blocksFor(spark, idx, imgTbl))),
      // the REAL-CODEC video rendition: containers parsed + decoded
      // ONCE per batch, at the index's persisted sampling stride
      // (keyframesFor — the graft.every discipline)
      () => videoKeyframeIdx.map(idx =>
        cp(VideoIndex.keyframesFor(spark, idx,
          Multimodal.videoKeyframeTableOf(b))))))
    // materialized fingerprints no longer read the encode checkpoints
    if (checkpointFps)
      Checkpoints.release(Seq(imgTbl).filter(_ => imageTwoPasses) ++
        Seq(audTbl).filter(_ => audioClipIdx.isDefined): _*)
    BatchInputs(b,
      imgFp = fps(0).get,
      audFp = fps(1).get,
      vFrames = fps(2).get,
      audSeg = fps(3),
      imgRows = fps(4),
      imgBlocks = fps(5),
      kfFrames = fps(6))
  }

  /** Per-item admission flags, one row per batch doc:
    * (doc_id, admit_text, admit_image, admit_audio, admit_video, admit)
    * — admit_* ∈ {0, 1} (1 = no stored near-dup in that modality),
    * `admit` = the conjunction. Read-only: derives the batch's
    * renditions, runs the gates, mutates nothing.
    *
    * Clip dials (each a [[VideoIndex]]-family temporal index):
    *   - `audioClipIdx` folds EXCERPT refusal into the audio flag: an
    *     item embedding stored audio — invisible to the whole-stream
    *     fingerprint — refuses when ≥ [[Multimodal.MinFrames]] of its
    *     PCM segments match stored segments at one consistent offset.
    *   - `imageCropIdx` adds vertical-crop refusal to the image flag
    *     (raster rows, shift = vertical offset).
    *   - `imageCrop2dIdx` adds 2D (horizontal/general) crop refusal:
    *     8×1-px blocks at one consistent (row, col) packed shift —
    *     byte-exact by design (a block-aligned crop copies bytes).
    *   - `audioClipPerceptual` / `imageCropPerceptual` (r15 ADVICE,
    *     medium): choose each leg's match semantics independently,
    *     like the video leg's `videoPerceptual`. Default FALSE = the
    *     byte-exact clip gate — the measured ~1.6 % false-refusal rate
    *     of the shared-maxDist perceptual gate on genuinely novel
    *     items is a policy a caller must opt into, not inherit.
    *   - `videoKeyframeIdx` adds REAL-CODEC refusal to the video flag:
    *     the item's keyframe CONTAINER is parsed + decoded once (at
    *     the index's persisted `graft.every` stride) and the DECODED
    *     digests gate byte-exactly — a cross-codec re-wrap of stored
    *     material (every container byte different) refuses, a novel
    *     video admits. */
  def admitFlags(spark: SparkSession, batch: DataFrame, textIdx: String,
      imageIdx: String, audioIdx: String, videoIdx: String,
      maxDist: Int = 6, tau: Double = 0.8,
      videoPerceptual: Boolean = false,
      audioClipIdx: Option[String] = None,
      imageCropIdx: Option[String] = None,
      audioClipPerceptual: Boolean = false,
      imageCropPerceptual: Boolean = false,
      imageCrop2dIdx: Option[String] = None,
      videoKeyframeIdx: Option[String] = None,
      stopCache: Option[VideoIndex.StopCache] = None): DataFrame =
    flagsFrom(spark,
      deriveInputs(spark, batch, audioClipIdx, imageCropIdx,
        imageCrop2dIdx, videoKeyframeIdx, checkpointFps = false),
      textIdx, imageIdx, audioIdx, videoIdx, maxDist, tau,
      videoPerceptual, audioClipIdx, imageCropIdx, audioClipPerceptual,
      imageCropPerceptual, imageCrop2dIdx, videoKeyframeIdx, stopCache)

  private def flagsFrom(spark: SparkSession, in: BatchInputs,
      textIdx: String, imageIdx: String, audioIdx: String,
      videoIdx: String, maxDist: Int, tau: Double,
      videoPerceptual: Boolean, audioClipIdx: Option[String],
      imageCropIdx: Option[String], audioClipPerceptual: Boolean,
      imageCropPerceptual: Boolean,
      imageCrop2dIdx: Option[String],
      videoKeyframeIdx: Option[String],
      stopCache: Option[VideoIndex.StopCache] = None): DataFrame = {
    val ids = in.b.select(col("doc_id"))
    // the temporal legs' refusal sets: each leg picks its match by ITS
    // OWN toggle (byte-exact unless the caller opts into the perceptual
    // regime); aligned legs refuse whole copies, shift-tolerant ones
    // clips and crops
    def refused(idx: String, rows: DataFrame, perceptual: Boolean,
        shifts: Boolean): DataFrame = {
      val m = if (perceptual) Multimodal.Perceptual(maxDist)
        else Multimodal.Exact
      VideoIndex.pairsAgainst(spark, idx, rows, m, shifts,
        stopCache.map(_.get(VideoIndex.stopTable(idx, m))))
        .select(col("fid").as("doc_id")).distinct()
    }
    // the up-to-eight gate legs are independent read-only plans over the
    // shared checkpointed inputs, each eagerly materializing its own
    // broadcast fresh side — built concurrently (inParallel scaladoc);
    // the flags composition below consumes the identical frames
    val legs = inParallel(Seq[() => Option[DataFrame]](
      () => Some(DedupIndex.dedupAgainst(spark, textIdx, in.b, "text",
        "doc_id", tau = tau).select(col("doc_id"))),
      () => Some(MediaIndex.dedupAgainst(spark, imageIdx, in.imgFp, maxDist)
        .select(col("media_id").as("doc_id"))),
      () => Some(MediaIndex.dedupAgainst(spark, audioIdx, in.audFp, maxDist)
        .select(col("media_id").as("doc_id"))),
      // refusal-set formulation so a frameless (empty) video admits —
      // nothing to dedup is not a dup. `videoPerceptual` swaps the video
      // leg's match semantics from byte-exact frame digests to the
      // banded perceptual fingerprints (a TRANSCODED copy of stored
      // video then refuses too — the curation default at real crawl
      // scale; the registered q_crawl_admit keeps the byte-exact leg its
      // oracle replays)
      () => Some(refused(videoIdx, in.vFrames, videoPerceptual,
        shifts = false)),
      // `imageCropIdx` adds CROP refusal to the image leg (the
      // audioClipIdx discipline over raster rows): a batch item that is
      // a vertical crop / banner edit of stored material slips the
      // whole-image fingerprint but its rows match the stored row index
      // at one consistent vertical offset. `imageCrop2dIdx` closes the
      // horizontal/general regime over 8×1 blocks at one consistent
      // packed (row, col) shift.
      () => (imageCropIdx zip in.imgRows).map { case (idx, rw) =>
        refused(idx, rw, imageCropPerceptual, shifts = true) },
      () => (imageCrop2dIdx zip in.imgBlocks).map { case (idx, bl) =>
        refused(idx, bl, perceptual = false, shifts = true) },
      // `audioClipIdx` adds EXCERPT refusal to the audio leg: the
      // whole-stream fingerprint is blind to stored material embedded in
      // (or lifted from) a batch item — every envelope window moves —
      // but the segment grid matches the stored index at a consistent
      // offset (the index is modality-agnostic over temporal rows;
      // `audioClipPerceptual` additionally catches a re-MASTERED excerpt)
      () => (audioClipIdx zip in.audSeg).map { case (idx, seg) =>
        refused(idx, seg, audioClipPerceptual, shifts = true) },
      // `videoKeyframeIdx` adds real-codec refusal: the decoded-keyframe
      // digests gate byte-exactly against the stored keyframe index (the
      // aligned pairsAgainst — md5 of decoded bytes is codec-independent,
      // so a PNG→BMP re-wrap of stored material refuses here while both
      // synthetic-frame legs, reading container bytes, are blind to it)
      () => (videoKeyframeIdx zip in.kfFrames).map { case (idx, kf) =>
        refused(idx, kf, perceptual = false, shifts = false) }))
    val textAdm = legs(0).get
    val imgAdm0 = legs(1).get
    val audAdm0 = legs(2).get
    val vidRefused0 = legs(3).get
    val imgRefusals = legs(4).toSeq ++ legs(5).toSeq
    val audClipRefused = legs(6)
    val imgAdm = imgRefusals.foldLeft(imgAdm0)((adm, r) =>
      adm.join(r, Seq("doc_id"), "left_anti"))
    val audAdm = audClipRefused.fold(audAdm0)(r =>
      audAdm0.join(r, Seq("doc_id"), "left_anti"))
    val vidRefused = legs(7)
      .fold(vidRefused0)(kfRefused => vidRefused0.unionByName(kfRefused))
    def flag(admitted: DataFrame, name: String): DataFrame =
      admitted.withColumn(name, lit(1L))
    ids
      .join(flag(textAdm, "admit_text"), Seq("doc_id"), "left")
      .join(flag(imgAdm, "admit_image"), Seq("doc_id"), "left")
      .join(flag(audAdm, "admit_audio"), Seq("doc_id"), "left")
      .join(flag(ids.join(vidRefused, Seq("doc_id"), "left_anti"),
        "admit_video"), Seq("doc_id"), "left")
      .na.fill(0L, Seq("admit_text", "admit_image", "admit_audio",
        "admit_video"))
      .withColumn("admit",
        (col("admit_text") * col("admit_image") * col("admit_audio")
          * col("admit_video")).cast("long"))
  }

  /** [[admitFlags]] + per-family ingest of each modality's admitted
    * rows ([[graft.streaming.Streams]]' materialize-before-append
    * discipline: the flags frame is checkpointed before any append so
    * a gate never reads its own inserts). The batch's fingerprints are
    * derived ONCE and shared between gating and appending — no payload
    * is encoded or decoded twice. Once the appends ran, every
    * checkpoint of the batch's inputs and gates is released. Returns
    * the flags, materialized: the caller releases them. */
  def admitBatch(spark: SparkSession, batch: DataFrame, textIdx: String,
      imageIdx: String, audioIdx: String, videoIdx: String,
      maxDist: Int = 6, tau: Double = 0.8,
      videoPerceptual: Boolean = false,
      audioClipIdx: Option[String] = None,
      imageCropIdx: Option[String] = None,
      audioClipPerceptual: Boolean = false,
      imageCropPerceptual: Boolean = false,
      imageCrop2dIdx: Option[String] = None,
      videoKeyframeIdx: Option[String] = None,
      stopCache: Option[VideoIndex.StopCache] = None): DataFrame = {
    val in = deriveInputs(spark, batch, audioClipIdx, imageCropIdx,
      imageCrop2dIdx, videoKeyframeIdx, checkpointFps = true)
    val gated = flagsFrom(spark, in, textIdx,
      imageIdx, audioIdx, videoIdx, maxDist, tau,
      videoPerceptual, audioClipIdx, imageCropIdx, audioClipPerceptual,
      imageCropPerceptual, imageCrop2dIdx, videoKeyframeIdx, stopCache)
    val flags = gated.localCheckpoint()
    def adm(c: String): DataFrame =
      flags.where(col(c) === 1L).select(col("doc_id"))
    DedupIndex.append(spark, textIdx,
      in.b.join(adm("admit_text"), Seq("doc_id")), "text", "doc_id")
    MediaIndex.append(spark, imageIdx, in.imgFp.join(
      adm("admit_image").withColumnRenamed("doc_id", "media_id"),
      Seq("media_id")))
    MediaIndex.append(spark, audioIdx, in.audFp.join(
      adm("admit_audio").withColumnRenamed("doc_id", "media_id"),
      Seq("media_id")))
    // each temporal-index append reports whether rows actually landed:
    // only then did refreshStop rewrite the sidecars, so only then does
    // the loop's StopCache entry go stale (an empty append leaves both
    // untouched — the cache survives a nothing-admitted batch)
    def appendAndInvalidate(idx: String, frames: DataFrame): Unit =
      if (VideoIndex.append(spark, idx, frames))
        stopCache.foreach(_.invalidate(idx))
    appendAndInvalidate(videoIdx, in.vFrames.join(
      adm("admit_video").withColumnRenamed("doc_id", "media_id"),
      Seq("media_id")))
    // the excerpt index ingests the audio-admitted items' segments so
    // the next batch's excerpt gate sees corpus ∪ admitted
    (audioClipIdx zip in.audSeg).foreach { case (idx, seg) =>
      appendAndInvalidate(idx, seg.join(
        adm("admit_audio").withColumnRenamed("doc_id", "media_id"),
        Seq("media_id")))
    }
    // likewise the crop indexes ingest the image-admitted items' grids
    ((imageCropIdx zip in.imgRows) ++ (imageCrop2dIdx zip in.imgBlocks))
      .foreach { case (idx, grid) =>
        appendAndInvalidate(idx, grid.join(
          adm("admit_image").withColumnRenamed("doc_id", "media_id"),
          Seq("media_id")))
      }
    // and the keyframe index ingests the video-admitted items' DECODED
    // digests (containers were parsed once in deriveInputs) so the
    // next batch's real-codec gate sees corpus ∪ admitted
    (videoKeyframeIdx zip in.kfFrames).foreach { case (idx, kf) =>
      appendAndInvalidate(idx, kf.join(
        adm("admit_video").withColumnRenamed("doc_id", "media_id"),
        Seq("media_id")))
    }
    // every append ran: the inputs and every checkpoint in the gate's
    // plan are dead (the Streams.appendGated discipline). The temporal
    // gates read their fresh frames only behind their own checkpoints,
    // so the inputs are released by name; the StopCache frames sit
    // behind those checkpoints too, out of reach.
    Checkpoints.release(gated +: in.all: _*)
    flags
  }
}
