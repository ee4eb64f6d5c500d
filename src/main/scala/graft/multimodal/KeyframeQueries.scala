package graft.multimodal

import graft.Q

/** REAL-CODEC keyframe queries — the video-ingest regime where payloads
  * arrive as containers of actual image keyframes and every fingerprint
  * reads what the codec DECODED (split out of [[MultimodalQueries]] in
  * round 17; same registry contract). Aligned dedup, shift-tolerant
  * clip detection, the perceptual (lossy-transcode) leg and its crawl
  * gate, plus the stored twins served from the persisted
  * [[graft.sources.VideoIndex]] rows. */
object KeyframeQueries {

  private val live: Seq[Q] = Seq(

    // REAL-CODEC keyframe dedup — the ingest regime the synthetic
    // 32-byte-frame container can't express: videos arrive as
    // containers of ACTUAL image keyframes (javax.imageio PNG/BMP),
    // the ingest parses the container, decodes every 2nd keyframe and
    // fingerprints the DECODED raster — so a cross-codec re-wrap
    // (identical keyframes re-encoded PNG → BMP: every container byte
    // differs) is caught as the verbatim dup it is. The pair stage is
    // the aligned exact framePairs over the decoded-keyframe digests —
    // unchanged machinery, new ingest seam. Oracle: the decoded
    // keyframe IS its 96-byte payload slice (exact 2-row rasters, both
    // codecs lossless), so the replay joins hex slices — no codec in
    // DuckDB, which is exactly the point of fingerprinting decoded
    // bytes.
    Q("q_video_keyframe_dedup",
      (s, d) => Multimodal.framePairs(
        Multimodal.videoKeyframesFp(
          Multimodal.videoKeyframeTable(s, d)
            .unionByName(Multimodal.videoKeyframeTwinTable(s, d))),
        Multimodal.Exact, shifts = false, materializeFrames = true),
      Some("""WITH m AS (
                SELECT doc_id AS media_id, hex(encode(text)) AS h,
                       octet_length(encode(text)) AS n
                FROM documents
                UNION ALL
                SELECT doc_id + 9000000, hex(encode(text)),
                       octet_length(encode(text))
                FROM documents
                WHERE doc_id % 4 = 1 AND octet_length(encode(text)) >= 288),
              kf AS (
                SELECT media_id, h, unnest(range(0, n // 96)) AS seg
                FROM m),
              sk AS (
                SELECT media_id, seg,
                       substring(h, CAST(seg * 192 + 1 AS BIGINT), 192) AS k
                FROM kf WHERE seg % 2 = 0),
              stop AS (
                SELECT k FROM sk
                GROUP BY 1 HAVING count(DISTINCT media_id) > 10000),
              skx AS (
                SELECT media_id, seg, k FROM sk
                WHERE NOT EXISTS (SELECT 1 FROM stop s WHERE s.k = sk.k))
              SELECT a.media_id AS da, b.media_id AS db,
                     CAST(count(*) AS BIGINT) AS matched_frames
              FROM skx a JOIN skx b
                ON a.seg = b.seg AND a.k = b.k
               AND a.media_id < b.media_id
              GROUP BY 1, 2 HAVING count(*) >= 2""")),

    // RE-CUT keyframe videos — shift-tolerant clip detection over the
    // DECODED-keyframe digests: a container starting two keyframes in
    // (one sampled stride) is refused by the aligned keyframe dedup
    // and found here at the consistent shift +2 — the video clip
    // machinery riding the real-codec ingest unchanged.
    Q("q_video_keyframe_clip",
      (s, d) => Multimodal.framePairs(
        Multimodal.videoKeyframesFp(
          Multimodal.videoKeyframeTable(s, d)
            .unionByName(Multimodal.videoKeyframeClipTwinTable(s, d))),
        Multimodal.Exact, shifts = true, materializeFrames = true),
      Some("""WITH m AS (
                SELECT doc_id AS media_id, hex(encode(text)) AS h,
                       octet_length(encode(text)) AS n, 0 AS off
                FROM documents
                UNION ALL
                SELECT doc_id + 9500000, hex(encode(text)),
                       octet_length(encode(text)) - 192, 384
                FROM documents
                WHERE doc_id % 4 = 1 AND octet_length(encode(text)) >= 480),
              kf AS (
                SELECT media_id, h, off, unnest(range(0, n // 96)) AS seg
                FROM m),
              sk AS (
                SELECT media_id, seg,
                       substring(h, CAST(off + seg * 192 + 1 AS BIGINT),
                         192) AS k
                FROM kf WHERE seg % 2 = 0),
              stop AS (
                SELECT k FROM sk
                GROUP BY 1 HAVING count(DISTINCT media_id) > 10000),
              skx AS (
                SELECT media_id, seg, k FROM sk
                WHERE NOT EXISTS (SELECT 1 FROM stop s WHERE s.k = sk.k))
              SELECT a.media_id AS da, b.media_id AS db,
                     CAST(a.seg - b.seg AS BIGINT) AS shift,
                     CAST(count(*) AS BIGINT) AS matched_frames
              FROM skx a JOIN skx b
                ON a.k = b.k AND a.media_id < b.media_id
              GROUP BY 1, 2, 3 HAVING count(*) >= 2""")),

    // LOSSY-TRANSCODE keyframe dedup — the perceptual keyframe leg
    // (r16 verdict "what's missing" #2: both registered keyframe
    // codecs were lossless, so only the byte-exact leg was exercised).
    // The gain twin's every decoded keyframe differs by +1/byte (every
    // md5 differs — the byte-exact leg is blind, MultimodalSpec pins
    // it) yet fingerprints at distance 0; the quantized twin (low 2
    // bits dropped — the JPEG-shaped transcode) matches where its
    // gradient survived within maxDist and honestly doesn't where it
    // didn't — the oracle replays the identical byte math either way.
    Q("q_video_keyframe_perceptual",
      (s, d) => Multimodal.framePairs(
        Multimodal.videoKeyframesFp(
          Multimodal.videoKeyframeTable(s, d)
            .unionByName(Multimodal.videoKeyframePerceptualTwinTable(s, d))),
        Multimodal.Perceptual(), shifts = false),
      Some(kfPercCte("") +
        """cand AS (
                SELECT DISTINCT a.media_id AS da, b.media_id AS db,
                       a.frame_idx
                FROM bandx a JOIN bandx b
                  ON a.frame_idx = b.frame_idx AND a.bi = b.bi
                 AND a.bv = b.bv AND a.media_id < b.media_id
                WHERE NOT EXISTS (SELECT 1 FROM bstop s
                                  WHERE s.bi = a.bi AND s.bv = a.bv)),
              pm AS (
                SELECT c.da, c.db, c.frame_idx
                FROM cand c
                JOIN vfp a ON a.media_id = c.da AND a.frame_idx = c.frame_idx
                JOIN vfp b ON b.media_id = c.db AND b.frame_idx = c.frame_idx
                WHERE bit_count(xor(a.lo, b.lo))
                    + bit_count(xor(a.hi, b.hi)) <= 6)
              SELECT da, db, CAST(count(*) AS BIGINT) AS matched_frames
              FROM pm GROUP BY 1, 2 HAVING count(*) >= 2""")),

    // the perceptual keyframe CRAWL GATE: both lossy twins arrive fresh
    // against the corpus-only stored keyframe index — the aligned perceptual
    // VideoIndex.pairsAgainst over rows decoded at the index's persisted
    // stride (keyframesFor), band stop from the corpus side only, exactly as
    // the _bstop sidecar derives it.
    Q("q_video_keyframe_perceptual_against",
      (s, d) => graft.sources.VideoIndex.pairsAgainst(s,
        graft.sources.VideoIndex.ensureBuiltVideoKeyframesCorpus(s, d),
        graft.sources.VideoIndex.keyframesFor(s,
          graft.sources.VideoIndex.ensureBuiltVideoKeyframesCorpus(s, d),
          Multimodal.videoKeyframePerceptualTwinTable(s, d)),
        Multimodal.Perceptual(), shifts = false),
      Some(kfPercCte("WHERE media_id < 9700000") +
        """cand AS (
                SELECT DISTINCT b.media_id AS fid, a.media_id AS cid,
                       a.frame_idx
                FROM bandx a JOIN bandx b
                  ON a.frame_idx = b.frame_idx AND a.bi = b.bi
                 AND a.bv = b.bv
                 AND a.media_id < 9700000 AND b.media_id >= 9700000
                WHERE NOT EXISTS (SELECT 1 FROM bstop s
                                  WHERE s.bi = a.bi AND s.bv = a.bv)),
              pm AS (
                SELECT c.fid, c.cid, c.frame_idx
                FROM cand c
                JOIN vfp a ON a.media_id = c.cid AND a.frame_idx = c.frame_idx
                JOIN vfp b ON b.media_id = c.fid AND b.frame_idx = c.frame_idx
                WHERE bit_count(xor(a.lo, b.lo))
                    + bit_count(xor(a.hi, b.hi)) <= 6)
              SELECT fid, cid, CAST(count(*) AS BIGINT) AS matched_frames
              FROM pm GROUP BY 1, 2 HAVING count(*) >= 2"""))
  )

  /** The KEYFRAME perceptual replay (q_video_keyframe_perceptual*):
    * corpus ∪ the lossy-transcode twins (gain +9.7M: every byte +1 mod
    * 256; quant +9.8M: low 2 bits dropped — both applied to the
    * payload BEFORE the real-codec encode, so the decoded raster the
    * live side fingerprints IS the transformed 96-byte slice). Every
    * 2nd keyframe sampled (the persisted `graft.every` stride), fb =
    * 96: gradient bits j<32 read consecutive bytes with NO wraparound
    * (position 32 exists in a 96-byte slice) and the mean runs over
    * all 96 bytes. Fingerprints land in `vfp` (media_id, frame_idx,
    * lo, hi), bands in `bandx`, the video-df band stop (scoped by
    * `stopWhere` — corpus-only for the gate) in `bstop`; callers
    * append the candidate/verify/count SELECTs. */
  private def kfPercCte(stopWhere: String): String =
    s"""WITH m AS (
                SELECT doc_id AS media_id, hex(encode(text)) AS h,
                       octet_length(encode(text)) AS n, 0 AS delta
                FROM documents
                UNION ALL
                SELECT doc_id + 9700000, hex(encode(text)),
                       octet_length(encode(text)), 1
                FROM documents
                WHERE doc_id % 4 = 1 AND octet_length(encode(text)) >= 288
                UNION ALL
                SELECT doc_id + 9800000, hex(encode(text)),
                       octet_length(encode(text)), 2
                FROM documents
                WHERE doc_id % 4 = 1
                  AND octet_length(encode(text)) >= 288),
              kfs AS (
                SELECT media_id, h, delta,
                       unnest(range(0, n // 96)) AS seg
                FROM m),
              kpos AS (
                SELECT media_id, seg, delta, h,
                       unnest(range(0, 96)) AS j
                FROM kfs WHERE seg % 2 = 0),
              sb AS (
                SELECT media_id, seg, j,
                       CASE WHEN delta = 1 THEN (raw + 1) % 256
                            WHEN delta = 2 THEN (raw // 4) * 4
                            ELSE raw END AS byte
                FROM (
                  SELECT media_id, seg, delta, j,
                         16 * (strpos('0123456789ABCDEF',
                                 substring(h,
                                   CAST(seg * 192 + 2*j + 1 AS BIGINT),
                                   1)) - 1)
                           + (strpos('0123456789ABCDEF',
                                 substring(h,
                                   CAST(seg * 192 + 2*j + 2 AS BIGINT),
                                   1)) - 1) AS raw
                  FROM kpos)),
              mn AS (
                SELECT media_id, seg, sum(byte) // 96 AS mean
                FROM sb GROUP BY 1, 2),
              glo AS (
                SELECT a.media_id, a.seg,
                       CAST(sum(CASE WHEN b.byte > a.byte
                         THEN (CAST(1 AS BIGINT) << CAST(a.j AS INT))
                         ELSE 0 END) AS BIGINT) AS lo
                FROM sb a JOIN sb b
                  ON a.media_id = b.media_id AND a.seg = b.seg
                 AND b.j = a.j + 1
                WHERE a.j < 32
                GROUP BY 1, 2),
              ghi AS (
                SELECT sb.media_id, sb.seg,
                       CAST(sum(CASE WHEN sb.byte > mn.mean
                         THEN (CAST(1 AS BIGINT) << CAST(sb.j AS INT))
                         ELSE 0 END) AS BIGINT) AS hi
                FROM sb JOIN mn
                  ON sb.media_id = mn.media_id AND sb.seg = mn.seg
                WHERE sb.j < 32
                GROUP BY 1, 2),
              vfp AS (
                SELECT glo.media_id, glo.seg AS frame_idx, glo.lo, ghi.hi
                FROM glo JOIN ghi
                  ON glo.media_id = ghi.media_id AND glo.seg = ghi.seg),
              bandx AS (
                SELECT media_id, frame_idx, 0 AS bi, lo % 65536 AS bv
                FROM vfp
                UNION ALL
                SELECT media_id, frame_idx, 1, lo // 65536 FROM vfp
                UNION ALL
                SELECT media_id, frame_idx, 2, hi % 65536 FROM vfp
                UNION ALL
                SELECT media_id, frame_idx, 3, hi // 65536 FROM vfp),
              bstop AS (
                SELECT bi, bv FROM bandx $stopWhere
                GROUP BY 1, 2 HAVING count(DISTINCT media_id) > 10000),
              """

  val all: Seq[Q] = live ++ Seq(
    // keyframe dedup served from the persisted decoded-keyframe
    // digests: the container parse + imageio decode ran ONCE at build;
    // the serve never opens a container. Live oracle verbatim.
    Q("q_video_keyframe_dedup_stored",
      (s, d) => graft.sources.VideoIndex.pairs(s,
        graft.sources.VideoIndex.ensureBuiltVideoKeyframes(s, d)),
      live.find(_.name == "q_video_keyframe_dedup").get.oracle),
    // keyframe CLIP detection served from the persisted decoded-
    // keyframe digests (corpus ∪ re-cut twin) — the container parse +
    // decode the live row re-pays per run happens once at build; live
    // oracle verbatim.
    Q("q_video_keyframe_clip_stored",
      (s, d) => graft.sources.VideoIndex.pairs(s,
        graft.sources.VideoIndex.ensureBuiltVideoKeyframesClip(s, d),
        Multimodal.Exact, shifts = true),
      live.find(_.name == "q_video_keyframe_clip").get.oracle),
    // perceptual keyframe dedup served from the persisted 5-column
    // decoded-keyframe rows (corpus ∪ lossy twins): container parse +
    // imageio decode + fingerprinting ran once at build, the
    // perceptual stage is a pure function of the stored rows (with the
    // persisted maxDf dial + `_bstop` sidecar). Live oracle verbatim.
    Q("q_video_keyframe_perceptual_stored",
      (s, d) => graft.sources.VideoIndex.pairs(s,
        graft.sources.VideoIndex.ensureBuiltVideoKeyframesPerc(s, d),
        Multimodal.Perceptual()),
      live.find(_.name == "q_video_keyframe_perceptual").get.oracle))
}
