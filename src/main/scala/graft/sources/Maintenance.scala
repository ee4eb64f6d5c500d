package graft.sources

import org.apache.spark.sql.SparkSession

/** ONE maintenance entry point across all five stored families (r14
  * verdict stretch #8) — the single call a deployment schedules per
  * window instead of five hand-wired ones:
  *
  *   census → decide → act, per family, in declaration order:
  *   - `ivf`: [[IvfIndex.maintain]] — occupancy-skew census, quantizer
  *     refresh when drifted, compaction (refresh always compacts);
  *   - `text` / `dedup`: fragmentation census over every table,
  *     compact exactly the ones over threshold
  *     ([[Compact.maintainTables]]);
  *   - `media`: the same, plus the band-stop sidecar re-derivation
  *     under the persisted dial when anything was rewritten;
  *   - `video`: the same, plus df-log collapse + stop/band-stop
  *     re-derivation.
  *
  * Each family lists its tables once (`tables(spark, name)`, a fixed
  * order); its `maintain`/`compact` and every stream-ingest refresh
  * read that list, and every family's `remove` is one
  * [[Compact.removeIds]] pass plus the family's own after-step. Every
  * compaction job is described `"compact <table>"`.
  *
  * Every per-family call is idempotent and answer-preserving (their
  * specs pin it), so the composed walk is too. A healthy family costs
  * one directory listing (+ one occupancy census for ivf) — the cheap
  * poll a scheduler can afford every window. Re-probe hooks
  * ([[IvfIndex.reprobeRecall]], [[MediaIndex.reprobeRecall]]) stay
  * explicit calls: they cost real compute and their dials
  * (recall targets) are deployment policy, not table health. */
object Maintenance {

  /** What one window did to one family. `refreshed` is the ivf
    * quantizer refresh (always false for the other kinds — their stop
    * sidecars re-derive whenever `compacted` is non-empty, which the
    * family maintain() guarantees). */
  final case class FamilyReport(kind: String, name: String,
      refreshed: Boolean, compacted: Map[String, (Long, Long)])

  /** Registered family kinds → their maintain dispatch. `video` is the
    * TEMPORAL-index kind: audio-segment and image-row indexes (the
    * [[VideoIndex]] family's other modalities) register under it — the
    * lifecycle is identical because the stored shape is. */
  val kinds: Set[String] = Set("ivf", "text", "dedup", "media", "video")

  def maintainAll(spark: SparkSession,
      families: Seq[(String, String)],
      maxFilesPerBucket: Double = 4.0,
      maxOverMean: Double = 8.0): Seq[FamilyReport] =
    families.map { case (kind, name) =>
      kind match {
        case "ivf" =>
          val m = IvfIndex.maintain(spark, name, maxOverMean,
            maxFilesPerBucket = maxFilesPerBucket)
          FamilyReport(kind, name, m.refreshed, m.files)
        case "text" =>
          FamilyReport(kind, name, refreshed = false,
            TextIndex.maintain(spark, name, maxFilesPerBucket))
        case "dedup" =>
          FamilyReport(kind, name, refreshed = false,
            DedupIndex.maintain(spark, name, maxFilesPerBucket))
        case "media" =>
          FamilyReport(kind, name, refreshed = false,
            MediaIndex.maintain(spark, name, maxFilesPerBucket))
        case "video" =>
          FamilyReport(kind, name, refreshed = false,
            VideoIndex.maintain(spark, name, maxFilesPerBucket))
        case other =>
          throw new IllegalArgumentException(
            s"unknown stored-index family kind '$other' " +
              s"(known: ${kinds.mkString(", ")})")
      }
    }
}
