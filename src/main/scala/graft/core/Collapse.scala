package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The member expansion behind every exact-content collapse (text
  * digests, media fingerprints, frame-sequence digests): a pair stage
  * runs on one representative per group of identical content, and the
  * full pair list comes back here by row generation. */
object Collapse {

  /** Reconstitute the FULL pair list from representative pairs: every
    * rep pair (da, db, score…) expands across both groups' member lists
    * (`members` is (rep, id)); a score is a pure function of the content,
    * so members inherit it verbatim. A `shift` column is antisymmetric
    * (first − second), so its sign flips when the member order swaps the
    * pair. Within a group, every member pair (da < db) takes each of its
    * rep's `intraScores` rows (rep, score…): none for a group the
    * uncollapsed stage would not self-pair, one for a fixed
    * identical-content score, several for a self-correlation histogram.
    * The expansion is O(answer); the verification upstream stays
    * O(distinct content). */
  def expandThroughDigests(repPairs: DataFrame, members: DataFrame,
      intraScores: DataFrame): DataFrame = {
    val carried = repPairs.columns.filterNot(Set("da", "db")).map {
      case "shift" =>
        when(col("ia") < col("ib"), col("shift")).otherwise(-col("shift"))
          .as("shift")
      case c => col(c)
    }
    val cross = repPairs
      .join(members.select(col("rep").as("da"), col("id").as("ia")), "da")
      .join(members.select(col("rep").as("db"), col("id").as("ib")), "db")
      .select(least(col("ia"), col("ib")).as("da") +:
        greatest(col("ia"), col("ib")).as("db") +: carried: _*)
    val intra = members.select(col("rep"), col("id").as("ia"))
      .join(members.select(col("rep"), col("id").as("ib")), "rep")
      .where(col("ia") < col("ib"))
      .join(intraScores, "rep")
      .select(col("ia").as("da") +: col("ib").as("db") +:
        intraScores.columns.filterNot(_ == "rep").map(col): _*)
    cross.unionByName(intra)
  }
}
