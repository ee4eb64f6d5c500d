package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one top-k tail of the ranked families (kNN, IVF serving, BM25,
  * TF-IDF, hybrid retrieval): each family generates and scores its
  * candidates, then keeps the best k per key here. */
object TopK {

  /** The first `k` rows of each `key` group of `scored` in `order`,
    * numbered 1..k in a long column `rn` appended to the frame. One
    * window: every scored row is exchanged by key and sorted within its
    * group. */
  def perKey(scored: DataFrame, key: String, k: Int,
      order: Column*): DataFrame =
    scored
      .withColumn("rn",
        row_number().over(Window.partitionBy(col(key)).orderBy(order: _*)))
      .where(col("rn") <= k)
      .withColumn("rn", col("rn").cast("long"))
}
