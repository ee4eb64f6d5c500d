package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Bridge to the `private[sql]` `internalCreateDataFrame`: a frame over
  * an RDD of Catalyst rows, with no external-row conversion per record.
  * Lets a map kernel that emits `InternalRow`s feed a DataFrame
  * aggregation directly. Same placement rationale as [[ColumnBridge]]:
  * subpackage of org.apache.spark.sql solely for access; no Spark
  * internals of its own. */
object RowsBridge {
  def frame(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)
}
