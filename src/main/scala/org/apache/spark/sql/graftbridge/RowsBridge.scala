package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** Bridge to the `private[sql]` row-level entry points: frames over
  * Catalyst rows and collects that return them, with no external-row
  * conversion per record. Lets a map kernel that emits `InternalRow`s
  * feed a DataFrame aggregation directly, and a driver-side kernel read
  * and return rows byte for byte. Same placement rationale as
  * [[ColumnBridge]]: subpackage of org.apache.spark.sql solely for
  * access; no Spark internals of its own. */
object RowsBridge {
  def frame(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** `df`'s rows as Catalyst rows, collected as `Dataset.collect` does
    * (one SQL execution; a local relation runs no Spark job). */
  def collect(df: DataFrame): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
  }

  /** A local frame over `rows` (a `LocalRelation`: reading it runs no
    * Spark job). */
  def local(spark: SparkSession, rows: Seq[InternalRow], schema: StructType): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}
