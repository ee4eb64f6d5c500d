package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions.col

/** Input parallelism for small frames (guide §2.5): a small corpus arrives
  * as ONE parquet split, so every per-row map stage over it — the codec
  * passes of `Multimodal`, the tokenize + shingle map of `Dedup` — runs as
  * a single task while the other cores idle.
  */
private[graft] object Spread {

  /** `df` hash-repartitioned on `key` into `defaultParallelism` partitions
    * when it has fewer — deterministic under task retry, and a no-op at
    * scale, where scan splits already outnumber the cores. The partition
    * count is probed only over a narrow plan: `df.rdd` under AQE eagerly
    * runs every shuffle already in the plan to finalize it, re-running the
    * upstream as a side effect, so a frame whose analyzed plan introduces
    * an exchange comes back unchanged. */
  def acrossCores(df: DataFrame, key: String): DataFrame =
    if (!narrow(df)) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions < target) df.repartition(target, col(key))
      else df
    }

  /** No exchange-introducing node in the analyzed plan. `Deduplicate`
    * (`distinct()`, `dropDuplicates`) becomes an `Aggregate` only in the
    * optimizer, so it is listed itself. */
  private def narrow(df: DataFrame): Boolean =
    !df.queryExecution.analyzed.exists {
      case _: RepartitionOperation | _: Join | _: Aggregate | _: Sort |
          _: Deduplicate | _: Window => true
      case _ => false
    }
}
