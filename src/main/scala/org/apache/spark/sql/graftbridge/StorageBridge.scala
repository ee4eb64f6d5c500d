package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.{RDDBlockId, RDDInfo}

/** Bridge to the block-manager master, which Spark keeps
  * package-private. `SparkContext.getRDDStorageInfo` reads the status
  * store that the async listener bus fills in, so right after a job
  * caches an RDD its report can be missing or partial; a block manager
  * reports each block to the master before the task that stored it
  * ends. Same placement rationale as [[ColumnBridge]]. */
object StorageBridge {

  /** `rdd`'s storage report from the block-manager master: its cached
    * partitions and their memory and disk bytes. Complete once the job
    * that cached them has returned. */
  def report(rdd: RDD[_]): RDDInfo = {
    val info = RDDInfo.fromRdd(rdd)
    val blocks = SparkEnv.get.blockManager.master.getStorageStatus.toSeq
      .flatMap(_.rddBlocks).collect { case (RDDBlockId(id, p), s) if id == rdd.id => (p, s) }
    info.numCachedPartitions = blocks.map(_._1).distinct.size
    info.memSize = blocks.map(_._2.memSize).sum
    info.diskSize = blocks.map(_._2.diskSize).sum
    info
  }
}
