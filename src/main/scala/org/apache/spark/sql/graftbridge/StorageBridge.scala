package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.RDDBlockId

/** Bridge into the `private[spark]` block-manager surface, for the cached
  * batches the log and the db hand to their readers. */
object StorageBridge {
  /** Bytes cached for `rdd`, in memory and on disk, as the driver's block
    * manager master knows them: no job, and exact as soon as the job that
    * cached them has ended. `SparkContext.getRDDStorageInfo` reads the
    * status store instead, which a listener fills asynchronously and at
    * most once per live-update period per RDD, so right after that job it
    * can still miss blocks. */
  def cachedBytes(rdd: RDD[_]): Long =
    SparkEnv.get.blockManager.master.getStorageStatus.iterator
      .flatMap(_.rddBlocks.iterator)
      .collect { case (RDDBlockId(id, _), b) if id == rdd.id => b.memSize + b.diskSize }
      .sum

  /** Drop `rdd`'s cached blocks now. `RDD.unpersist` does the same but
    * warns on a locally checkpointed RDD, whose release is the point
    * here. */
  def release(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** The schema Spark's file sources read `s` back as: every field,
    * element and map value nullable. */
  def asRead(s: StructType): StructType = s.asNullable
}
