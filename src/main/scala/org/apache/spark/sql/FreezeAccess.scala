package org.apache.spark.sql

import org.apache.spark.SparkEnv
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId

/** The Spark internals [[graft.operators.Freeze]] uses: the block manager
  * master, the classic session and `Dataset.ofRows` are package-private.
  */
object FreezeAccess {

  /** Bytes (memory + disk) stored for a checkpointed frame's RDD, asked
    * of the driver's block manager master: no job, and exact once the
    * checkpoint's job is done (a task reports each block it stores
    * before it ends). `SparkContext.getRDDStorageInfo` reads the status
    * store instead, which the listener bus fills asynchronously.
    */
  def storedBytes(frozen: DataFrame): Long = {
    val id = logicalRdd(frozen).rdd.id
    SparkEnv.get.blockManager.master.getStorageStatus.iterator
      .flatMap(_.rddBlocks)
      .collect { case (RDDBlockId(`id`, _), s) => s.memSize + s.diskSize }
      .sum
  }

  /** `frozen` over the same RDD, reporting `sizeInBytes` as its size. */
  def withSize(frozen: DataFrame, sizeInBytes: BigInt): DataFrame = {
    val r = logicalRdd(frozen)
    val session = frozen.sparkSession.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(session,
      r.copy()(session, Some(Statistics(sizeInBytes)), Some(r.constraints)))
  }

  private def logicalRdd(frozen: DataFrame): LogicalRDD =
    frozen.queryExecution.logical.asInstanceOf[LogicalRDD]
}
