package org.apache.spark.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.storage.RDDBlockId

/** The stored blocks of one persisted RDD, as the block manager master
  * records them. A block manager reports each block to the master with a
  * synchronous call before the task that stored it ends, so once an action
  * over the RDD has returned, the master holds every block that action
  * stored. (`SparkContext.getRDDStorageInfo` reads the listener-fed status
  * store instead, which can lag the job's end.) The master is private to
  * Spark, hence this package. */
object StoredBlocks {

  /** partition index -> stored bytes (memory plus disk, over all block
    * managers) of every stored block of `rdd` */
  def apply(rdd: RDD[_]): Map[Int, Long] = {
    val id = rdd.id
    rdd.sparkContext.env.blockManager.master.getStorageStatus.toSeq
      .flatMap(_.rddBlocks.collect {
        case (RDDBlockId(`id`, split), st) => split -> (st.memSize + st.diskSize)
      })
      .groupMapReduce(_._1)(_._2)(_ + _)
  }
}
