package graft.plans

import org.apache.spark.graftbridge.StoredBlocks
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.StorageLevel

/** The materialization boundary every query plan in graft uses: a local
  * checkpoint with SERIALIZED storage. Each call site states why it needs
  * a boundary (shared subtree, lineage truncation, a dedicated job); this
  * object holds what they all have in common.
  *
  * Why a checkpoint and not `cache()`: a cache registers in the
  * CacheManager keyed by the logical plan, so a later run of the same
  * query silently reuses its result, and it pins executor memory until an
  * explicit unpersist. It also leaves the full upstream lineage in every
  * consumer's plan string, which AQE re-renders on each plan update. A
  * checkpoint is fresh per call and truncates the lineage.
  *
  * Why serialized: the default level keeps block rows as deserialized JVM
  * objects, whose true footprint Spark's SizeEstimator undercounts badly
  * for nested-array payloads (shape points, hop edge lists). A heavy
  * checkpoint can then fill an executor's old generation while the memory
  * manager believes it is under budget (measured: a permanent full-GC
  * spiral, 3-4 full GCs/s, solver threads at 10% of a core). Serialized
  * blocks are one byte[] per block: exactly accounted, GC-opaque,
  * spillable.
  *
  * Who frees the blocks: the ContextCleaner, once the checkpointed
  * Dataset is unreachable. `Dataset.unpersist` does not (the CacheManager
  * does not track checkpoint blocks). `ConnectedComponents` frees its own
  * blocks because it creates O(rounds) boundaries inside one query.
  *
  * The plan below a boundary is planned in the checkpoint's own SQL
  * execution, so the static plan of a consumer shows only an ExistingRDD
  * scan; `ExecutedPlans` captures the plans that ran. */
object Boundary {

  /** Materialized at the call by a dedicated job. */
  def eager[T](ds: Dataset[T]): Dataset[T] =
    ds.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)

  /** Defers only the FINAL stage. Under AQE, `Dataset.checkpoint` executes
    * the physical plan at the call (inside `withAction`, traced as a
    * `localCheckpoint` action): every shuffle and broadcast stage of the
    * plan runs right there, as jobs of their own. The first consuming
    * action folds in the last stage: it computes and stores the blocks,
    * which every later reference reads. This saves the one result job an
    * eager boundary runs.
    *
    * Safe when the consumers run sequentially on the driver. Two actions
    * racing to the same unstored boundary would each compute the final
    * stage, and could see different rows if it is not deterministic. */
  def deferred[T](ds: Dataset[T]): Dataset[T] =
    ds.localCheckpoint(false, StorageLevel.MEMORY_AND_DISK_SER)

  /** The RDD a boundary persisted, or None if `ds` is not a boundary.
    * `Dataset.unpersist` goes through the CacheManager, which does not
    * track checkpoint blocks: freeing them, or reading what is stored,
    * needs the LogicalRDD's own RDD. */
  def checkpointRdd(ds: Dataset[_]): Option[RDD[_]] =
    ds.queryExecution.logical match {
      case l: LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** Final presentation sort of a query result.
    *
    * A plain `orderBy` plans a range exchange, and its RangePartitioner
    * runs a job of its own that samples the child for the partition
    * bounds. A child with no boundary below it then executes twice, once
    * for the sample and once for the sort's shuffle (measured ~2x wall on
    * the scan-rooted catalog queries; on q_dist_join a plain orderBy took
    * 0.87 s, a deferred boundary before it 0.63 s).
    *
    * Here the result is materialized first, and its stored size picks the
    * sort's partition count: one per advisory partition size
    * (`spark.sql.adaptive.advisoryPartitionSizeInBytes`, the size AQE
    * coalesces the sorted output to anyway). A result that fits in one
    * coalesces to a single partition, which already satisfies the sort's
    * ordered distribution: no exchange and no sampling job, so the sort
    * costs the boundary's job and the result job instead of a sampling
    * job, a range-shuffle map stage and the result job. A larger result
    * gets the range sort, whose sampling pass reads the stored blocks.
    * The size is read from the block manager master, never from the
    * listener-fed storage status, which can lag and read 0 bytes. */
  def sorted(df: DataFrame, cols: Column*): DataFrame = {
    val m = eager(df)
    val bytes = StoredBlocks(checkpointRdd(m).get).values.sum
    val advisory =
      m.sparkSession.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    m.coalesce(math.max(1L, (bytes + advisory - 1) / advisory).toInt).orderBy(cols: _*)
  }
}
