package graft.ext

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftStreamBridge, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** A local checkpoint with an owner. `df` reads the checkpointed
  * blocks; `free()` drops exactly those blocks and nothing else, so
  * concurrent checkpoints on the same session never touch each other.
  * An operator frees every pin it took except the ones backing the
  * frame it returns (those the ContextCleaner reclaims once the frame
  * is unreachable). Never persist() instead: the CacheManager matches
  * cached plans across invocations, which would let a later run of the
  * same query skip recomputing its inputs.
  */
final class Pin private (val df: DataFrame, private val rdd: RDD[InternalRow]) {

  def numPartitions: Int = rdd.getNumPartitions

  /** Unpersist this pin's blocks; `df` must not be read afterwards.
    * Idempotent.
    */
  def free(): Unit = rdd.unpersist(blocking = false)
}

object Pin {

  /** Checkpoint `df` (materialized now when `eager`, else by the first
    * action that reads it — the map stages of an adaptive plan still
    * run here, as in `Dataset.localCheckpoint(false)`). The pinned
    * relation reports the partitioning and ordering the plan really
    * produced: for an adaptive plan those of its FINAL physical plan,
    * so a pin keyed like a downstream join feeds that join without an
    * Exchange, with AQE left on.
    */
  def apply(df: DataFrame, eager: Boolean): Pin = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      val rdd = qe.toRdd.map(_.copy())
      rdd.localCheckpoint()
      try {
        if (eager) rdd.count()
        val plan = qe.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
          case p => p
        }
        // a join reports every side's partitioning; the first leaf is
        // enough (and keeps deep join chains from growing it)
        def leaf(p: Partitioning): Partitioning = p match {
          case c: PartitioningCollection => leaf(c.partitionings.head)
          case other => other
        }
        val optimized = qe.optimizedPlan
        val relation = LogicalRDD(qe.analyzed.output, rdd, leaf(plan.outputPartitioning),
          plan.outputOrdering, isStreaming = false)(
          df.sparkSession.asInstanceOf[classic.SparkSession],
          Some(optimized.stats), Some(optimized.constraints))
        new Pin(GraftStreamBridge.ofRows(df.sparkSession, relation), rdd)
      } catch {
        case t: Throwable => rdd.unpersist(blocking = false); throw t
      }
    }
  }

  /** Free the checkpoints `df` reads directly, for a caller done with
    * a frame whose blocks it owns: its own `localCheckpoint`, or a frame
    * an operator returned (which owns the pins behind it). Nothing else
    * may still read those checkpoints.
    */
  def freeBehind(df: DataFrame): Unit = df.queryExecution.analyzed.foreach {
    case l: LogicalRDD => l.rdd.unpersist(blocking = false)
    case _ =>
  }

  /** Eager pin hash-partitioned by `keys` and sorted by them within
    * each partition, so per-round sort-merge joins on `keys` read it
    * with no Exchange and no Sort (the bucketed+sorted-table shape;
    * partitioning alone measured 20-50% slower on q205/q153, trading
    * the round's Exchange for an edge-sized per-round SortExec).
    *
    * The partition count comes from the relation's measured size: a
    * flat eager pin is taken first and its stored bytes read back. The
    * co-partitioned per-round join must match the pin's partitioning
    * exactly, so AQE can never coalesce those round stages — a pin at
    * raw shuffle.partitions forced 3×32-task stages per round over a
    * 0.4 MB sf0.1 graph, 2× the un-pinned round wall. AQE's own
    * parallelismFirst coalescing policy is applied instead: partition
    * target = bytes/parallelism clamped to [minPartitionSize,
    * advisoryPartitionSizeInBytes], count capped at shuffle.partitions.
    */
  def byKey(df: DataFrame, keys: Column*): Pin = {
    val spark = df.sparkSession
    val sc = spark.sparkContext
    val flat = Pin(df, eager = true)
    try {
      val bytes = sc.getRDDStorageInfo
        .filter(_.id == flat.rdd.id).map(i => i.memSize + i.diskSize).sum
      def confBytes(key: String, dflt: String): Long =
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
          spark.conf.get(key, dflt))
      val advisory = confBytes("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")
      val minSize = confBytes("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1MB")
      val maxN = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
      val target = math.max(minSize,
        math.min(advisory, bytes / math.max(1, sc.defaultParallelism)))
      val n = math.max(1L, math.min(maxN.toLong, (bytes + target - 1) / target)).toInt
      Pin(flat.df.repartition(n, keys: _*).sortWithinPartitions(keys: _*), eager = true)
    } finally flat.free() // the sized pin replaces the flat one
  }
}
