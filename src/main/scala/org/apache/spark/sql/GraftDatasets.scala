package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD

/** Checkpoint-metadata bridge (same-package accessor, the
  * [[GraftColumns]] pattern): re-declares on a checkpoint's leaf what
  * the caller just made true of its blocks, and Catalyst cannot know.
  */
object GraftDatasets {

  /** Rebuild a checkpoint-backed frame with MEASURED statistics and,
    * given `clusterBy`, its REAL clustering.
    *
    * Statistics: `Dataset.checkpoint`/`localCheckpoint` records the
    * checkpointed query's ESTIMATED stats as the new leaf's stats.
    * Inside an iterative algorithm that estimate compounds: round i's
    * plan joins round i−1's checkpoint with itself (size estimates
    * MULTIPLY at joins), so the recorded sizeInBytes grows as a tower
    * of exponents — by round ~15 of a connected-components loop
    * Catalyst is multiplying BigIntegers with millions of digits inside
    * SizeInBytesOnlyStatsPlanVisitor and the driver appears hung in
    * planning (observed live: a 3-join round plan stuck >10 min in
    * Statistics.product). Replacing the estimate with the blocks'
    * measured byte size keeps every round's planning O(plan) AND gives
    * the planner truth to pick broadcast joins with — the
    * scale-adaptive behavior (guide §3.1) estimates cannot provide.
    *
    * Clustering: a checkpoint comes back with `UnknownPartitioning`,
    * so an iterative algorithm that carefully repartitioned its static
    * table before the checkpoint cut still pays a full re-shuffle of
    * that table every round. With `clusterBy` the leaf declares hash
    * partitioning on those columns across the RDD's own partition
    * count, sorted within partitions. The caller must have made that
    * layout true before materializing (explicit `repartition(n, keys)`
    * — which AQE never coalesces — plus `sortWithinPartitions`);
    * declaring a layout the blocks do not have silently corrupts every
    * co-partitioned join and aggregation downstream.
    *
    * Frames whose plan is not a single checkpoint scan are returned
    * unchanged. */
  def declare(df: DataFrame, sizeInBytes: BigInt,
      clusterBy: Seq[String]): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val attrs = clusterBy.map(k => lr.output.find(_.name == k).getOrElse(
          throw new IllegalArgumentException(
            s"declare: no column '$k' in ${lr.output.map(_.name)}")))
        val (part, ord) =
          if (attrs.isEmpty) (lr.outputPartitioning, lr.outputOrdering)
          else (HashPartitioning(attrs, lr.rdd.getNumPartitions),
            attrs.map(a => SortOrder(a, Ascending)))
        classic.Dataset.ofRows(ds.sparkSession,
          LogicalRDD(lr.output, lr.rdd, part, ord, lr.isStreaming,
            lr.stream)(ds.sparkSession, Some(Statistics(sizeInBytes)), None))
      case _ => df
    }
  }
}
