package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Narrow bridge to two `private[sql]` pieces the engine needs for
  * partitioning-preserving checkpoints (see
  * `graft.operators.PartitionedCheckpoint`): `Dataset.ofRows` and the
  * `LogicalRDD` constructor's session parameter list. Nothing else of
  * Spark's internals is exposed.
  *
  * Why it exists: `Dataset.localCheckpoint` materializes the exact
  * physical layout its plan produced, but records
  * `UnknownPartitioning` in the resulting `LogicalRDD` whenever the
  * plan ran under adaptive execution (`AdaptiveSparkPlanExec` reports
  * Unknown until/unless the final stage is inspected). When the
  * caller KNOWS the layout — because the plan ends in an explicit
  * `repartition(n, keys)` that AQE never rewrites (user-specified
  * numPartitions pins the shuffle) — rewrapping the already-cached
  * RDD with the true partitioning makes every downstream
  * co-partitioned join/aggregation plan exchange-free, without
  * re-materializing anything.
  */
object GraftInternal {

  /** A Column over a raw Catalyst expression — for engine-built
    * expressions that carry NON-Expression state (e.g. a `Broadcast`
    * handle), which cannot round-trip through the SQL function
    * registry's Column-only signatures.
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The Catalyst expression behind a Column (inverse of [[column]]). */
  def expr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** The checkpointed `rdd` as a DataFrame whose leaf DECLARES
    * `partitioning` and carries the checkpoint's own `stats` (without
    * them the leaf plans at the default 8 EiB size and never
    * broadcasts). Caller must guarantee the rows are physically laid
    * out that way — this only changes what the planner is told.
    */
  def rddWithPartitioning(
      spark: SparkSession,
      output: Seq[Attribute],
      rdd: RDD[InternalRow],
      partitioning: Partitioning,
      stats: Statistics): DataFrame = {
    val cs = spark.asInstanceOf[ClassicSparkSession]
    ClassicDataset.ofRows(
      cs,
      LogicalRDD(output, rdd, partitioning, Nil, false, None)(cs, Some(stats)))
  }
}
