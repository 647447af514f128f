package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftInternal}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD

/** Materialize a DataFrame ONCE, hash-partitioned on the given keys,
  * with the partitioning VISIBLE to the planner afterwards — so every
  * downstream equi-join/aggregation clustered on those keys plans
  * without another exchange over the materialized data.
  *
  * Why the rewrap: `Dataset.localCheckpoint` captures the physical
  * plan's `outputPartitioning` into the resulting `LogicalRDD`, but
  * under adaptive execution the captured plan is an
  * `AdaptiveSparkPlanExec` whose declared partitioning is
  * `UnknownPartitioning` — the information is simply dropped (measured
  * on this Spark build: the same repartition+checkpoint reports
  * `hashpartitioning(u, N)` with AQE off and `UnknownPartitioning(0)`
  * with it on, and a subsequent self-join plans 0 vs 2 exchanges).
  * An explicit `repartition(n, keys)` is a layout AQE never rewrites
  * (user-specified numPartitions pins the shuffle — no coalescing, no
  * skew split), so the checkpointed rows ARE hash(keys)%n partitioned;
  * [[GraftInternal.rddWithPartitioning]] re-declares that fact on the
  * cached RDD. One materialization under full AQE — the earlier
  * two-checkpoint variant (stage under AQE, re-shuffle inside an
  * AQE-off window) paid a full extra copy of the data and flipped a
  * session-global conf (a latent race for any concurrent planner).
  */
object PartitionedCheckpoint {

  /** `df` repartitioned by `keys`, eagerly local-checkpointed, with
    * `HashPartitioning(keys)` preserved in the checkpoint's plan node.
    */
  def byKeys(df: DataFrame, keys: Column*): DataFrame =
    byKeysN(df, 0, keys: _*)

  /** `df.localCheckpoint(true)` with the checkpointed RDD TAGGED as
    * cardinality-bounded ([[graft.tools.PlanGuard.BoundedTag]]).
    *
    * `localCheckpoint` truncates lineage, so a checkpointed aggregate
    * re-enters downstream plans as a bare `RDDScanExec` and the
    * structural bounded-frame proof (PlanGuard: every global window /
    * single-partition exchange must sit over a post-aggregation
    * frame) can no longer see the aggregation that bounded it. This
    * wrapper is the one reviewed escape hatch: call it ONLY where the
    * frame being checkpointed is aggregated/bounded immediately
    * upstream (a distinct axis, a vocabulary, a bucket table — sized
    * by the key domain, not the corpus), and the claim sits grep-ably
    * next to the aggregation that justifies it. Untagged checkpoints
    * feeding a global window fail the catalog sweep loudly.
    */
  def boundedCheckpoint(df: DataFrame): DataFrame = {
    val ckpt = df.localCheckpoint(true)
    ckpt.queryExecution.optimizedPlan match {
      case lr: LogicalRDD =>
        lr.rdd.setName(graft.tools.PlanGuard.BoundedTag)
      case _ =>
    }
    ckpt
  }

  /** Drop the executor blocks behind a frame returned by
    * `localCheckpoint` (directly — the plan must still BE the
    * `LogicalRDD` leaf, not a transformation over it). Iterative
    * operators ([[graft.operators.Dedup.clusters]], the Graph frontier
    * loop) keep per-round state as eager local checkpoints; releasing
    * the previous round's blocks as soon as the next round is
    * materialized keeps the BlockManager footprint at one generation
    * instead of `rounds`. No-op for any other plan shape. The released
    * frame must never be read again (localCheckpoint truncates
    * lineage, so the blocks are the ONLY copy).
    */
  def release(df: DataFrame): Unit = df.queryExecution.optimizedPlan match {
    case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
    case _ =>
  }

  /** [[byKeys]] with an explicit partition count (0 = the session's
    * `spark.sql.shuffle.partitions`). Downstream work per key group is
    * often superlinear (self-join fan-out), so a finer grain than the
    * session default evens out stragglers that AQE — blind here, the
    * join plans WITHOUT a shuffle to adapt — can no longer fix.
    */
  def byKeysN(df: DataFrame, numPartitions: Int, keys: Column*): DataFrame =
    byKeysNCounted(df, numPartitions, keys: _*)._1

  /** [[byKeysN]], also returning the materialized ROW COUNT. The eager
    * checkpoint's materialization IS a count job whose value
    * `localCheckpoint(true)` discards; running the checkpoint lazily
    * and counting the checkpoint RDD ourselves recovers the number for
    * free — callers that need the cardinality next (e.g. sizing a
    * bloom filter over the checkpointed frame) skip a whole extra
    * pass + scheduled job over the data.
    */
  def byKeysNCounted(
      df: DataFrame, numPartitions: Int, keys: Column*): (DataFrame, Long) = {
    val spark = df.sparkSession
    val n =
      if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val ckpt = df.repartition(n, keys: _*).localCheckpoint(false)
    val rows = ckpt.queryExecution.optimizedPlan match {
      case lr: LogicalRDD => lr.rdd.count() // materializes the lazy checkpoint
      case _ => ckpt.count()
    }
    val out = ckpt.queryExecution.optimizedPlan match {
      case lr: LogicalRDD =>
        // resolve each key against the checkpoint's own output attrs:
        // the declared partitioning must reference the exprIds the new
        // leaf exposes, not the pre-checkpoint columns
        val byName = lr.output.map(a => a.name -> a).toMap
        val keyNames = df.select(keys: _*).schema.fieldNames
        val keyAttrs = keyNames.toSeq.map { name =>
          byName.getOrElse(name, sys.error(
            s"PartitionedCheckpoint: key '$name' is not a plain output " +
              s"column of the frame (have: ${lr.output.map(_.name).mkString(", ")})"))
        }
        GraftInternal.rddWithPartitioning(
          spark, lr.output, lr.rdd, HashPartitioning(keyAttrs, n), lr.stats)
      case _ => ckpt // unexpected plan shape: correct, just re-shuffles
    }
    (out, rows)
  }

}
