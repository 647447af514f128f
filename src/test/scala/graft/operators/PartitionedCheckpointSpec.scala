package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions.col

class PartitionedCheckpointSpec extends SparkTestBase {

  test("a byKeys checkpoint keeps its size estimate, so a join against it plans a broadcast") {
    val small = PartitionedCheckpoint.byKeys(spark.range(100).toDF("k"), col("k"))
    val plain = spark.range(100).toDF("k").repartition(4, col("k")).localCheckpoint(true)
    val size = small.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size == plain.queryExecution.optimizedPlan.stats.sizeInBytes)
    assert(size < spark.sessionState.conf.autoBroadcastJoinThreshold, s"size $size")
    // the larger side is only planned, never run: 20 M rows estimate
    // past the broadcast threshold, so only the checkpoint can broadcast
    val plan = spark.range(20000000L).toDF("k").join(small, "k").queryExecution.sparkPlan
    assert(plan.collect { case j: BroadcastHashJoinExec => j }.nonEmpty, plan.treeString)
  }
}
