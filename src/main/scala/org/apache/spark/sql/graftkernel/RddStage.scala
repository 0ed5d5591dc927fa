package org.apache.spark.sql.graftkernel

import org.apache.spark.sql.{DataFrame, Row, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The body of [[graft.ops.Snapshots.stage]]; it lives in Spark's package
  * because `classic.Dataset.ofRows` is package-private. */
object RddStage {
  /** On a staged `LogicalRDD` leaf: the optimized plan of the frame it
    * holds, so a plan walk can look inside the stage. */
  val StagedPlan: TreeNodeTag[LogicalPlan] = TreeNodeTag("graft.stagedPlan")

  def apply(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    // toRdd reuses its row buffers: copy each row before the block store
    // keeps it
    val rows = ds.queryExecution.toRdd.map(_.copy())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val leaf = LogicalRDD.fromDataset(rows, ds, ds.isStreaming)
    leaf.setTagValue(StagedPlan, ds.queryExecution.optimizedPlan)
    classic.Dataset.ofRows(ds.sparkSession, leaf)
  }
}
