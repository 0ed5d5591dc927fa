package org.apache.spark.sql.graftkernel

import org.apache.spark.sql.{DataFrame, Row, classic}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The body of [[graft.ops.Snapshots.stage]]; it lives in Spark's package
  * because `classic.Dataset.ofRows` is package-private. */
object RddStage {
  def apply(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    // toRdd reuses its row buffers: copy each row before the block store
    // keeps it
    val rows = ds.queryExecution.toRdd.map(_.copy())
      .persist(StorageLevel.MEMORY_AND_DISK)
    classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(rows, ds, ds.isStreaming))
  }
}
