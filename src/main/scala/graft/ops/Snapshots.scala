package graft.ops

import org.apache.spark.sql.DataFrame

/**
 * The two ways an op materializes an intermediate frame.
 *
 *  - [[stage]] computes a frame once for the several reads an op makes of
 *    it (a self-join, a count then a join, an iterative loop over a fixed
 *    input). The rows are persisted at the RDD level under intact
 *    lineage, so a lost executor recomputes its blocks. The blocks live
 *    exactly as long as the returned frame, or any frame built on it, is
 *    reachable: Spark's ContextCleaner unpersists them after GC. Nothing
 *    enters the `CacheManager`, so no caller has to release anything, and
 *    a later query over the same plan never reads a stale entry.
 *  - [[truncateLineage]] pins a frame for iterative loops whose plans
 *    would otherwise grow without bound, and before a write mutates a
 *    table the frame reads. With `spark.sparkContext.setCheckpointDir(...)`
 *    set (the cluster mode on a preemptible fleet) it is a reliable
 *    checkpoint, so a lost executor re-reads it. Without one (local runs,
 *    tests) it is a `localCheckpoint`: the lineage is cut, so executor loss
 *    fails the job instead of answering wrong.
 *
 * **Checkpoint-file retention.** Non-streaming checkpoint files are NOT
 * deleted by default; an iterative loop checkpointing once per round
 * would otherwise accumulate one full materialization per round on the
 * checkpoint filesystem for the application's life. Cluster deployments
 * that set a checkpoint dir should also set
 * `spark.cleaner.referenceTracking.cleanCheckpoints=true` so each
 * round's files are reclaimed when its RDD goes out of scope (i.e. the
 * next round replaces it).
 */
object Snapshots {
  /** `df` computed once, its blocks kept while the result is reachable
    * (MEMORY_AND_DISK, lineage intact). Under AQE, an exchange inside `df`
    * runs its map stage when `stage` is called. */
  def stage(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftkernel.RddStage(df)

  /** Eager snapshot that truncates lineage; reliable when a checkpoint
    * dir is configured, executor-local otherwise. */
  def truncateLineage(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()
}
