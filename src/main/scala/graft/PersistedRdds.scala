package graft

import org.apache.spark.sql.SparkSession

/** Persistent RDDs as the ContextCleaner leaves them: after a result is
  * dropped, its staged blocks go only once a GC has collected it and the
  * cleaner thread has run, so the count is re-read after GC + 100 ms until
  * nothing new is left or 5 s pass. */
object PersistedRdds {
  /** A copy of the ids: `getPersistentRDDs` is a strong map, and its
    * `keySet` keeps every RDD in it reachable. */
  def ids(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keysIterator.toSet

  /** RDDs persisted since `before` that stay after GC and the cleaner. */
  def leftAfterGc(spark: SparkSession, before: Set[Int]): Set[Int] = {
    val deadline = System.nanoTime() + 5000000000L
    var left = ids(spark) -- before
    while (left.nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(100)
      left = ids(spark) -- before
    }
    left
  }
}
