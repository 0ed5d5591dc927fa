package graft

/** The persist census: no contract query leaves a persisted dataset
  * behind once its result is dropped. */
class PersistCensusSpec extends SparkTestBase {
  test("every SparkEntry query, run once into the noop sink and dropped, " +
       "leaves no persistent RDD after GC") {
    val dir = "/root/testdata/sf0.001"
    val t0 = System.nanoTime()
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, build) =>
      val before = PersistedRdds.ids(spark)
      val failure =
        try {
          build(spark, dir).write.format("noop").mode("overwrite").save()
          None
        } catch { case e: Exception => Some(s"$name threw ${e.getMessage}") }
      (name, failure, PersistedRdds.leftAfterGc(spark, before).size)
    }
    info(f"${results.length} queries in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val failures = results.flatMap(_._2)
    assert(failures.isEmpty, failures.mkString("\n"))
    val leaks = results.collect { case (n, _, left) if left > 0 => s"$n ($left)" }
    assert(leaks.isEmpty,
      s"${leaks.length} queries leave persistent RDDs behind: ${leaks.mkString(", ")}")
  }
}
