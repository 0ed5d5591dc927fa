package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.SimOps

/**
 * Bit-parity pins for the r16 BATCHED maximin seeding
 * (SimOps.maximinBatched): each corpus pass TakeOrders the top-M rows by
 * the current cached min-distance and selects driver-side every centroid
 * it can PROVE exact (first pick per pass unconditionally — it is the
 * TakeOrdered's own top row; later picks only while the refined
 * min-distance strictly exceeds the collection cut), then folds the
 * whole batch into the cached `__dm` column at once. This replaces the
 * r15 one-pick-per-pass recurrence (SimOps.maximinPerPass, kept as the
 * semantics-defining path for ragged corpora). Every test asserts EXACT
 * (bit-level) centroid equality between the two paths, plus the
 * end-to-end trainIntCentroids dispatch.
 */
class MaximinTopMSpec extends SparkTestBase {

  private def vecDf(vecs: Array[Array[Double]], parts: Int = 4): DataFrame = {
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("__q", ArrayType(DoubleType, containsNull = false),
        nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        vecs.zipWithIndex.map { case (v, i) => Row(i.toLong, v.toSeq) },
        parts),
      schema)
  }

  private def randVecs(n: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.tabulate(n)(_ =>
      Array.fill(dim)((rnd.nextInt(2001) - 1000).toDouble))
  }

  private def seed0Of(df: DataFrame): Array[Double] =
    df.orderBy(col("vec_id")).limit(1).select(col("__q"))
      .head().getSeq[Double](0).toArray

  private def assertSame(a: Array[Array[Double]], b: Array[Array[Double]],
                         ctx: String): Unit = {
    assert(a.length == b.length, s"$ctx: length ${a.length} vs ${b.length}")
    a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x.length == y.length, s"$ctx: centroid $i dim mismatch")
      x.zip(y).zipWithIndex.foreach { case ((p, q), d) =>
        assert(java.lang.Double.doubleToRawLongBits(p) ==
          java.lang.Double.doubleToRawLongBits(q),
          s"$ctx: centroid $i dim $d: $p != $q")
      }
    }
  }

  test("small corpus (complete pool in one pass): batched selection " +
      "matches the per-pass sequence exactly") {
    val vecs = randVecs(n = 200, dim = 6, seed = 42)
    val df = vecDf(vecs)
    val s0 = seed0Of(df)
    for (k <- Seq(2, 5, 16)) {
      val fast = SimOps.maximinBatched(df, "__q", k, s0, "spec")
      val slow = SimOps.maximinPerPass(df, "__q", k, s0)
      assertSame(fast, slow, s"k=$k complete")
    }
  }

  test("corpus larger than the collection window: guarded multi-pass " +
      "batching matches the per-pass sequence exactly") {
    // k=2 -> M = 4096; n = 5000 makes the cut threshold live, so picks
    // beyond the first per pass carry the strict > t proof obligation.
    val vecs = randVecs(n = 5000, dim = 5, seed = 7)
    val df = vecDf(vecs, parts = 6)
    val s0 = seed0Of(df)
    for (k <- Seq(2, 8, 16)) {
      val fast = SimOps.maximinBatched(df, "__q", k, s0, "spec")
      val slow = SimOps.maximinPerPass(df, "__q", k, s0)
      assertSame(fast, slow, s"k=$k incomplete")
    }
  }

  test("boundary ties (duplicate-heavy corpus): unprovable picks close " +
      "the batch and later passes still reproduce the per-pass sequence") {
    // 5000 copies of one vector + 2 distinct rows: after the 2 distinct
    // picks every min-distance is 0 == cut threshold, so each further
    // pass can prove only its first pick — the degenerate worst case.
    val base = Array.fill(5000)(Array(100.0, -50.0, 25.0))
    val vecs = base ++ Array(Array(900.0, 900.0, -900.0),
      Array(-900.0, -900.0, 900.0))
    val df = vecDf(vecs, parts = 5)
    val s0 = seed0Of(df)
    for (k <- Seq(4, 6)) {
      val fast = SimOps.maximinBatched(df, "__q", k, s0, "spec")
      val slow = SimOps.maximinPerPass(df, "__q", k, s0)
      assertSame(fast, slow, s"k=$k duplicate-heavy")
    }
  }

  test("trainIntCentroids dispatch: uniformDim=true batched path and " +
      "uniformDim=false per-pass path agree end to end, with Lloyd " +
      "iterations on top") {
    val vecs = randVecs(n = 300, dim = 4, seed = 11)
    val df = vecDf(vecs)
    val fast = SimOps.trainIntCentroids(df, "__q", k = 6, iters = 3,
      maxAbs = 1000.0, caller = "spec", init = "maximin", uniformDim = true)
    val slow = SimOps.trainIntCentroids(df, "__q", k = 6, iters = 3,
      maxAbs = 1000.0, caller = "spec", init = "maximin", uniformDim = false)
    assertSame(fast, slow, "dispatch + Lloyd")
  }

  test("mixed dims: guard at the caller keeps ragged corpora on the " +
      "per-pass path (the r16 change is inert off the fast path)") {
    val vecs: Array[Array[Double]] = Array(
      Array(1.0, 2.0, 3.0), Array(4.0, -5.0, 6.0), Array(7.0, 8.0),
      Array(-1.0, -2.0, -3.0), Array(10.0, 0.0, -10.0))
    val df = vecDf(vecs, parts = 2)
    val s0 = seed0Of(df)
    // iters = 0: the seeding is the behavior under test (the shared Lloyd
    // stats loop has never accepted ragged corpora — null argmin cells —
    // and no production caller feeds it one)
    val out = SimOps.trainIntCentroids(df, "__q", k = 3, iters = 0,
      maxAbs = 10.0, caller = "spec", init = "maximin", uniformDim = false)
    val slow = SimOps.maximinPerPass(df, "__q", 3, s0)
    assertSame(out, slow, "ragged dispatch")
  }

  test("a selection loop that throws leaves no persisted min-distance " +
      "frame behind (both paths)") {
    val empty = vecDf(Array.empty[Array[Double]], parts = 2)
    val s0 = Array(1.0, 2.0)
    val paths: Seq[(String, () => Array[Array[Double]])] = Seq(
      "maximinPerPass" -> (() => SimOps.maximinPerPass(empty, "__q", 3, s0)),
      "maximinBatched" -> (() => SimOps.maximinBatched(empty, "__q", 3, s0, "spec")))
    val leaked = paths.map { case (name, run) =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      intercept[Exception](run())
      name -> (spark.sparkContext.getPersistentRDDs.keySet -- before)
    }.filter(_._2.nonEmpty)
    assert(leaked.isEmpty, s"persisted RDDs survive the failure: $leaked")
  }
}
