package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.ops.{Cast, SeqOps}
import graft.sources.CtdRead

/** Mirrors tests/test_processing.py and tests/test_processing_real_data.py. */
class KernelSpec extends SparkTestBase {

  import spark.implicits._

  /** The reference's triangle fixture: index = linspace(-5,10,20) ++
    * linspace(10,-5,20), data = 0..39. */
  private def triangle: DataFrame = {
    val idx = (0 until 20).map(i => -5.0 + 15.0 * i / 19.0) ++
      (0 until 20).map(i => 10.0 - 15.0 * i / 19.0)
    idx.zipWithIndex.map { case (p, i) => ("c1", i.toLong, p, i.toDouble) }
      .toDF("cast_id", "scan_order", "pressure", "value")
  }

  test("split round-trip: down ++ reversed(up) == original") {
    val out = Cast.split(triangle, "cast_id", "scan_order")
      .orderBy("scan_order").collect()
    val down = out.filter(_.getAs[String]("direction") == "down")
    val up   = out.filter(_.getAs[String]("direction") == "up")
    assert(down.length == 20 && up.length == 20) // argmax = FIRST max row
    assert(down.map(_.getAs[Long]("scan_order")).toSeq == (0L until 20L))
    // down ++ reverse(up) in pressure = original order restored
    val recombined = down.map(_.getAs[Double]("pressure")) ++
      up.map(_.getAs[Double]("pressure"))
    assert(recombined.toSeq == triangle.orderBy("scan_order")
      .collect().map(_.getAs[Double]("pressure")).toSeq)
  }

  test("press_check masks exactly positions 7 and 9 of the reference fixture") {
    val idx = Seq(0, 1, 2, 3, 4, 5, 7, 6, 9, 8, 10).map(_.toDouble)
    val df = idx.zipWithIndex.map { case (p, i) => ("c1", i.toLong, p, i * 1.1) }
      .toDF("cast_id", "scan_order", "pressure", "value")
    val out = Cast.pressCheck(df, "cast_id", "scan_order", Seq("value"))
      .orderBy("scan_order").collect()
    val nulls = out.zipWithIndex.filter(_._1.isNullAt(3)).map(_._2).toSeq
    assert(nulls == Seq(7, 9))
    // pressure column itself is never nulled
    assert(out.forall(!_.isNullAt(2)))
  }

  test("lp_filter matches the SBE-filtered golden file to 1 decimal") {
    val raw = CtdRead.cnv(spark, s"$dataDir/CTD-spiked-unfiltered.cnv.bz2")
    val sbe = CtdRead.cnv(spark, s"$dataDir/CTD-spiked-filtered.cnv.bz2")
    val filtered = SeqOps.lpFilter(raw, "cast_id", "scan_order")
      .orderBy("scan_order").select("pressure").collect().map(_.getDouble(0))
    val expected = sbe.orderBy("scan_order").select("pressure")
      .collect().map(_.getDouble(0))
    assert(filtered.length == expected.length)
    // np.testing.assert_almost_equal(decimal=1): |diff| < 1.5e-1
    val maxDiff = filtered.zip(expected).map { case (a, b) => math.abs(a - b) }.max
    assert(maxDiff < 0.15, s"max |diff| = $maxDiff")
  }

  test("despike on real data: introduces nulls only, keeps values identical") {
    val sbe = CtdRead.cnv(spark, s"$dataDir/CTD-spiked-filtered.cnv.bz2")
    val down = Cast.split(sbe, "cast_id", "scan_order")
      .filter(col("direction") === "down")
      .select(col("cast_id"), col("scan_order"), col("`c0S/m`").as("c0"))
    val clean = Cast.despike(down, "cast_id", "scan_order", Seq("c0"),
      n1 = 2.0, n2 = 20.0, block = 500)
    val joined = down.alias("d").join(clean.alias("c"), Seq("cast_id", "scan_order"))
      .select(col("d.c0").as("orig"), col("c.c0").as("clean")).collect()
    val spikes = joined.count(r => !r.isNullAt(0) && r.isNullAt(1))
    assert(spikes > 0, "expected some spikes flagged")
    joined.foreach { r =>
      if (!r.isNullAt(1)) assert(r.getDouble(0) == r.getDouble(1))
    }
  }

  test("press_check on real data: reversals exist, kept values identical") {
    val raw = CtdRead.cnv(spark, s"$dataDir/CTD-spiked-unfiltered.cnv.bz2")
      .select(col("cast_id"), col("scan_order"), col("pressure"), col("t090C"))
    val checked = Cast.pressCheck(raw, "cast_id", "scan_order", Seq("t090C"))
    val joined = raw.alias("r").join(checked.alias("c"), Seq("cast_id", "scan_order"))
      .select(col("r.t090C").as("orig"), col("c.t090C").as("chk")).collect()
    assert(joined.exists(r => !r.isNullAt(0) && r.isNullAt(1)), "expected reversals")
    joined.foreach { r =>
      if (!r.isNullAt(1)) assert(r.getDouble(0) == r.getDouble(1))
    }
  }

  test("smooth via Spark: length preserved, interior of a ramp unchanged") {
    val n = 60
    val df = (0 until n).map(i => ("c1", i.toLong, i.toDouble, 2.0 * i))
      .toDF("cast_id", "scan_order", "pressure", "value")
    val out = SeqOps.smooth(df, "cast_id", "scan_order", Seq("value"), 5, "flat")
      .orderBy("scan_order").collect()
    assert(out.length == n)
    (2 until n - 2).foreach { i =>
      assert(math.abs(out(i).getAs[Double]("value") - 2.0 * i) < 1e-9)
    }
  }

  test("bindata interpolate: grid arange(ceil(first), floor(last), delta), clamped interp") {
    val df = Seq(("c1", 0L, 0.3, 10.0), ("c1", 1L, 2.0, 20.0), ("c1", 2L, 5.7, 40.0))
      .toDF("cast_id", "scan_order", "pressure", "value")
    val out = SeqOps.bindataInterpolate(df, "cast_id", "scan_order", Seq("value"), 1.0)
      .orderBy("pressure").collect()
    // grid = arange(1, 5) = [1, 2, 3, 4]
    assert(out.map(_.getAs[Double]("pressure")).toSeq == Seq(1.0, 2.0, 3.0, 4.0))
    val vals = out.map(_.getAs[Double]("value"))
    assert(math.abs(vals(0) - (10.0 + (20.0 - 10.0) * (1.0 - 0.3) / (2.0 - 0.3))) < 1e-12)
    assert(vals(1) == 20.0)
    assert(math.abs(vals(2) - (20.0 + 20.0 * (3.0 - 2.0) / 3.7)) < 1e-12)
  }

  test("full QC chain on real data (mirror of test_processing_chain_spiked_ctd)") {
    val raw = CtdRead.cnv(spark, s"$dataDir/CTD-spiked-unfiltered.cnv.bz2")
    val down = Cast.split(Cast.removeAboveWater(raw), "cast_id", "scan_order")
      .filter(col("direction") === "down")
      .select(col("cast_id"), col("scan_order"), col("pressure"), col("t090C"))
    val chained = {
      val d1 = Cast.despike(down, "cast_id", "scan_order", Seq("t090C"))
      val d2 = SeqOps.lpFilter(d1, "cast_id", "scan_order")
      val d3 = Cast.pressCheck(d2, "cast_id", "scan_order", Seq("t090C"))
      val d4 = Cast.bindataAverage(d3, "cast_id", "scan_order", Seq("t090C"))
      SeqOps.smooth(d4.withColumn("scan_order", col("pressure")),
        "cast_id", "scan_order", Seq("t090C"), 21, "hanning")
    }
    assert(chained.count() > 0)
    assert(chained.columns.toSeq.contains("t090C"))
  }

  test("bindataAverage edgesViaWindow parity: bit-identical to the " +
       "rescan mode, including empty-bin spine rows and a cast whose " +
       "every sample falls outside its bins") {
    import spark.implicits._
    // cast a: spiky real-ish profile with an empty bin gap; cast b: all
    // samples share the leftmost edge (pressure == start is dropped by
    // pd.cut right-closed semantics) -> zero surviving rows, spine kept
    val rows =
      Seq(("a", 1L, 0.3, 10.0), ("a", 2L, 1.2, 11.0), ("a", 3L, 1.9, 12.0),
        ("a", 4L, 5.4, 13.0), ("a", 5L, 5.9, 14.0), ("a", 6L, 8.7, 15.0),
        ("b", 1L, 2.0, 50.0), ("b", 2L, 2.0, 51.0), ("b", 3L, 6.0, 52.0))
      .toDF("cast_id", "scan_order", "pressure", "t090C")
      // b's edges: start=ceil(2.0)=2, end=floor(6.0)=6 -> 3 bins; the
      // 2.0 rows sit ON start (dropped) and 6.0 has k=3 >= nbins=3
    // edge casts: c a NULL pressure mid-cast, d a NULL first pressure
    // (no edges -> no bins), e a NULL last pressure, f a NULL value inside
    // a bin and a bin whose only value is NULL, g an up-cast (nbins < 0),
    // h nbins == 0 at delta 1; and a NULL cast id carrying a's samples
    val edge = Seq[(String, Long, Option[Double], Option[Double])](
        ("c", 1L, Some(0.4), Some(1.0)), ("c", 2L, Some(1.5), Some(2.0)),
        ("c", 3L, None, Some(3.0)), ("c", 4L, Some(2.5), Some(4.0)),
        ("c", 5L, Some(3.8), Some(5.0)),
        ("d", 1L, None, Some(1.0)), ("d", 2L, Some(1.5), Some(2.0)),
        ("d", 3L, Some(3.5), Some(3.0)),
        ("e", 1L, Some(0.2), Some(1.0)), ("e", 2L, Some(1.5), Some(2.0)),
        ("e", 3L, Some(3.5), Some(3.0)), ("e", 4L, None, Some(4.0)),
        ("f", 1L, Some(0.1), Some(1.0)), ("f", 2L, Some(1.2), None),
        ("f", 3L, Some(1.8), Some(3.0)), ("f", 4L, Some(2.5), None),
        ("f", 5L, Some(4.9), Some(5.0)),
        ("g", 1L, Some(5.5), Some(1.0)), ("g", 2L, Some(2.1), Some(2.0)),
        ("h", 1L, Some(0.5), Some(1.0)), ("h", 2L, Some(2.2), Some(2.0)))
      .toDF("cast_id", "scan_order", "pressure", "t090C")
    val nullCast = rows.filter(col("cast_id") === "a")
      .withColumn("cast_id", lit(null).cast("string"))
    val all = rows.union(edge).union(nullCast)
    for (delta <- Seq(1.0, 0.5); keepEmpty <- Seq(true, false)) {
      def run(windowed: Boolean) =
        Cast.bindataAverage(all, "cast_id", "scan_order", Seq("t090C"),
            delta = delta, keepEmpty = keepEmpty, edgesViaWindow = windowed)
          .orderBy("cast_id", "pressure").collect().toSeq
      val a = run(windowed = false)
      val b = run(windowed = true)
      assert(a == b,
        s"delta=$delta keepEmpty=$keepEmpty:\nrescan $a\nwindow $b")
      // a NULL cast id is one cast: its bins equal the same samples' bins
      // under a real id, in both modes
      for ((out, mode) <- Seq((a, "rescan"), (b, "window"))) {
        val asA = out.filter(_.getString(0) == "a").map(_.toSeq.tail)
        val asNull = out.filter(_.isNullAt(0)).map(_.toSeq.tail)
        assert(asA.nonEmpty && asNull == asA,
          s"$mode delta=$delta keepEmpty=$keepEmpty:\na $asA\nNULL $asNull")
      }
    }
    // and on real data: the q181 anchor path's exact shape
    val raw = CtdRead.cnv(spark, s"$dataDir/CTD-spiked-unfiltered.cnv.bz2")
    val down = Cast.split(Cast.removeAboveWater(raw), "cast_id",
        "scan_order")
      .filter(col("direction") === "down")
      .select(col("cast_id"), col("scan_order"), col("pressure"),
        col("t090C"))
    val r = Cast.bindataAverage(down, "cast_id", "scan_order",
        Seq("t090C"), delta = 1.0)
      .orderBy("cast_id", "pressure").collect().toSeq
    val w = Cast.bindataAverage(down, "cast_id", "scan_order",
        Seq("t090C"), delta = 1.0, edgesViaWindow = true)
      .orderBy("cast_id", "pressure").collect().toSeq
    assert(r == w)
  }
}
