package graft

import org.apache.spark.sql.functions._

import graft.ops.implicits._
import graft.ops.{Cast, SeqOps}
import graft.sources.CtdRead

/**
 * The reference's canonical QC chain (reference README.md:52-58), written
 * through the fluent extension methods — the pandas-flavor analog:
 *
 *   cast.remove_above_water().split()...lp_filter().press_check()
 *       .interpolate().bindata(delta=1)...smooth()
 *
 * Asserts the fluent chain is THE SAME computation as the explicitly
 * composed operator calls (same rows), on a real instrument file.
 */
class FluentApiSpec extends SparkTestBase {

  test("canonical QC chain via fluent API == explicit composition, on real CNV") {
    val raw = CtdRead.cnv(spark, s"$dataDir/CTD_with_sigma_e00.cnv")

    val fluent = raw
      .removeAboveWater()
      .splitCast()
      .where(col("direction") === "down")
      .lpFilter()
      .pressCheck(Seq("t068C"))
      .despike(Seq("t068C"), n1 = 2, n2 = 20, block = 50)
      .interpolateIndex(Seq("t068C"))
      .smoothCast(Seq("t068C"), windowLen = 11, window = "hanning")
      .bindata(Seq("t068C"), delta = 10.0, keepEmpty = false)
      .select("cast_id", "pressure", "t068C")

    val explicitDf = {
      val d0 = Cast.removeAboveWater(raw)
      val d1 = Cast.split(d0, "cast_id", "scan_order")
        .where(col("direction") === "down")
      val d2 = SeqOps.lpFilter(d1, "cast_id", "scan_order")
      val d3 = Cast.pressCheck(d2, "cast_id", "scan_order", Seq("t068C"))
      val d4 = Cast.despike(d3, "cast_id", "scan_order", Seq("t068C"), 2, 20, 50)
      val d5 = Cast.interpolateIndex(d4, "cast_id", "scan_order", Seq("t068C"))
      val d6 = SeqOps.smooth(d5, "cast_id", "scan_order", Seq("t068C"), 11, "hanning")
      Cast.bindataAverage(d6, "cast_id", "scan_order", Seq("t068C"),
          delta = 10.0, keepEmpty = false)
        .select("cast_id", "pressure", "t068C")
    }

    val a = fluent.orderBy("cast_id", "pressure").collect().toSeq
    val b = explicitDf.orderBy("cast_id", "pressure").collect().toSeq
    assert(a.nonEmpty, "chain produced no rows")
    assert(a == b, "fluent chain diverged from explicit composition")
  }

  test("fluent gate surface delegates to GateOps; gateKeep drops the " +
       "report columns and keeps survivors only") {
    // The gate surface is GateOps itself: gateKeep is gate filtered on
    // `kept` with the report columns dropped, and gateFunnel attributes each
    // dropped row to its first failing rule.
    import graft.ops.GateOps
    import spark.implicits._
    val docs = Seq((1L, "long enough text right here"), (2L, "no"))
      .toDF("doc_id", "text")
    val rules = Seq("min_chars" -> (length(col("text")) >= 10))
    val verdicts = GateOps.gate(docs, rules)
    assert(verdicts.filter(col("kept")).select("doc_id", "text")
      .collect().toSeq ==
      GateOps.gateKeep(docs, rules).collect().toSeq)
    assert(GateOps.gateFunnel(docs, rules).collect().toSeq ==
      Seq(org.apache.spark.sql.Row(0L, "min_chars", 2L, 1L, 1L, 1L)))
    val kept = GateOps.gateKeep(docs, rules)
    assert(kept.columns.toSeq == Seq("doc_id", "text"))
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }
}
