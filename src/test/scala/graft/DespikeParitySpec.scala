package graft

import org.apache.spark.sql.functions._

import graft.ops.Cast

/** The despike kernel (per-cast sequential loop, the fast path) must be
  * BIT-IDENTICAL to the declarative window formulation it replaced — the
  * kernel replicates Spark's Average/CentralMomentAgg recurrences
  * operation-for-operation, so any divergence (ulp drift, null/tail-rule
  * mismatch) is a bug. This is what keeps the q09 DuckDB oracle valid
  * without re-deriving it. */
class DespikeParitySpec extends SparkTestBase {
  import org.apache.spark.sql.Row

  test("kernel == windowed despike bit-for-bit on multi-cast data with " +
       "nulls, spikes, short casts, and a NaN") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (for {
      cast <- 0 until 5
      i    <- 0 until (if (cast == 4) 3 else 200) // cast 4 shorter than block
    } yield {
      val base = math.sin(i / 7.0) * 10 + cast
      val v: java.lang.Double =
        if (cast == 1 && i == 50) null                     // hole
        else if (cast == 2 && i == 60) Double.NaN          // poison
        else if (i % 37 == 0) base + 500.0                 // spike
        else base + rnd.nextGaussian()
      (cast.toLong, i.toLong, v)
    }).toSeq
    val df = rows.toDF("cast_id", "scan_order", "value")
      .withColumn("v2", col("value") * 2 + 1) // second channel
    val cols = Seq("value", "v2")

    def collect(d: org.apache.spark.sql.DataFrame): Seq[Row] =
      d.select("cast_id", "scan_order", "value", "v2")
        .orderBy("cast_id", "scan_order").collect().toSeq

    val kern = collect(Cast.despike(df, "cast_id", "scan_order", cols,
      n1 = 2.0, n2 = 6.0, block = 16))
    val wind = collect(Cast.despikeWindowed(df, "cast_id", "scan_order",
      cols, n1 = 2.0, n2 = 6.0, block = 16))
    assert(kern.length == wind.length)
    kern.zip(wind).foreach { case (a, b) =>
      // bit-level comparison: NaN == NaN, -0.0 != 0.0
      def bits(r: Row, i: Int): Any =
        if (r.isNullAt(i)) null
        else java.lang.Double.doubleToLongBits(r.getDouble(i))
      assert((0 until 4).forall(i =>
        (a.isNullAt(i) && b.isNullAt(i)) ||
        (i < 2 && a.get(i) == b.get(i)) ||
        (i >= 2 && bits(a, i) == bits(b, i))), s"kernel $a != windowed $b")
    }
    // sanity: the op actually did something (spikes nulled, NaN kept)
    assert(kern.exists(r => r.isNullAt(2)), "no spike was nulled")
    assert(kern.exists(r => !r.isNullAt(2) && r.getDouble(2).isNaN),
      "NaN input must survive as NaN, not become null")
  }

  test("an exactly-constant plateau is never flagged (r14 guard), spikes " +
       "next to it still are, and kernel == windowed on the guard path") {
    import spark.implicits._
    // 60-row plateau at a value with no exact double representation
    // (98.58 — the q181b altM case), then a varying tail with one wild
    // spike. Pre-guard, the recurrence mean sat ~1e-14 off the constant
    // while the variance cancelled to 0, so the WHOLE plateau flagged
    // (6,513 binned cells of the step-quantized channels, measured).
    val rows = (0 until 120).map { i =>
      val v: java.lang.Double =
        if (i < 60) 98.58
        else if (i == 90) 5000.0                 // wild spike
        else 98.0 + math.sin(i / 5.0)            // varying tail
      (1L, i.toLong, v)
    }
    val df = rows.toDF("cast_id", "scan_order", "value")
    val kern = Cast.despike(df, "cast_id", "scan_order", Seq("value"),
        n1 = 2.0, n2 = 6.0, block = 16)
      .orderBy("scan_order").collect()
    val wind = Cast.despikeWindowed(df, "cast_id", "scan_order",
        Seq("value"), n1 = 2.0, n2 = 6.0, block = 16)
      .orderBy("scan_order").collect()
    (0 until 120).foreach { i =>
      assert(kern(i).isNullAt(2) == wind(i).isNullAt(2),
        s"kernel/windowed disagree at row $i")
      if (i < 60) assert(!kern(i).isNullAt(2) &&
        kern(i).getDouble(2) == 98.58,
        s"plateau row $i must survive despike, got ${kern(i).get(2)}")
    }
    assert(kern(90).isNullAt(2), "the wild spike must still flag")
  }

  test("kernel == windowed on degenerate keys: NULL order values sort " +
       "FIRST (Window.orderBy default), and a NULL cast id stays a " +
       "distinct partition from the literal string \"null\"") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // two casts that render identically under String.valueOf: null and "null"
    val rows = (for {
      castIdx <- 0 until 2
      i       <- 0 until 60
    } yield {
      val cast: String = if (castIdx == 0) null else "null"
      // a null order key every 13 rows — the windowed plan sorts these
      // first within the cast; the kernel must agree
      val ord: java.lang.Long = if (i % 13 == 5) null else i.toLong
      val v = math.cos(i / 5.0) * (castIdx + 1) +
        (if (i % 17 == 0) 300.0 else rnd.nextGaussian())
      (cast, ord, v)
    }).toDF("cast_id", "scan_order", "value")

    def collect(d: org.apache.spark.sql.DataFrame) = d
      .select("cast_id", "scan_order", "value")
      .orderBy(asc_nulls_first("cast_id"), asc_nulls_first("scan_order"),
        col("value"))
      .collect().toSeq
    val kern = collect(Cast.despike(rows, "cast_id", "scan_order",
      Seq("value"), n1 = 2.0, n2 = 6.0, block = 8))
    val wind = collect(Cast.despikeWindowed(rows, "cast_id", "scan_order",
      Seq("value"), n1 = 2.0, n2 = 6.0, block = 8))
    assert(kern == wind, s"degenerate-key parity broke:\n${
      kern.zip(wind).filter(p => p._1 != p._2).take(5).mkString("\n")}")
    assert(kern.exists(_.isNullAt(2)), "no spike was nulled")
  }

  test("a group exceeding graft.kernel.maxGroupRows refuses loudly, naming " +
       "the cast group (the one-cast-per-task OOM guard)") {
    import spark.implicits._
    val rows = (0 until 100).map(i => (1L, i.toLong, i.toDouble))
      .toDF("cast_id", "scan_order", "value")
    spark.conf.set(graft.ops.KernelGuard.ConfKey, "50")
    try {
      val e = intercept[Exception] {
        Cast.despike(rows, "cast_id", "scan_order", Seq("value"),
          block = 8).collect()
      }
      val msg = Option(e.getMessage).getOrElse("") +
        Iterator.iterate(e.getCause)(_.getCause).takeWhile(_ != null)
          .map(_.getMessage).mkString(" ")
      assert(msg.contains("maxGroupRows") && msg.contains("cast_id=1"), msg)
      // SeqOps kernels share the guard
      val e2 = intercept[Exception] {
        graft.ops.SeqOps.smooth(rows, "cast_id", "scan_order",
          Seq("value"), 11, "hanning").collect()
      }
      val msg2 = Option(e2.getMessage).getOrElse("") +
        Iterator.iterate(e2.getCause)(_.getCause).takeWhile(_ != null)
          .map(_.getMessage).mkString(" ")
      assert(msg2.contains("maxGroupRows"), msg2)
      // happy path at the default cap: untouched
      spark.conf.unset(graft.ops.KernelGuard.ConfKey)
      assert(Cast.despike(rows, "cast_id", "scan_order", Seq("value"),
        block = 8).count() == 100)
    } finally spark.conf.unset(graft.ops.KernelGuard.ConfKey)
  }

  test("kernel accepts a non-numeric (timestamp) order column and matches " +
       "the windowed plan") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    val rows = (for {
      cast <- 0 until 3
      i    <- 0 until 80
    } yield {
      val ts = new java.sql.Timestamp(base.getTime + i * 1000L)
      val v  = math.sin(i / 9.0) + (if (i % 23 == 0) 150.0 else 0.0)
      (cast.toLong, ts, v)
    }).toDF("cast_id", "event_time", "value")

    def collect(d: org.apache.spark.sql.DataFrame) = d
      .select("cast_id", "event_time", "value")
      .orderBy("cast_id", "event_time").collect().toSeq
    val kern = collect(Cast.despike(rows, "cast_id", "event_time",
      Seq("value"), n1 = 2.0, n2 = 6.0, block = 12))
    val wind = collect(Cast.despikeWindowed(rows, "cast_id", "event_time",
      Seq("value"), n1 = 2.0, n2 = 6.0, block = 12))
    assert(kern == wind)
    assert(kern.exists(_.isNullAt(2)), "no spike was nulled")
  }
}
