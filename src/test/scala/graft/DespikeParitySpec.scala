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
  import org.apache.spark.sql.{DataFrame, Row}

  /** Sorted (cast_id, scan_order, value columns) rows of a despike result. */
  private def sortedRows(d: DataFrame, cols: Seq[String]): Seq[Row] =
    d.select("cast_id", ("scan_order" +: cols): _*)
      .orderBy("cast_id", "scan_order").collect().toSeq

  /** Asserts two sorted results agree bit-for-bit: NaN == NaN, -0.0 != 0.0,
    * null == null. */
  private def assertBits(kern: Seq[Row], ref: Seq[Row], what: String): Unit = {
    assert(kern.length == ref.length, what)
    kern.zip(ref).foreach { case (a, b) =>
      def bits(r: Row, i: Int): Any =
        if (r.isNullAt(i)) null
        else r.get(i) match {
          case d: Double => java.lang.Double.doubleToLongBits(d)
          case o => o
        }
      assert((0 until a.length).forall(i => bits(a, i) == bits(b, i)),
        s"$what: $a != $b")
    }
  }

  /** Kernel == windowed despike on `df` (cast_id, scan_order, `cols`),
    * bit-for-bit; returns the kernel's rows. */
  private def assertParity(df: DataFrame, cols: Seq[String], block: Int,
                           what: String): Seq[Row] = {
    val kern = sortedRows(Cast.despike(df, "cast_id", "scan_order", cols,
      n1 = 2.0, n2 = 6.0, block = block), cols)
    val wind = sortedRows(Cast.despikeWindowed(df, "cast_id", "scan_order",
      cols, n1 = 2.0, n2 = 6.0, block = block), cols)
    assertBits(kern, wind, what)
    kern
  }

  /** A noisy sine with a wild spike every 11 rows. */
  private def noisy(rnd: scala.util.Random, cast: Int, i: Int): Double =
    math.sin(i / 5.0) * 4 + cast + rnd.nextGaussian() +
      (if (i % 11 == 7) 400.0 else 0.0)

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

  // The stats loop advances four windows per sweep and runs the leftover
  // windows (fewer than four, or the one partial window of a cast shorter
  // than block) one at a time; one frame of casts pins both paths to the
  // windowed plan at every boundary they have.
  test("kernel == windowed at the four-window sweep's boundaries: cast " +
       "lengths block-1 .. block+8, an all-null channel, a null run longer " +
       "than block, a NaN in one lane, a plateau across sweeps") {
    import spark.implicits._
    val block = 16
    val rnd = new scala.util.Random(21)
    def v(c: Long, i: Int, x: java.lang.Double) =
      (c, i.toLong, x, null.asInstanceOf[java.lang.Double])
    // casts 15 .. 24 (id = length): every count of leftover windows, with
    // and without a four-window sweep
    val lengths = for {
      len <- (block - 1) to (block + 8)
      i   <- 0 until len
    } yield v(len, i, noisy(rnd, len, i))
    // cast 2: rows 30 .. 52 null, so the windows starting at 30 .. 37
    // hold no value
    val nullRun = (0 until 90).map { i =>
      v(2, i, if (i >= 30 && i < 53) null else noisy(rnd, 2, i))
    }
    // cast 3, length block+7: windows 0 .. 7 are two sweeps; row 0 is in
    // window 0 only (first lane of the first sweep), row block+6 in window
    // 7 only (last lane of the second). Cast 4: one NaN mid-cast.
    val nans = Seq((3, block + 7, Set(0, block + 6)), (4, 60, Set(29)))
      .flatMap { case (c, len, at) =>
        (0 until len).map { i =>
          v(c, i, if (at(i)) Double.NaN else noisy(rnd, c, i))
        }
      }
    // cast 5: plateau rows 22 .. 43; the all-plateau windows start at
    // 22 .. 28, i.e. the last two lanes of the sweep at 20, all of the
    // sweep at 24 and the first lane of the sweep at 28
    val plateau = (0 until 100).map { i =>
      v(5, i, if (i >= 22 && i < 44) 98.58 else noisy(rnd, 5, i))
    }
    val df = (lengths ++ nullRun ++ nans ++ plateau)
      .toDF("cast_id", "scan_order", "value", "v2")
    val kern = assertParity(df, Seq("value", "v2"), block, "sweep boundaries")
    val byCast = kern.groupBy(_.getLong(0))
    def nulled(rows: Seq[Row]) = rows.exists(_.isNullAt(2))

    assert(kern.forall(_.isNullAt(3)), "an all-null channel stays null")
    assert(nulled((block - 1 to block + 8).flatMap(l => byCast(l.toLong))),
      "no spike was nulled in the length casts")
    assert(byCast(2L).exists(r => r.isNullAt(2) &&
      (r.getLong(1) < 30 || r.getLong(1) >= 53)),
      "no spike was nulled around the null run")
    assert(kern.count(r => !r.isNullAt(2) && r.getDouble(2).isNaN) == 3,
      "NaN inputs survive as NaN")
    val p = byCast(5L)
    (22 until 44).foreach { i =>
      assert(!p(i).isNullAt(2) && p(i).getDouble(2) == 98.58,
        s"plateau row $i must survive despike, got ${p(i).get(2)}")
    }
    assert(nulled(p), "no spike was nulled around the plateau")
  }

  test("despike refuses a block below 1") {
    import spark.implicits._
    val df = Seq((1L, 0L, 1.0), (1L, 1L, 2.0)).toDF("cast_id", "scan_order", "value")
    Seq(0, -3).foreach { b =>
      val e = intercept[IllegalArgumentException] {
        Cast.despike(df, "cast_id", "scan_order", Seq("value"), block = b)
      }
      assert(e.getMessage.contains(s"block must be positive, got $b"))
    }
  }

  test("a cast above the in-task channel-parallel threshold despikes " +
       "exactly like its channels despiked one at a time below it") {
    import spark.implicits._
    // n x channels x block = 2,000 x 24 x 100 = 4.8M > 2^22, so the cast's
    // channels run on the ForkJoin pool; each channel alone is 200k
    val (n, nv, block) = (2000, 24, 100)
    assert(n.toLong * nv * block > (1L << 22) && n.toLong * block <= (1L << 22))
    val cols = (0 until nv).map(k => s"c$k")
    val rnd = new scala.util.Random(26)
    val rows = (0 until n).map { i =>
      Row.fromSeq(Seq(7L, i.toLong) ++ (0 until nv).map { k =>
        if ((i + k) % 97 == 0) null
        else math.sin(i / (10.0 + k)) * (k + 1) + rnd.nextGaussian() +
          (if ((i * 7 + k) % 131 == 0) 300.0 else 0.0)
      })
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("cast_id", LongType),
      StructField("scan_order", LongType)) ++
      cols.map(StructField(_, DoubleType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      schema)
    val all = sortedRows(Cast.despike(df, "cast_id", "scan_order", cols,
      block = block), cols)
    val oneAtATime = cols.map { c =>
      sortedRows(Cast.despike(df.select("cast_id", "scan_order", c),
        "cast_id", "scan_order", Seq(c), block = block), Seq(c))
    }
    val joined = oneAtATime.transpose.map(perChannel =>
      Row.fromSeq(perChannel.head.toSeq.take(2) ++ perChannel.map(_.get(2))))
    assertBits(all, joined, "parallel vs one channel at a time")
    val nullsIn = (0 until n).map(i => (0 until nv).count(k => (i + k) % 97 == 0)).sum
    assert(all.map(r => (2 until 2 + nv).count(r.isNullAt)).sum > nullsIn,
      "no spike was nulled")
  }
}
