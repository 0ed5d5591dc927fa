package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Cast, EventOps, KernelGuard, SeqOps}

/** Edge keys, one table for every per-cast sequential kernel: a NULL cast
  * folds apart from the string "null" cast, a NULL order value sorts FIRST
  * (Spark's ascending order, the one `Window.orderBy` uses), and a group
  * past `graft.kernel.maxGroupRows` fails naming its key. */
class CastGroupKeySpec extends SparkTestBase {
  import spark.implicits._

  // two casts that print identically (NULL and "null"), 40 scans each;
  // each cast's first scan has a NULL order value
  private lazy val fixture: DataFrame = (for {
    c <- 0 until 2
    i <- 0 until 40
  } yield {
    val cast: String = if (c == 0) null else "null"
    val ord: java.lang.Long = if (i == 0) null else i.toLong
    val v = math.sin(i / 3.0) * (c + 1) * 10 + (if (i % 17 == 5) 300.0 else 0.0)
    (cast, ord, c * 40L + i, 1.0 + i * 0.5 + c * 0.25, v)
  }).toDF("cast_id", "scan_order", "rid", "pressure", "value")

  private val kernels: Seq[(String, DataFrame => DataFrame)] = Seq(
    "lpFilter" -> (SeqOps.lpFilter(_, "cast_id", "scan_order")),
    "smooth" -> (SeqOps.smooth(_, "cast_id", "scan_order", Seq("value"), 5)),
    "bindataInterpolate" ->
      (SeqOps.bindataInterpolate(_, "cast_id", "scan_order", Seq("value"))),
    "despike" -> (Cast.despike(_, "cast_id", "scan_order", Seq("value"),
      n1 = 2.0, n2 = 6.0, block = 8)),
    "ewma" -> (EventOps.ewma(_, "cast_id", "scan_order", "rid", "value", 0.3)))

  // Row.toString prints doubles round-trip exact (NaN, -0.0 included)
  private def rows(d: DataFrame): Seq[String] =
    d.collect().map(_.toString).toSeq.sorted

  test("every kernel: each cast's series equals that cast run alone " +
       "(a NULL cast never merges with the string \"null\")") {
    for ((name, op) <- kernels;
         cast <- Seq(col("cast_id").isNull, col("cast_id") === "null")) {
      val alone = rows(op(fixture.filter(cast)))
      assert(alone.nonEmpty, s"$name: empty output for $cast")
      assert(rows(op(fixture).filter(cast)) == alone, s"$name: $cast")
    }
  }

  test("every kernel: NULL order rows sort first") {
    // a NULL order value must act exactly like one below every other
    val lowest = fixture.withColumn("scan_order",
      coalesce(col("scan_order"), lit(-1L)))
    for ((name, op) <- kernels)
      assert(rows(op(fixture).drop("scan_order")) ==
        rows(op(lowest).drop("scan_order")), name)
  }

  test("every kernel refuses a group over graft.kernel.maxGroupRows, " +
       "naming the group key") {
    val oneGroup = fixture.withColumn("cast_id", lit("c1"))
    spark.conf.set(KernelGuard.ConfKey, "50")
    try {
      for ((name, op) <- kernels) {
        val e = intercept[Exception](op(oneGroup).collect())
        val msg = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).map(_.getMessage).mkString(" ")
        assert(msg.contains(KernelGuard.ConfKey) && msg.contains("cast_id=c1"),
          s"$name: $msg")
      }
      // a cap that is not a positive integer is refused when the op is
      // built, before any action, naming the key and the value
      for (bad <- Seq("abc", "0", "-5"); (name, op) <- kernels) {
        spark.conf.set(KernelGuard.ConfKey, bad)
        val e = intercept[IllegalArgumentException](op(oneGroup))
        assert(e.getMessage.contains(KernelGuard.ConfKey) &&
          e.getMessage.contains(s"'$bad'"), s"$name, $bad: ${e.getMessage}")
      }
    } finally spark.conf.unset(KernelGuard.ConfKey)
  }
}
