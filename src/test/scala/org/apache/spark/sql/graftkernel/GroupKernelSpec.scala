package org.apache.spark.sql.graftkernel

import org.apache.spark.sql.{DataFrame, SparkSessionExtensions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}

import graft.{GraftExtensions, SparkTestBase}
import graft.ops.{Cast, EventOps, SeqOps}

/** The per-cast kernel node itself: every kernel op plans it on any
  * session, reads any numeric column type, and treats empty input, an
  * all-NULL order column and pruned input alike. (In the node's package:
  * the extensions' strategy builder is package-private to Spark SQL.) */
class GroupKernelSpec extends SparkTestBase {
  import spark.implicits._

  // three casts of 30 scans; cast "n" has a NULL order value on every scan
  private lazy val fixture: DataFrame = (for {
    (cast, c) <- Seq("a", "b", "n").zipWithIndex
    i <- 0 until 30
  } yield {
    val ord: java.lang.Long = if (cast == "n") null else i.toLong
    // integer-valued, so an INT/BIGINT copy holds the same numbers
    val v = math.rint(math.sin(i / 3.0) * (c + 1) * 10) +
      (if (i % 11 == 4) 300.0 else 0.0)
    (cast, ord, c * 30L + i, (2 + i * 2 + c).toDouble, v)
  }).toDF("cast_id", "scan_order", "rid", "pressure", "value")

  /** (name, op, the columns the op computes or keys on) */
  private val ops: Seq[(String, DataFrame => DataFrame, Seq[String])] = Seq(
    ("lpFilter", SeqOps.lpFilter(_, "cast_id", "scan_order"),
      Seq("cast_id", "rid", "pressure")),
    ("smooth", SeqOps.smooth(_, "cast_id", "scan_order", Seq("value"), 5),
      Seq("cast_id", "rid", "value")),
    ("bindataInterpolate",
      SeqOps.bindataInterpolate(_, "cast_id", "scan_order", Seq("value")),
      Seq("cast_id", "pressure", "value")),
    ("despike", Cast.despike(_, "cast_id", "scan_order", Seq("value"),
      n1 = 2.0, n2 = 6.0, block = 8), Seq("cast_id", "rid", "value")),
    ("ewma", EventOps.ewma(_, "cast_id", "scan_order", "rid", "value", 0.3),
      Seq("cast_id", "rid", "ewma")))

  // Row.toString prints doubles round-trip exact (NaN, -0.0 included)
  private def rows(d: DataFrame, cols: Seq[String]): Seq[String] =
    d.select(cols.map(c => col(c).cast(
      if (c == "cast_id") d.schema(c).dataType else DoubleType)): _*)
      .collect().map(_.toString).toSeq.sorted

  test("an INT or BIGINT value column gives the rows of its DOUBLE copy, " +
       "and count() agrees with collect()") {
    for ((name, op, cols) <- ops; t <- Seq[DataType](IntegerType, LongType)) {
      val typed = fixture.withColumn("value", col("value").cast(t))
        .withColumn("pressure", col("pressure").cast(t))
      val out = op(typed)
      val got = out.collect()
      assert(out.count() == got.length, s"$name over $t")
      assert(rows(out, cols) == rows(op(fixture), cols), s"$name over $t")
    }
  }

  test("each kernel op plans the node on a new session with no extensions") {
    val fresh = spark.newSession()
    assert(!fresh.experimental.extraStrategies.contains(GroupKernelStrategy))
    val df = fresh.createDataFrame(fixture.rdd, fixture.schema)
    for ((name, op, _) <- ops) {
      val physical = op(df).queryExecution.sparkPlan
      assert(physical.collect { case k: GroupKernelExec => k }.length == 1,
        s"$name:\n$physical")
      assert(!physical.toString.contains("MapGroups"), s"$name:\n$physical")
    }
    GroupKernelStrategy.register(fresh)
    assert(fresh.experimental.extraStrategies.count(_ == GroupKernelStrategy) == 1)
  }

  test("GraftExtensions injects the kernel strategy") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    assert(ext.buildPlannerStrategies(spark) == Seq(GroupKernelStrategy))
  }

  test("empty input gives no rows and no task error") {
    for ((name, op, _) <- ops)
      assert(op(fixture.filter(lit(false))).collect().isEmpty, name)
  }

  test("a cast whose order values are all NULL gives the rows it gives alone") {
    val alone = fixture.filter(col("cast_id") === "n")
    for ((name, op, cols) <- ops) {
      val want = rows(op(alone), cols)
      assert(want.nonEmpty, name)
      assert(rows(op(fixture).filter(col("cast_id") === "n"), cols) == want, name)
    }
  }

  test("pruned and unpruned input give identical kernel columns, and a " +
       "projection prunes below the node") {
    val fat = fixture.withColumn("fat", repeat(lit("x"), 2000))
    for ((name, op, cols) <- ops) {
      val out = op(fat)
      assert(rows(out, cols) == rows(op(fixture), cols), name)
      val childCols = out.select(cols.map(col): _*).queryExecution.optimizedPlan
        .collect { case k: GroupKernel => k.child.output.map(_.name) }.flatten
      assert(childCols.nonEmpty && !childCols.contains("fat"), s"$name: $childCols")
    }
  }

  test("a kernel's output joins with itself") {
    val lp = SeqOps.lpFilter(fixture.filter(col("cast_id") =!= "n"),
      "cast_id", "scan_order")
    val joined = lp.join(lp.select(col("cast_id"), col("rid"),
      col("pressure").as("p2")), Seq("cast_id", "rid"))
    assert(joined.count() == 60)
    assert(joined.filter(col("pressure") =!= col("p2")).count() == 0)
  }
}
