package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/**
 * The one place that decides how a per-cast sequential kernel
 * ([[Cast.despike]], [[SeqOps]], [[EventOps.ewma]]) sees its data: how a
 * group is keyed, ordered and bounded.
 *
 *  - Keyed: Spark's typed grouping on the key column itself, so a NULL key
 *    is its own group, apart from the string "null", and a scan bucketed
 *    on the key plans no exchange.
 *  - Ordered: Spark sorts each group before the kernel sees it, in its
 *    ascending order (NULLS FIRST, NaN greatest, -0.0 = 0.0, UTF8 byte
 *    order) — the order `Window.partitionBy(key).orderBy(...)` uses, so a
 *    kernel and its windowed sibling see the same sequence.
 *  - Bounded: each task materializes ONE group (documented 10^3-10^4 rows,
 *    SURVEY §2.5). A malformed input — e.g. a constant cast-id column
 *    turning a 100M-row table into one "cast" — would otherwise OOM the
 *    executor with a generic heap error that names nothing. The
 *    `graft.kernel.maxGroupRows` cap turns that into a loud, immediate
 *    error naming the offending group key and the conf to raise.
 *
 * The default cap (2M rows) is ~200x the documented cast size yet well
 * under a task's share of executor memory; raise per-session via
 * `spark.conf.set("graft.kernel.maxGroupRows", n)` for genuinely huge
 * casts. The happy path pays one integer compare per row.
 */
object KernelGuard {
  val ConfKey = "graft.kernel.maxGroupRows"
  val DefaultMaxGroupRows: Int = 2000000

  /** Run `kernel` once per `keyCol` group over the group's rows sorted by
    * `orderCols`; the kernel's rows must match `outSchema`. `op` names the
    * caller in the cap error. An optimization barrier: prune `df` to the
    * columns the kernel needs BEFORE calling, or every unused column rides
    * the shuffle and the external-Row decode. */
  def sortedGroups(df: DataFrame, keyCol: String, orderCols: Seq[String],
                   outSchema: StructType, op: String)(
                   kernel: Array[Row] => Iterator[Row]): DataFrame = {
    // resolved at PLAN time (driver side): the closure captures an Int
    val cap = df.sparkSession.conf.get(ConfKey, DefaultMaxGroupRows.toString).toInt
    df.groupBy(col(keyCol))
      .as[Row, Row](Encoders.row(StructType(Seq(df.schema(keyCol)))),
        Encoders.row(df.schema))
      .flatMapSortedGroups(orderCols.map(col): _*) { (key, it) =>
        val buf = new scala.collection.mutable.ArrayBuffer[Row](256)
        while (it.hasNext) {
          buf += it.next()
          if (buf.length > cap)
            throw new IllegalStateException(
              s"$op: cast group $keyCol=${key.get(0)} exceeds $ConfKey=$cap " +
              "rows — the per-cast kernels materialize one cast per task " +
              "and this group does not look like a cast. Check the cast-id " +
              s"column, or raise the cap with spark.conf.set(\"$ConfKey\", n).")
        }
        kernel(buf.toArray)
      }(Encoders.row(outSchema))
  }
}
