package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftkernel.{GroupKernel, GroupRows}
import org.apache.spark.sql.types.StructField

/**
 * The one place that decides how a per-cast sequential kernel
 * ([[Cast.despike]], [[SeqOps]], [[EventOps.ewma]]) sees its data: how a
 * group is keyed, ordered and bounded.
 *
 *  - Keyed: a clustered distribution on the key column itself, so a NULL
 *    key is its own group, apart from the string "null", and a scan
 *    bucketed on the key plans no exchange.
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
 * The kernel runs inside one planner node
 * ([[org.apache.spark.sql.graftkernel.GroupKernel]]) over InternalRow: it
 * reads and writes only the columns it names, every other column passes
 * through by ordinal under its own attribute, so column pruning reaches
 * below the node and the node keeps its input's cast partitioning (and,
 * when it keeps rows, their order). A chain of kernels and per-cast
 * windows on one key therefore shuffles and sorts once.
 *
 * The default cap (2M rows) is ~200x the documented cast size yet well
 * under a task's share of executor memory; raise per-session via
 * `spark.conf.set("graft.kernel.maxGroupRows", n)` for genuinely huge
 * casts. A value that is not a positive integer fails when the op is
 * built, naming the key. The happy path pays one integer compare per row.
 */
object KernelGuard {
  val ConfKey = "graft.kernel.maxGroupRows"
  val DefaultMaxGroupRows: Int = 2000000

  /** Run `kernel` once per `keyCol` group over the group's rows sorted by
    * `orderCols`. The kernel reads the numeric columns `reads`, writes
    * `rewrites` in place of the first `rewrites.length` of them and adds
    * `appends` after them (all nullable). With `keepRows` it emits one row
    * per input row in input order and the other columns pass through;
    * without it the output is `keyCol` followed by the written columns.
    * `op` names the caller in the cap error. */
  def sortedGroups(df: DataFrame, keyCol: String, orderCols: Seq[String],
                   reads: Seq[String], rewrites: Seq[StructField],
                   appends: Seq[StructField], keepRows: Boolean, op: String)(
                   kernel: GroupRows => Iterator[InternalRow]): DataFrame = {
    // resolved at PLAN time (driver side): the node carries an Int
    val raw = df.sparkSession.conf.get(ConfKey, DefaultMaxGroupRows.toString)
    val cap = raw.toIntOption.getOrElse(0)
    require(cap > 0, s"$ConfKey must be a positive integer, got '$raw'")
    GroupKernel(df, op, keyCol, orderCols, reads, rewrites, appends, keepRows,
      cap)(kernel)
  }
}
