package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

import graft.dsp.{Butterworth, FiltFilt, Interp, Kernels}

/**
 * Per-cast SEQUENTIAL kernels — operators whose recurrence cannot be
 * expressed as a Spark window function (IIR filtering, boundary-reflected
 * convolution, regridding). Each runs through [[KernelGuard.sortedGroups]]:
 * Spark clusters the rows on `castCol` and sorts each cast's 10^3-10^4
 * rows by `orderCol` (NULLS FIRST), and a pure `graft.dsp` kernel runs
 * over the columns it names; parallelism comes from cast count, which is
 * what scales at 100 TB (SURVEY §2.5). The clustering and the sort are
 * planned only where the input does not already provide them: none over
 * a scan bucketed on `castCol`, none over another per-cast kernel or
 * window on it, so a chain of them shuffles once. Columns a kernel does
 * not name pass through untouched, and a projection after the op prunes
 * them below it.
 *
 * Null discipline: sensor nulls enter kernels as NaN (numpy semantics —
 * e.g. an IIR filter smears a NaN forward, exactly like the reference) and
 * NaN results leave as null. Every column a kernel writes is DOUBLE,
 * whatever numeric type it was read from (numpy semantics again).
 */
object SeqOps {

  /** `d` into slot `k` of a written row, NaN as null. */
  private def put(w: InternalRow, k: Int, d: Double): Unit =
    if (java.lang.Double.isNaN(d)) w.setNullAt(k) else w.setDouble(k, d)

  /** Generic per-cast column transform: `kernel` maps each value column's
    * sorted samples to replacement samples of the same length. */
  private def perCastColumns(df: DataFrame, castCol: String, orderCol: String,
                             valueCols: Seq[String], op: String)(
                             kernel: Array[Double] => Array[Double]): DataFrame =
    KernelGuard.sortedGroups(df, castCol, Seq(orderCol), valueCols,
        valueCols.map(StructField(_, DoubleType)), Nil, keepRows = true, op) { g =>
      val ys = Array.tabulate(valueCols.length)(k => kernel(g.doubles(k)))
      val w = new GenericInternalRow(ys.length)
      Iterator.range(0, g.length).map { i =>
        var k = 0
        while (k < ys.length) { put(w, k, ys(k)(i)); k += 1 }
        g.emit(i, w)
      }
    }

  /**
   * Butterworth order-2 low-pass applied forward-backward (filtfilt) to the
   * PRESSURE column only — data columns untouched. Reference: `lp_filter`
   * (ctd/processing.py:49-90), wn = (1/time_constant) / (2*sample_rate).
   */
  def lpFilter(df: DataFrame, castCol: String, orderCol: String,
               pressure: String = "pressure", sampleRate: Double = 24.0,
               timeConstant: Double = 0.15): DataFrame = {
    val wn     = (1.0 / timeConstant) / (sampleRate * 2.0)
    val (b, a) = Butterworth.butter2LowPass(wn)
    perCastColumns(df, castCol, orderCol, Seq(pressure), "lpFilter")(
      FiltFilt.filtfilt(b, a, _))
  }

  /** Mirror-extended windowed convolution smoothing of the value columns.
    * Reference: `smooth` (ctd/processing.py:197-240). */
  def smooth(df: DataFrame, castCol: String, orderCol: String,
             valueCols: Seq[String], windowLen: Int = 11,
             window: String = "hanning"): DataFrame =
    perCastColumns(df, castCol, orderCol, valueCols, "smooth")(
      Kernels.smooth(_, windowLen, window))

  /**
   * `bindata(delta, method="interpolate")` (ctd/processing.py:121-123):
   * np.interp of each value column onto the per-cast grid
   * `arange(ceil(first), floor(last), delta)` (stop EXCLUSIVE; edge-clamped).
   * Output: one row per grid point — (cast, pressure, valueCols...).
   */
  def bindataInterpolate(df: DataFrame, castCol: String, orderCol: String,
                         valueCols: Seq[String], delta: Double = 1.0,
                         pressure: String = "pressure"): DataFrame =
    KernelGuard.sortedGroups(df, castCol, Seq(orderCol), pressure +: valueCols,
        Nil, (pressure +: valueCols).map(StructField(_, DoubleType)),
        keepRows = false, "bindataInterpolate") { g =>
      val xs = g.doubles(0)
      val start = math.ceil(xs.head)
      val stop  = math.floor(xs.last)
      val nGrid = math.max(0, math.ceil((stop - start) / delta - 1e-12).toInt)
      val grid  = Array.tabulate(nGrid)(k => start + k * delta)
      val cols = Array.tabulate(valueCols.length)(
        k => Interp.linear(grid, xs, g.doubles(k + 1)))
      val w = new GenericInternalRow(1 + cols.length)
      Iterator.range(0, nGrid).map { k =>
        w.setDouble(0, grid(k))
        var c = 0
        while (c < cols.length) { put(w, c + 1, cols(c)(k)); c += 1 }
        g.emit(0, w)
      }
    }
}
