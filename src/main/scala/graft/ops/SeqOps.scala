package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.dsp.{Butterworth, FiltFilt, Interp, Kernels}

/**
 * Per-cast SEQUENTIAL kernels — operators whose recurrence cannot be
 * expressed as a Spark window function (IIR filtering, boundary-reflected
 * convolution, regridding). Each runs through [[KernelGuard.sortedGroups]]:
 * one shuffle on `castCol` (none over a scan bucketed on it), Spark sorts
 * the 10^3-10^4 rows of one cast by `orderCol` (NULLS FIRST), and a pure
 * `graft.dsp` kernel runs over them; parallelism comes from cast count,
 * which is what scales at 100 TB (SURVEY §2.5). All are optimization
 * barriers — apply filters/projections BEFORE these ops so Catalyst can
 * push them into the scan.
 *
 * Null discipline: sensor nulls enter kernels as NaN (numpy semantics —
 * e.g. an IIR filter smears a NaN forward, exactly like the reference) and
 * NaN results leave as null.
 */
object SeqOps {

  private def numAt(r: Row, i: Int): Double = r.get(i) match {
    case null      => Double.NaN
    case n: Number => n.doubleValue()
    case other     => throw new IllegalArgumentException(s"non-numeric value $other")
  }

  private def box(d: Double): Any =
    if (java.lang.Double.isNaN(d)) null else java.lang.Double.valueOf(d)

  /** Generic per-cast column transform: `kernel` maps each value column's
    * sorted samples to replacement samples of the same length. */
  private def perCastColumns(df: DataFrame, castCol: String, orderCol: String,
                             valueCols: Seq[String])(
                             kernel: Array[Double] => Array[Double]): DataFrame = {
    val schema = df.schema
    val valIdx = valueCols.map(schema.fieldIndex)
    KernelGuard.sortedGroups(df, castCol, Seq(orderCol), schema,
        "perCastColumns") { rows =>
      val replaced: Map[Int, Array[Double]] = valIdx.map { vi =>
        vi -> kernel(rows.map(numAt(_, vi)))
      }.toMap
      rows.iterator.zipWithIndex.map { case (r, i) =>
        val vals = Array.tabulate[Any](schema.length) { c =>
          replaced.get(c) match {
            case Some(ys) => box(ys(i))
            case None     => r.get(c)
          }
        }
        Row.fromSeq(vals.toIndexedSeq)
      }
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
    perCastColumns(df, castCol, orderCol, Seq(pressure))(FiltFilt.filtfilt(b, a, _))
  }

  /** Mirror-extended windowed convolution smoothing of the value columns.
    * Reference: `smooth` (ctd/processing.py:197-240). */
  def smooth(df: DataFrame, castCol: String, orderCol: String,
             valueCols: Seq[String], windowLen: Int = 11,
             window: String = "hanning"): DataFrame =
    perCastColumns(df, castCol, orderCol, valueCols)(Kernels.smooth(_, windowLen, window))

  /**
   * `bindata(delta, method="interpolate")` (ctd/processing.py:121-123):
   * np.interp of each value column onto the per-cast grid
   * `arange(ceil(first), floor(last), delta)` (stop EXCLUSIVE; edge-clamped).
   * Output: one row per grid point — (cast, pressure, valueCols...).
   */
  def bindataInterpolate(df: DataFrame, castCol: String, orderCol: String,
                         valueCols: Seq[String], delta: Double = 1.0,
                         pressure: String = "pressure"): DataFrame = {
    val schema  = df.schema
    val castIdx = schema.fieldIndex(castCol)
    val pIdx    = schema.fieldIndex(pressure)
    val valIdx  = valueCols.map(schema.fieldIndex)
    val outSchema = StructType(
      schema(castIdx) +: StructField(pressure, DoubleType) +:
        valueCols.map(StructField(_, DoubleType)))
    KernelGuard.sortedGroups(df, castCol, Seq(orderCol), outSchema,
        "bindataInterpolate") { rows =>
      val xs = rows.map(numAt(_, pIdx))
      val start = math.ceil(xs.head)
      val stop  = math.floor(xs.last)
      val nGrid = math.max(0, math.ceil((stop - start) / delta - 1e-12).toInt)
      val grid  = Array.tabulate(nGrid)(k => start + k * delta)
      val castVal = rows.head.get(castIdx)
      val cols = valIdx.map(vi => Interp.linear(grid, xs, rows.map(numAt(_, vi)))).toArray
      grid.iterator.zipWithIndex.map { case (g, k) =>
        Row.fromSeq(castVal +: java.lang.Double.valueOf(g) +:
          cols.map(c => box(c(k))).toIndexedSeq)
      }
    }
  }
}
