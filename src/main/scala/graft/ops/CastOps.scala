package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/**
 * Relational (Catalyst-optimizable) cast operators.
 *
 * The reference (pyoceans/python-ctd) operates on a single pandas DataFrame
 * indexed by pressure; here a DataFrame holds MANY casts keyed by `castCol`,
 * totally ordered within a cast by `orderCol` (parse-time scan/line number —
 * row order is load-bearing in pandas but undefined in Spark, see SURVEY §7.4).
 *
 * Every operator is `DataFrame => DataFrame` and purely declarative where
 * possible so that predicate pushdown / column pruning / exchange reuse apply.
 * Genuinely sequential kernels (lp_filter, smooth, bindata-interpolate) live
 * in [[SeqOps]]; press_check turned out to be window-expressible (below).
 */
object Cast {

  /** Rows with `pressure < 0` are above the waterline — drop them.
    * Reference: ctd/processing.py:21-25 (`remove_above_water`). */
  def removeAboveWater(df: DataFrame, pressure: String = "pressure"): DataFrame =
    removeUpTo(df, 0.0, pressure)

  /** Drop rows with `pressure < idx`. Reference: ctd/processing.py:28-35. */
  def removeUpTo(df: DataFrame, idx: Double, pressure: String = "pressure"): DataFrame =
    df.filter(col(pressure) >= lit(idx))

  /**
   * Label each row `down` / `up`: the downcast is rows up to and including the
   * FIRST row (in scan order) attaining the cast's maximum pressure; the rest
   * is the upcast. Reference: ctd/processing.py:38-46 (`split`), which slices
   * `[0, argmax]` / `(argmax, end]` positionally.
   *
   * Relational form: one window over `castCol` — no sequential kernel needed.
   * The reference also REVERSES the upcast; in Spark row order is a sort
   * downstream, so we expose `direction` and leave ordering to the caller.
   */
  def split(df: DataFrame, castCol: String, orderCol: String,
            pressure: String = "pressure"): DataFrame = {
    val wOrd  = Window.partitionBy(castCol).orderBy(col(orderCol))
    val wAll  = Window.partitionBy(castCol)
    val rn    = row_number().over(wOrd)
    val pmax  = max(col(pressure)).over(wAll)
    // first row number attaining the max
    val argmax = min(when(col(pressure) === pmax, rn)).over(wAll)
    df.withColumn("__rn", rn)
      .withColumn("direction", when(col("__rn") <= argmax, lit("down")).otherwise(lit("up")))
      .drop("__rn")
  }

  /**
   * Average-bin `valueCols` into fixed-width pressure bins of width `delta`.
   *
   * Reference: ctd/processing.py:112-143 (`bindata(method="average")`):
   * `start = ceil(index[0])`, `end = floor(index[-1])`, bins are
   * RIGHT-CLOSED intervals `(start + k*delta, start + (k+1)*delta]`
   * (pandas `cut` default) labelled at `left + delta/2`, and EMPTY BINS ARE
   * KEPT as null rows (`observed=False`).
   *
   * `index[0]` / `index[-1]` = first/last value in scan order (down-casts are
   * ascending so these are min/max for them).
   *
   * Spark form: bin id via `ceil((p - start)/delta)` (right-closed), groupBy
   * (cast, bin) with map-side partial aggregation. A NULL cast id is one
   * cast, as in the per-cast kernels.
   *
   * `edgesViaWindow` picks how the per-cast (start, end) scalars are
   * derived — same values either way (bit-identical output, pinned by
   * KernelSpec's parity test), different execution shape:
   *  - `false` (default): a separate groupBy aggregate over `df` +
   *    broadcast join, and the empty-bin spine is `sequence()` + `explode`
   *    over those edges, left-joined — two scalars per cast don't justify
   *    a full window sort over every sample row (VERDICT r1 "What's
   *    wrong" #5), and on a COLUMNAR SCAN upstream the second pass is a
   *    pruned 3-column read, so fact rows never shuffle. The right shape
   *    at 100 TB parquet.
   *  - `true`: first/last over an unbounded window per cast, and the
   *    empty bins ride the same rows into the one aggregate — ONE
   *    upstream execution, one hash exchange, no join. The right shape
   *    when `df` is a COMPUTE-HEAVY pipeline (the QC chain: any second
   *    reference to `df` re-runs parse+despike, and the windows here
   *    reuse the kernels' cast partitioning and order, so the whole
   *    chain shuffles and sorts once).
   */
  def bindataAverage(df: DataFrame, castCol: String, orderCol: String,
                     valueCols: Seq[String], delta: Double = 1.0,
                     pressure: String = "pressure",
                     keepEmpty: Boolean = true,
                     edgesViaWindow: Boolean = false): DataFrame =
    if (edgesViaWindow)
      bindataAverageWindowed(df, castCol, orderCol, valueCols, delta,
        pressure, keepEmpty)
    else
      bindataAverageRescan(df, castCol, orderCol, valueCols, delta,
        pressure, keepEmpty)

  private def bindataAverageRescan(
      df: DataFrame, castCol: String, orderCol: String,
      valueCols: Seq[String], delta: Double, pressure: String,
      keepEmpty: Boolean): DataFrame = {
    // Per-cast first/last pressure (in scan order) as a partial-aggregable
    // groupBy + broadcast join — two scalars per cast don't justify a full
    // window sort over every sample row (VERDICT r1 "What's wrong" #5).
    // Both joins on the cast are null-safe (<=>): a NULL cast keeps its bins.
    val edges = df.groupBy(col(castCol).as("__c")).agg(
      ceil(min_by(col(pressure), col(orderCol))).cast(DoubleType).as("__start"),
      floor(max_by(col(pressure), col(orderCol))).cast(DoubleType).as("__end"))
    val withEdges = df.join(broadcast(edges), col(castCol) <=> col("__c"))
      .drop("__c")
    // Reference edges = np.arange(start, stop, delta) (stop EXCLUSIVE), so
    // nbins = ceil((stop-start)/delta) - 1; values beyond the last edge fall
    // outside every bin. pd.cut is right-closed: x in (left, right] -> bin
    // k = ceil((x-start)/delta) - 1; x == start (leftmost edge) is dropped.
    val k = (ceil((col(pressure) - col("__start")) / lit(delta)) - lit(1)).cast("long")
    val nbins = (ceil((col("__end") - col("__start")) / lit(delta)) - lit(1)).cast("long")
    val binned = withEdges
      .withColumn("__k", k)
      .withColumn("__nbins", nbins)
      .filter(col(pressure) > col("__start") && col("__k") < col("__nbins"))
    val aggs = valueCols.map(c => avg(col(c)).as(c))
    val grouped = binned.groupBy(col(castCol), col("__start"), col("__k"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn(pressure, col("__start") + (col("__k") + lit(0.5)) * lit(delta))
    val out =
      if (!keepEmpty) grouped
      else {
        // spine: one row per (cast, k) for k in [0, nbins) — pandas
        // observed=False keeps empty bins as null rows. Built from the
        // already-computed broadcast-sized `edges` (one row per cast);
        // re-aggregating the joined fact table cost a third full scan —
        // on the ctd source, a full re-parse of every cast file.
        val spine = edges
          .withColumn("__nb", (ceil((col("__end") - col("__start")) / lit(delta)) - lit(1)).cast("long"))
          .filter(col("__nb") > 0)
          .withColumn("__sk", explode(sequence(lit(0L), col("__nb") - 1)))
          .withColumn(pressure, col("__start") + (col("__sk") + lit(0.5)) * lit(delta))
          .select(col("__c"), col("__sk"), col(pressure))
        spine.join(grouped.drop(pressure, "__start"),
            col("__c") <=> col(castCol) && col("__sk") === col("__k"), "left")
          .withColumn(castCol, col("__c"))
      }
    out.select(castCol, (pressure +: valueCols): _*)
  }

  private def bindataAverageWindowed(
      df: DataFrame, castCol: String, orderCol: String,
      valueCols: Seq[String], delta: Double, pressure: String,
      keepEmpty: Boolean): DataFrame = {
    // one hash exchange on the cast key; first/last in SCAN order over the
    // unbounded frame == the rescan mode's min_by/max_by(orderCol). The
    // row_number rides the same sort, marking one seed row per cast.
    val wUnb = Window.partitionBy(col(castCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wRn = Window.partitionBy(col(castCol)).orderBy(col(orderCol))
    val start = ceil(first(col(pressure)).over(wUnb)).cast(DoubleType)
    val end = floor(last(col(pressure)).over(wUnb)).cast(DoubleType)
    val withEdges = df
      .withColumn("__start", start)
      .withColumn("__nbins",
        (ceil((end - col("__start")) / lit(delta)) - lit(1)).cast("long"))
      .withColumn("__rn", row_number().over(wRn))
      .withColumn("__k",
        (ceil((col(pressure) - col("__start")) / lit(delta)) - lit(1))
          .cast("long"))
    val inBin = col(pressure) > col("__start") && col("__k") < col("__nbins")
    // each row explodes to the bins it feeds: an in-bin row to its own bin
    // and, with keepEmpty, each cast's __rn == 1 seed row to EVERY bin
    // (pandas observed=False keeps empty bins as null rows). The seed is
    // picked before any bin test, so a cast whose every sample falls
    // outside the bins still keeps its all-empty bins. A value enters only
    // its own bin's average, so a bin no sample reaches averages to null.
    val ownBin = when(inBin, array(col("__k")))
    val feeds =
      if (!keepEmpty) ownBin
      else when(col("__rn") === 1 && col("__nbins") > 0,
        sequence(lit(0L), col("__nbins") - 1)).otherwise(ownBin)
    val aggs = valueCols.map(c =>
      avg(when(inBin && col("__e") === col("__k"), col(c))).as(c))
    withEdges.withColumn("__e", explode(feeds))
      .groupBy(col(castCol), col("__start"), col("__e"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(castCol) +:
        (col("__start") + (col("__e") + lit(0.5)) * lit(delta)).as(pressure) +:
        valueCols.map(col): _*)
  }

  /**
   * Centered moving average with numpy `convolve(..., "same")` semantics:
   * ZERO-padded edges — the window sum near the boundary is divided by the
   * FULL window size `w`, damping edge values (do not "fix" silently,
   * SURVEY §7.4 item 5). Reference: ctd/processing.py:243-262.
   *
   * numpy 'same' alignment: output[i] = sum(x[i-(w-1)+(w-1)/2 .. i+(w-1)/2])/w
   * (integer division) — odd w: symmetric +/-(w-1)/2; even w: [i-w/2, i+w/2-1].
   * A null inside the window propagates (numpy NaN arithmetic), unlike Spark's
   * null-ignoring sum — guarded explicitly.
   */
  def movingAverage(df: DataFrame, castCol: String, orderCol: String,
                    valueCols: Seq[String], windowSize: Int = 48): DataFrame = {
    val hi = (windowSize - 1) / 2
    val lo = hi - (windowSize - 1)
    val w = Window.partitionBy(castCol).orderBy(col(orderCol)).rowsBetween(lo, hi)
    valueCols.foldLeft(df) { (d, c) =>
      val hasNull = count(lit(1)).over(w) > count(col(c)).over(w)
      d.withColumn(c,
        when(hasNull, lit(null).cast(DoubleType))
          .otherwise(coalesce(sum(col(c)).over(w), lit(0.0)) / lit(windowSize.toDouble)))
    }
  }

  /**
   * Seabird Wild Edit two-pass despike. Reference: ctd/processing.py:146-194.
   *
   * Pass 1: forward-looking rolling window of `block` rows; null-ignoring mean
   * and POPULATION std (numpy ma ddof=0 — hence `stddev_pop`, SURVEY §7.4
   * item 4); values `|x - mean| > n1*std` -> null.
   * Pass 2: recompute rolling stats on the CLEANED data; flag ORIGINAL values
   * beyond `n2*std` -> null in the output.
   *
   * Tail padding (processing.py:157-158): rows past the last full window reuse
   * the stats of the last full window (start row `n - block`, 0-based). We
   * reproduce that by computing per-row forward stats, then substituting the
   * stats of row `min(i, n-block)` via a self-equi-join-free window trick:
   * the stats at fixed row `n-block+1` (1-based) are spread with `max(when(...))`.
   *
   * Divergence: a cast SHORTER than `block` crashes the reference (negative
   * stride-tricks shape); here it degrades to partial-window stats.
   *
   * `refExact = true` (r15) swaps the rolling mean/std arithmetic for a
   * BIT-exact replica of the reference's `numpy.ma` reductions
   * ([[graft.dsp.NumpyPairwise]]): fill-zero pairwise summation over the
   * full window, two-pass variance, non-finite values masked like
   * `masked_invalid`. On step-quantized channels many points sit exactly
   * AT the `|x - mean| = n*std` threshold, where the keep/flag decision is
   * made by summation-order ulps — refExact makes the engine land every
   * one of those decisions where the reference landed it (this is what
   * lets q181b hash-anchor all 46,656 QC-chain cells with no exclusion
   * list). The DEFAULT (false) keeps the Spark-recurrence arithmetic that
   * `despikeWindowed`/DespikeParitySpec and the q09 DuckDB oracle replay:
   * refExact's pairwise trees are not expressible as a Spark window plan
   * or portable SQL, so the declarative siblings pin the default path and
   * the reference-executed golden parquet pins the refExact path.
   */
  def despike(df: DataFrame, castCol: String, orderCol: String,
              valueCols: Seq[String], n1: Double = 2.0, n2: Double = 20.0,
              block: Int = 100,
              refExact: Boolean = false): DataFrame = {
    require(block > 0, s"despike: block must be positive, got $block")
    // Execution strategy: a per-cast SEQUENTIAL kernel (the SeqOps
    // pattern), not a window plan. The sliding-frame rolling stats are
    // O(rows x block) arithmetic either way, but WindowExec re-aggregates
    // each frame through un-codegen'd aggregate buffers — measured ~6x
    // slower per core than a one-window-at-a-time primitive loop on the
    // 4-cast 330k-row QC-chain benchmark (BenchChain; the reference's
    // numpy stride-tricks rolling is the same O(n*w) in C). `stats`
    // below sweeps four windows at once, which took perfbench's traced
    // qc_cruise despike step from 0.47 to 0.20 s a pass on a 4-core
    // box (32 casts x 26 channels x 1,500 rows, block 100). The kernel node
    // clusters on castCol only where its input is not already clustered
    // there (a bucketed scan, an upstream kernel or window on castCol),
    // reads only the value columns and passes the rest through;
    // parallelism = cast count — exactly the property that scales at
    // 100 TB. The kernel replicates Spark's own Average and
    // CentralMomentAgg (stddev_pop) update recurrences
    // operation-for-operation, so results are bit-identical to the
    // windowed plan (`despikeWindowed`, kept below; DespikeParitySpec
    // pins equality and the q09 DuckDB oracle is unchanged).
    //
    // flagged cells become null regardless of the column's declared
    // nullability (same schema change the windowed `when` produced); the
    // helper's sort is the Window.orderBy(col(orderCol)) order
    // despikeWindowed uses, over ANY orderable order column
    val valFields = valueCols.map(c => df.schema(c).copy(nullable = true))
    KernelGuard.sortedGroups(df, castCol, Seq(orderCol), valueCols, valFields,
        Nil, keepRows = true, "despike") {
      g =>
        val n = g.length
        val idx0 = math.max(0, n - block) // last full-window start (0-based)
        // forward-window mean/stddev_pop at rows [0, idx0] of (v, vNull),
        // replicating Spark's agg recurrences (sum/count for avg;
        // CentralMomentAgg delta/deltaN/m2 for stddev_pop) in frame order;
        // pass() never reads past idx0 (tail rows reuse the stats there).
        // Each window's update is one serial chain (subtract -> divide ->
        // add), so the loop is bound by latency: one sweep over j < block
        // advances FOUR windows (i .. i+3), whose chains are independent
        // and overlap in the pipeline. Each lane keeps its own state and
        // runs its operations in exactly the single-window order, so its
        // bits are those of the leftover loop and of the windowed plan.
        // The counters are doubles: counts below 2^53 are exact, `delta /
        // cnt` is the same IEEE division as with a long count, and no
        // long->double convert sits on the chain. The lanes are spelled
        // out: a local helper over these vars would box them (DoubleRef),
        // and lane-state arrays lose the overlap.
        def stats(v: Array[Double], vNull: Array[Boolean])
            : (Array[Double], Array[Double], Array[Boolean]) = {
          val m = new Array[Double](n)
          val s = new Array[Double](n)
          val empty = new Array[Boolean](n)
          def finish(i: Int, cnt: Double, sum: Double, aM2: Double,
                     lo: Double, hi: Double, sawNaN: Boolean): Unit =
            // sawNaN disables the guard for parity with the windowed
            // form, where max() returns NaN (NaN sorts greatest) and the
            // lo===hi test goes false on any NaN-containing window
            if (cnt == 0) empty(i) = true
            else if (!sawNaN && lo == hi) {
              // EXACTLY-CONSTANT window (r14): the recurrences below give
              // mean = c +- rounding and a variance that can cancel to 0,
              // so |c - mean| lands at ~1e-14 > n*0 and a whole constant
              // plateau gets flagged — 6,513 binned cells of the q181b
              // step-quantized channels, measured. The reference's numpy
              // two-pass never flags a constant window (its residual is
              // |d| and its threshold n*|d| with n>=1, for whatever
              // rounding d its pairwise mean commits), so the exact
              // mean = c, std = 0 here reproduces the reference decision
              // for every in-window point (0 > 0 false -> keep) and for
              // any realistic out-of-window point (both sides flag
              // anything differing from c by more than ~2 ulp).
              m(i) = lo; s(i) = 0.0
            }
            else { m(i) = sum / cnt; s(i) = math.sqrt(aM2 / cnt) }
          var i = 0
          // four full windows [i+l, i+l+block): i+3 <= idx0 implies
          // n >= block + 3, so every one of them lies inside the cast
          while (i + 3 <= idx0) {
            var c0 = 0.0; var s0 = 0.0; var a0 = 0.0; var q0 = 0.0
            var lo0 = Double.NaN; var hi0 = Double.NaN; var nan0 = false
            var c1 = 0.0; var s1 = 0.0; var a1 = 0.0; var q1 = 0.0
            var lo1 = Double.NaN; var hi1 = Double.NaN; var nan1 = false
            var c2 = 0.0; var s2 = 0.0; var a2 = 0.0; var q2 = 0.0
            var lo2 = Double.NaN; var hi2 = Double.NaN; var nan2 = false
            var c3 = 0.0; var s3 = 0.0; var a3 = 0.0; var q3 = 0.0
            var lo3 = Double.NaN; var hi3 = Double.NaN; var nan3 = false
            var j = i
            val end = i + block
            while (j < end) {
              if (!vNull(j)) {
                val x = v(j)
                c0 += 1
                s0 += x
                val d = x - a0
                val dN = d / c0
                a0 += dN
                q0 += d * (d - dN)
                if (x != x) nan0 = true
                else if (c0 == 1 || lo0 != lo0) { lo0 = x; hi0 = x }
                else { if (x < lo0) lo0 = x; if (x > hi0) hi0 = x }
              }
              if (!vNull(j + 1)) {
                val x = v(j + 1)
                c1 += 1
                s1 += x
                val d = x - a1
                val dN = d / c1
                a1 += dN
                q1 += d * (d - dN)
                if (x != x) nan1 = true
                else if (c1 == 1 || lo1 != lo1) { lo1 = x; hi1 = x }
                else { if (x < lo1) lo1 = x; if (x > hi1) hi1 = x }
              }
              if (!vNull(j + 2)) {
                val x = v(j + 2)
                c2 += 1
                s2 += x
                val d = x - a2
                val dN = d / c2
                a2 += dN
                q2 += d * (d - dN)
                if (x != x) nan2 = true
                else if (c2 == 1 || lo2 != lo2) { lo2 = x; hi2 = x }
                else { if (x < lo2) lo2 = x; if (x > hi2) hi2 = x }
              }
              if (!vNull(j + 3)) {
                val x = v(j + 3)
                c3 += 1
                s3 += x
                val d = x - a3
                val dN = d / c3
                a3 += dN
                q3 += d * (d - dN)
                if (x != x) nan3 = true
                else if (c3 == 1 || lo3 != lo3) { lo3 = x; hi3 = x }
                else { if (x < lo3) lo3 = x; if (x > hi3) hi3 = x }
              }
              j += 1
            }
            finish(i, c0, s0, q0, lo0, hi0, nan0)
            finish(i + 1, c1, s1, q1, lo1, hi1, nan1)
            finish(i + 2, c2, s2, q2, lo2, hi2, nan2)
            finish(i + 3, c3, s3, q3, lo3, hi3, nan3)
            i += 4
          }
          // the leftover windows (fewer than four, or the one partial
          // window of a cast shorter than block), one at a time
          while (i <= idx0) {
            val end = math.min(i + block, n)
            var cnt = 0.0; var sum = 0.0
            var aAvg = 0.0; var aM2 = 0.0
            var lo = Double.NaN; var hi = Double.NaN
            var sawNaN = false
            var j = i
            while (j < end) {
              if (!vNull(j)) {
                val x = v(j)
                cnt += 1
                sum += x
                val delta  = x - aAvg
                val deltaN = delta / cnt
                aAvg += deltaN
                aM2  += delta * (delta - deltaN)
                if (x != x) sawNaN = true
                else if (cnt == 1 || lo != lo) { lo = x; hi = x }
                else { if (x < lo) lo = x; if (x > hi) hi = x }
              }
              j += 1
            }
            finish(i, cnt, sum, aM2, lo, hi, sawNaN)
            i += 1
          }
          (m, s, empty)
        }
        // refExact stats: numpy.ma masked_invalid(rolling).mean/std —
        // masked = null OR non-finite (numpy masks NaN and +-inf), every
        // reduction a fill-zero pairwise sum over the full window. No
        // constant-plateau guard here: with the reference's own
        // arithmetic the plateau decisions fall out correct by
        // construction (the r14 guard compensated for the recurrence
        // arithmetic, which this path does not use).
        def statsNumpy(v: Array[Double], vNull: Array[Boolean])
            : (Array[Double], Array[Double], Array[Boolean]) = {
          val m = new Array[Double](n)
          val s = new Array[Double](n)
          val empty = new Array[Boolean](n)
          val statMask = new Array[Boolean](n)
          var t = 0
          while (t < n) {
            statMask(t) = vNull(t) || !java.lang.Double.isFinite(v(t))
            t += 1
          }
          // r16: scratch-free kernels (NumpyPairwise.maskedSum /
          // maskedSqDevSum — the fill is inlined into the same pairwise
          // tree, so every bit is unchanged; NumpyPairwiseSpec pins it),
          // no boxed tuple per window, and the loop stops at idx0: pass()
          // below never reads stats past the last full-window start (tail
          // rows reuse the stats at idx0), so the shrinking tail windows
          // were pure waste.
          // the count slides: every window in [0, idx0] is full-length
          // (len == block when n >= block; the single window when
          // n < block), so cnt(i) = cnt(i-1) - unmasked(i-1) +
          // unmasked(i+block-1) — an exact integer recurrence
          var i = 0
          var cnt =
            graft.dsp.NumpyPairwise.maskedCount(statMask, 0, math.min(block, n))
          while (i <= idx0) {
            val len = math.min(i + block, n) - i
            if (cnt == 0) empty(i) = true
            else {
              val mean =
                graft.dsp.NumpyPairwise.maskedSum(v, statMask, i, len) * 1.0 / cnt
              val variance = graft.dsp.NumpyPairwise
                .maskedSqDevSum(v, statMask, i, len, mean) / cnt
              m(i) = mean; s(i) = math.sqrt(variance)
            }
            if (i < idx0)
              cnt = cnt - (if (statMask(i)) 0 else 1) +
                (if (statMask(i + block)) 0 else 1)
            i += 1
          }
          (m, s, empty)
        }
        // one pass: stats of (sv, svNull), flag ORIGINAL (fv, fvNull)
        // values beyond nMul*std -> null; tail rows (past the last full
        // window start) reuse the stats at idx0
        def pass(sv: Array[Double], svNull: Array[Boolean],
                 fv: Array[Double], fvNull: Array[Boolean],
                 nMul: Double): Array[Boolean] = {
          val (m, s, empty) =
            if (refExact) statsNumpy(sv, svNull) else stats(sv, svNull)
          val flagged = new Array[Boolean](n)
          var i = 0
          while (i < n) {
            if (!fvNull(i)) {
              val k = if (i > idx0) idx0 else i
              val flagIt =
                if (!empty(k)) math.abs(fv(i) - m(k)) > nMul * s(k)
                else if (!refExact) false
                // NaN stats compare false -> never flags (Spark `when`)
                else if (i > idx0)
                  // refExact FULLY-MASKED TAIL wart (processing.py:158):
                  // np.tile(std[-1]) of a masked slot tiles the ma.masked
                  // CONSTANT (data 0.0) and np.r_ drops the mask, so tail
                  // rows compare against mean=0, threshold=0 — every
                  // non-zero value flags. Verified value-identical to the
                  // reference on all 4x29 fixture series.
                  math.abs(fv(i) - 0.0) > 0.0
                else
                  // refExact FULLY-MASKED BODY slot: np.r_ mask-loss leaks
                  // the slot's DATA — ma.mean leaves 0.0, and `n * ma.std`
                  // fills masked slots with multiply's identity 1.0, so
                  // the threshold is literally nMul. Pass 2 compares the
                  // ORIGINAL value, so a 100-row pass-1 flag run makes
                  // its originals face |x| > nMul here (the oxsat/oxsol
                  // cells of the old flip list).
                  math.abs(fv(i) - 0.0) > nMul
              if (flagIt) flagged(i) = true
            }
            i += 1
          }
          flagged
        }
        def channelMask(k: Int): Array[Boolean] = {
          val x  = g.doubles(k, nullAs = 0.0)
          val xN = Array.tabulate(n)(g.isNullAt(k, _))
          val f1 = pass(x, xN, x, xN, n1)
          // cleaned series for pass 2: pass-1 flags become nulls
          val c  = new Array[Double](n)
          val cN = new Array[Boolean](n)
          var j = 0
          while (j < n) {
            if (xN(j) || f1(j)) cN(j) = true else c(j) = x(j)
            j += 1
          }
          pass(c, cN, x, xN, n2)
        }
        // channels are independent: compute them on the shared ForkJoin
        // pool when the per-cast work is heavy enough to amortize the
        // fork (wide casts on few cores — the 26-channel QC chain; the
        // pool is bounded by core count JVM-wide, so under many
        // concurrent tasks this degrades to the sequential loop).
        // Bit-parity is untouched: each channel's arithmetic is
        // self-contained and lands in its own dropMask slot.
        val nv = valueCols.length
        val dropMask: Array[Array[Boolean]] =
          if (nv > 1 && n.toLong * nv * block > (1L << 22)) {
            val out = new Array[Array[Boolean]](nv)
            java.util.stream.IntStream.range(0, nv).parallel()
              .forEach(k => out(k) = channelMask(k))
            out
          } else Array.tabulate(nv)(channelMask)
        val w = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(nv)
        Iterator.range(0, n).map { i =>
          var k = 0
          while (k < nv) {
            w.update(k, if (dropMask(k)(i)) null else g.value(k, i))
            k += 1
          }
          g.emit(i, w)
        }
    }
  }

  /** The declarative window formulation of [[despike]] — retained as the
    * oracle-shaped reference implementation (DespikeParitySpec pins the
    * kernel to it bit-for-bit; the q09 DuckDB oracle replays this plan). */
  private[graft] def despikeWindowed(
      df: DataFrame, castCol: String, orderCol: String,
      valueCols: Seq[String], n1: Double = 2.0, n2: Double = 20.0,
      block: Int = 100): DataFrame = {
    val wOrd  = Window.partitionBy(castCol).orderBy(col(orderCol))
    val wFwd  = wOrd.rowsBetween(Window.currentRow, block - 1)
    val wAll  = Window.partitionBy(castCol)
    // Each pass runs over EVERY column AT ONCE: all the forward stats
    // share one window spec, so CollapseWindow plans them as a single
    // Window operator and the whole two-pass chain costs ~4 window stages
    // over one Exchange+Sort, independent of channel count. (The earlier
    // per-column fold interleaved pass1/pass2 per channel — 2x#channels
    // sequential window stages; a 26-channel cast paid 52.)
    // items: (statsSrc, flagSrc, out) — stats come from statsSrc, values
    // of flagSrc beyond n*std null out into `out`.
    def pass(d: DataFrame, items: Seq[(String, String, String)],
             n: Double): DataFrame = {
      val statCols = items.flatMap { case (src, _, _) =>
        // EXACTLY-CONSTANT window guard (r14, mirrors the kernel): the
        // agg recurrences put the mean a few ulp off the constant and
        // can cancel the variance to 0, flagging whole plateaus the
        // reference keeps; min==max detects the constant window (NaN
        // windows stay on the raw path: max() returns NaN there) and
        // substitutes the exact mean / zero std
        Seq(when(min(col(src)).over(wFwd) === max(col(src)).over(wFwd),
              min(col(src)).over(wFwd))
            .otherwise(avg(col(src)).over(wFwd)).as(s"__m_$src"),
          when(min(col(src)).over(wFwd) === max(col(src)).over(wFwd),
              lit(0.0))
            .otherwise(stddev_pop(col(src)).over(wFwd)).as(s"__s_$src"))
      } ++ Seq(row_number().over(wOrd).as("__rn"),
        count(lit(1)).over(wAll).as("__n"))
      val d1 = d.select(col("*") +: statCols: _*)
      // stats of the last FULL window start: rn0 = max(1, n - block + 1)
      val rn0 = greatest(lit(1), col("__n") - lit(block) + lit(1))
      val lastCols = items.flatMap { case (src, _, _) =>
        Seq(max(when(col("__rn") === rn0, col(s"__m_$src"))).over(wAll)
            .as(s"__ml_$src"),
          max(when(col("__rn") === rn0, col(s"__s_$src"))).over(wAll)
            .as(s"__sl_$src"))
      }
      val d2 = d1.select(col("*") +: lastCols: _*)
      val outExpr = items.map { case (src, flagSrc, out) =>
        val mu = when(col("__rn") > rn0, col(s"__ml_$src"))
          .otherwise(col(s"__m_$src"))
        val sd = when(col("__rn") > rn0, col(s"__sl_$src"))
          .otherwise(col(s"__s_$src"))
        out -> when(abs(col(flagSrc) - mu) > lit(n) * sd,
          lit(null).cast(DoubleType)).otherwise(col(flagSrc))
      }.toMap
      // rebuild the schema in place: overwritten columns swap to their
      // flagged expression, genuinely new out columns append, temps drop
      val kept = d.columns.toSeq.map(cn =>
        outExpr.get(cn).map(_.as(cn)).getOrElse(col(cn)))
      val added = items.collect {
        case (_, _, out) if !d.columns.contains(out) => outExpr(out).as(out)
      }
      d2.select(kept ++ added: _*)
    }
    // pass 1: stats of the original columns, outliers -> null in __p1_*
    val p1 = pass(df, valueCols.map(c => (c, c, s"__p1_$c")), n1)
    // pass 2: stats of the CLEANED columns, flag ORIGINAL values, write
    // the final result over each c
    pass(p1, valueCols.map(c => (s"__p1_$c", c, c)), n2)
      .drop(valueCols.map(c => s"__p1_$c"): _*)
  }

  /**
   * Remove pressure reversals. Reference loop (ctd/processing.py:93-109): at
   * each inversion (`press[k+1] < press[k]`) set `ref = press[k]`; every
   * later row with `press < ref` has its DATA columns set to NaN (the
   * pressure index itself is kept).
   *
   * Closed form (equivalent because each inversion contributes its threshold
   * independently): row j is masked iff
   * `press[j] < max(press[k] : k < j, press[k+1] < press[k])` — a running
   * max over inversion starts. One window, no sequential kernel; null/NaN
   * pressures are never inversion starts and never masked (numpy NaN
   * comparison semantics, guarded explicitly since Spark orders NaN last).
   */
  def pressCheck(df: DataFrame, castCol: String, orderCol: String,
                 valueCols: Seq[String],
                 pressure: String = "pressure"): DataFrame = {
    val wOrd   = Window.partitionBy(castCol).orderBy(col(orderCol))
    val wPrev  = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val p      = col(pressure)
    val invRef = when(!isnan(p) && lead(p, 1).over(wOrd) < p, p)
    val runmax = max(invRef).over(wPrev)
    val mask   = coalesce(p < runmax, lit(false))
    val masked = df.withColumn("__pc_mask", mask)
    valueCols.foldLeft(masked) { (d, c) =>
      d.withColumn(c, when(col("__pc_mask"), lit(null)).otherwise(col(c)))
    }.drop("__pc_mask")
  }

  /**
   * pandas `.interpolate(method="index", limit_direction="both",
   * limit_area="inside")` — linear-in-pressure fill of nulls strictly BETWEEN
   * valid samples (both neighbors must exist). Reference: README.md:52-54.
   * Fully relational: previous/next non-null value+pressure via ignoreNulls
   * window scans, then the two-point interpolation expression.
   */
  def interpolateIndex(df: DataFrame, castCol: String, orderCol: String,
                       valueCols: Seq[String], pressure: String = "pressure"): DataFrame = {
    val wPrev = Window.partitionBy(castCol).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(castCol).orderBy(col(orderCol))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    valueCols.foldLeft(df) { (d, c) =>
      val pv = last(when(col(c).isNotNull, col(c)), ignoreNulls = true).over(wPrev)
      val pp = last(when(col(c).isNotNull, col(pressure)), ignoreNulls = true).over(wPrev)
      val nv = first(when(col(c).isNotNull, col(c)), ignoreNulls = true).over(wNext)
      val np = first(when(col(c).isNotNull, col(pressure)), ignoreNulls = true).over(wNext)
      val interp = pv + (nv - pv) * (col(pressure) - pp) / (np - pp)
      d.withColumn(c,
        when(col(c).isNotNull, col(c))
          .when(pv.isNotNull && nv.isNotNull,
            when(np === pp, pv).otherwise(interp))
          .otherwise(lit(null).cast(DoubleType)))
    }
  }

  /** Mixed-layer-depth mask: `ct[0] - ct < delta` against the cast's first
    * (shallowest, scan order) value. Reference: ctd/extras.py:282-290. */
  def mixedLayerMask(df: DataFrame, castCol: String, orderCol: String,
                     ct: String, delta: Double = 0.5): DataFrame = {
    val w = Window.partitionBy(castCol).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    df.withColumn("mld_mask", (first(col(ct)).over(w) - col(ct)) < lit(delta))
  }

  /** Max pressure at which each value column is non-null, per cast.
    * Reference: ctd/extras.py:36-39 (`get_maxdepth`).
    *
    * Intentional divergence from the reference, which multiplies the index
    * by the validity mask: there an all-null column yields 0.0 (not
    * null/NaN) and negative pressures clamp toward 0 because invalid rows
    * contribute literal zeros to the max. Here an all-null column yields
    * null and only valid rows participate — the SQL-native semantics. */
  def maxDepth(df: DataFrame, castCol: String, valueCols: Seq[String],
               pressure: String = "pressure"): DataFrame = {
    val aggs = valueCols.map(c => max(when(col(c).isNotNull, col(pressure))).as(c))
    df.groupBy(col(castCol)).agg(aggs.head, aggs.tail: _*)
  }
}

/** pandas-flavor-style fluent API (reference registers ops as DataFrame
  * methods via pandas_flavor, ctd/processing.py:21-22): Scala equivalent is
  * an implicit extension class. */
object implicits {
  implicit class CastDataFrameOps(val df: DataFrame) extends AnyVal {
    def removeAboveWater(pressure: String = "pressure"): DataFrame =
      Cast.removeAboveWater(df, pressure)
    def removeUpTo(idx: Double, pressure: String = "pressure"): DataFrame =
      Cast.removeUpTo(df, idx, pressure)
    def splitCast(castCol: String = "cast_id", orderCol: String = "scan_order",
                  pressure: String = "pressure"): DataFrame =
      Cast.split(df, castCol, orderCol, pressure)
    def bindata(valueCols: Seq[String], delta: Double = 1.0,
                castCol: String = "cast_id", orderCol: String = "scan_order",
                pressure: String = "pressure", keepEmpty: Boolean = true): DataFrame =
      Cast.bindataAverage(df, castCol, orderCol, valueCols, delta, pressure, keepEmpty)
    def movingAverage(valueCols: Seq[String], windowSize: Int = 48,
                      castCol: String = "cast_id", orderCol: String = "scan_order"): DataFrame =
      Cast.movingAverage(df, castCol, orderCol, valueCols, windowSize)
    def despike(valueCols: Seq[String], n1: Double = 2.0, n2: Double = 20.0,
                block: Int = 100, castCol: String = "cast_id",
                orderCol: String = "scan_order"): DataFrame =
      Cast.despike(df, castCol, orderCol, valueCols, n1, n2, block)
    def interpolateIndex(valueCols: Seq[String], castCol: String = "cast_id",
                         orderCol: String = "scan_order",
                         pressure: String = "pressure"): DataFrame =
      Cast.interpolateIndex(df, castCol, orderCol, valueCols, pressure)
    def pressCheck(valueCols: Seq[String], castCol: String = "cast_id",
                   orderCol: String = "scan_order",
                   pressure: String = "pressure"): DataFrame =
      Cast.pressCheck(df, castCol, orderCol, valueCols, pressure)
    def lpFilter(castCol: String = "cast_id", orderCol: String = "scan_order",
                 pressure: String = "pressure", sampleRate: Double = 24.0,
                 timeConstant: Double = 0.15): DataFrame =
      SeqOps.lpFilter(df, castCol, orderCol, pressure, sampleRate, timeConstant)
    def smoothCast(valueCols: Seq[String], windowLen: Int = 11,
                   window: String = "hanning", castCol: String = "cast_id",
                   orderCol: String = "scan_order"): DataFrame =
      SeqOps.smooth(df, castCol, orderCol, valueCols, windowLen, window)
    def bindataInterpolate(valueCols: Seq[String], delta: Double = 1.0,
                           castCol: String = "cast_id",
                           orderCol: String = "scan_order",
                           pressure: String = "pressure"): DataFrame =
      SeqOps.bindataInterpolate(df, castCol, orderCol, valueCols, delta, pressure)
    def mixedLayerMask(ct: String, delta: Double = 0.5,
                       castCol: String = "cast_id",
                       orderCol: String = "scan_order"): DataFrame =
      Cast.mixedLayerMask(df, castCol, orderCol, ct, delta)
    def maxDepth(valueCols: Seq[String], castCol: String = "cast_id",
                 pressure: String = "pressure"): DataFrame =
      Cast.maxDepth(df, castCol, valueCols, pressure)
  }
}
