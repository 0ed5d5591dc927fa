package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Event-stream analytics over the `events` table family: gap-based
 * sessionization (per-row labeling AND per-session aggregation), tumbling
 * event-time windows, and JSON property extraction. The reference library is
 * batch-profile-only, but the engine's `events` surface (repo:TESTDATA.md)
 * is the natural home for the session/window operators every
 * clickstream-scale pipeline needs; all of them are expressed with Spark's
 * native window machinery so Catalyst plans them (SessionWindow /
 * TumblingWindow nodes, WindowExec), and every rule below is a pure
 * function of (user, timestamp) so a DuckDB oracle can replay it exactly
 * on the microsecond integers.
 *
 * Session rule (shared by all three forms, and by Spark's own
 * `session_window`): an event STARTS a new session iff it is the user's
 * first event or `ts - prev_ts > gap` (Spark merges an event landing
 * exactly on the previous window's `ts + gap` bound — verified against
 * SessionWindow exec, EventOpsSpec pins it). Comparisons run on
 * `unix_micros` integers — no double arithmetic anywhere in the boundary
 * decision, so engines cannot drift.
 *
 * Scale shape: ONE hash exchange on the user column for either session
 * form (the label's two windows share one Exchange+Sort, same reuse the
 * despike chain relies on); tumbling windows are map-side (the bucket is a
 * scalar function of the timestamp) followed by a standard two-phase hash
 * aggregate. Sessions are per-user and users are bounded (10^3..10^6
 * events), so no skew handling is needed — a pathological single-user
 * firehose would surface in the group-size metrics like any hot key.
 */
object EventOps {

  /** Microsecond integer of a timestamp column. Accepts TIMESTAMP and
    * TIMESTAMP_NTZ (parquet `isAdjustedToUTC=false`, what the events table
    * carries): the NTZ→LTZ cast applies the session timezone and is the
    * identity under the engine's UTC sessions (Verify/Bench/Shell all pin
    * UTC). Under a NON-UTC session timezone with DST, the NTZ shift is not
    * uniform across transitions — gaps spanning a spring-forward/fall-back
    * boundary would be off by the DST offset — so run NTZ event data under
    * UTC (or cast to LTZ upstream with an explicit zone). */
  private def micros(c: Column): Column =
    unix_micros(c.cast(org.apache.spark.sql.types.TimestampType))

  /**
   * Label every event with its session: adds `session_seq` (0-based per
   * user, in time order) and `session_id` (`"user:seq"`). Ties on the
   * timestamp break by `idCol` so the labeling is deterministic on any
   * partitioning. Rows with a null user or null timestamp cannot belong to
   * a session: both output columns stay null (they sort after the live
   * rows, so they never perturb the running count).
   */
  def sessionize(df: DataFrame, userCol: String, tsCol: String, idCol: String,
                 gapSeconds: Long): DataFrame = {
    require(gapSeconds > 0, s"gapSeconds must be positive, got $gapSeconds")
    val gapUs = gapSeconds * 1000000L
    val us = micros(col(tsCol))
    val order = Seq(us.asc_nulls_last, col(idCol).asc_nulls_last)
    val wLag = Window.partitionBy(col(userCol)).orderBy(order: _*)
    val wRun = Window.partitionBy(col(userCol)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val newFlag = TextOps.tempName(df, "__new_session")
    val prev = lag(us, 1).over(wLag)
    val live = col(userCol).isNotNull && col(tsCol).isNotNull
    df.withColumn(newFlag,
        when(!live, lit(0L))
          .when(prev.isNull || (us - prev) > gapUs, lit(1L))
          .otherwise(lit(0L)))
      .withColumn("session_seq",
        when(live, sum(col(newFlag)).over(wRun) - 1L))
      .withColumn("session_id",
        when(live, concat_ws(":", col(userCol).cast("string"),
          col("session_seq").cast("string"))))
      .drop(newFlag)
  }

  /**
   * Skew-bounded sessionize (r14): output BIT-IDENTICAL to [[sessionize]]
   * — same rows, same zero-based `session_seq`, same `"user:seq"`
   * `session_id` — but no partition ever holds more than one user's
   * events within one `bucketSeconds` window. [[sessionize]] puts a
   * user's ENTIRE history in one window partition; the r14 skew campaign
   * measured a bot user holding 10% of all events as the record's worst
   * per-stage task skew (3.33×), and at petabyte scale that partition is
   * a straggler or an OOM. This variant is the scale path:
   *
   *  1. label sessions WITHIN (user, floor(ts / bucket)) partitions —
   *     the hot user splits across its active buckets;
   *  2. fix up sessions that cross bucket boundaries on a SESSION-LEVEL
   *     table (one row per (user, bucket): first/last event time, local
   *     session count — thousands of times smaller than the events): a
   *     bucket's first session merges into the previous bucket's last
   *     iff their actual timestamps sit within the gap (bucket width
   *     never decides a split — only real gaps do), and a running sum of
   *     per-bucket contributed sessions renumbers globally;
   *  3. join the (base, merge) pair back on (user, bucket) — bounded
   *     fan-in by construction.
   *
   * Session semantics are [[sessionize]]'s exactly: splits only at
   * `diff > gap`, ties break by `idCol`, null user/timestamp rows keep
   * null outputs. `bucketSeconds` trades partition bound against
   * session-table size; any positive value is CORRECT (a session may
   * span any number of buckets — the merge chain renumbers through all
   * of them), the default of one day suits event streams with
   * minutes-scale gaps. SessionizeParitySpec pins bit-parity on random,
   * hot-user, tie-heavy, null-carrying, and multi-bucket-spanning data.
   */
  def sessionizeBucketed(df: DataFrame, userCol: String, tsCol: String,
                         idCol: String, gapSeconds: Long,
                         bucketSeconds: Long = 86400L): DataFrame = {
    require(gapSeconds > 0, s"gapSeconds must be positive, got $gapSeconds")
    require(bucketSeconds > 0,
      s"bucketSeconds must be positive, got $bucketSeconds")
    val gapUs = gapSeconds * 1000000L
    val bUs = bucketSeconds * 1000000L
    val us = micros(col(tsCol))
    val live = col(userCol).isNotNull && col(tsCol).isNotNull
    // EVERY temp — event-side and fixup-side — is derived off the input's
    // namespace (ADVICE r14): a user column literally named "__sb_u" etc.
    // would otherwise hit an ambiguous-reference AnalysisException in the
    // join condition and the final drop would delete the user's column.
    var picked = Set.empty[String]
    def pick(base: String): String = {
      val existing = df.columns.toSet ++ picked
      var n = base; var i = 0
      while (existing.contains(n)) { i += 1; n = s"$base$i" }
      picked += n; n
    }
    val b  = pick("__sb_bucket")
    val nf = pick("__sb_new")
    val ls = pick("__sb_local")
    val fU = pick("__sb_u"); val fB = pick("__sb_b")
    val fFirst = pick("__sb_first"); val fLast = pick("__sb_last")
    val fN = pick("__sb_n"); val fMerge = pick("__sb_merge")
    val fBase = pick("__sb_base")
    val order = Seq(us.asc_nulls_last, col(idCol).asc_nulls_last)
    val wLag = Window.partitionBy(col(userCol), col(b)).orderBy(order: _*)
    val wRun = Window.partitionBy(col(userCol), col(b)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(us, 1).over(wLag)
    val flagged = df
      .withColumn(b, when(live, floor(us / lit(bUs))))
      .withColumn(nf,
        when(!live, lit(0L))
          .when(prev.isNull || (us - prev) > gapUs, lit(1L))
          .otherwise(lit(0L)))
      .withColumn(ls, when(live, sum(col(nf)).over(wRun)))
    // session-level fixup: one row per (user, bucket)
    val stats = flagged.filter(live)
      .groupBy(col(userCol).as(fU), col(b).as(fB))
      .agg(min(us).as(fFirst), max(us).as(fLast),
        max(col(ls)).as(fN))
    val wB = Window.partitionBy(col(fU)).orderBy(col(fB))
    val fixup = stats
      // merge iff the REAL timestamps at the boundary sit within the gap
      // (lag null on the user's first bucket -> null <= -> otherwise 0)
      .withColumn(fMerge,
        when(col(fFirst) - lag(col(fLast), 1).over(wB)
          <= gapUs, lit(1L)).otherwise(lit(0L)))
      .withColumn(fBase,
        coalesce(sum(col(fN) - col(fMerge))
          .over(wB.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(fU), col(fB), col(fBase), col(fMerge))
    flagged
      .join(fixup, col(userCol) <=> col(fU) &&
        col(b) <=> col(fB), "left")
      .withColumn("session_seq",
        when(live,
          col(fBase) + col(ls) - col(fMerge) - 1L))
      .withColumn("session_id",
        when(live, concat_ws(":", col(userCol).cast("string"),
          col("session_seq").cast("string"))))
      .drop(nf, ls, b, fU, fB, fBase, fMerge)
  }

  /**
   * Per-session aggregation via Spark's native `session_window`: one row
   * per (user, session) with `session_start` (first event), `session_end`
   * (last event + gap, the half-open window bound Spark reports),
   * `n_events`, plus any caller `aggs`. Null-user / null-timestamp rows are
   * excluded up front (they have no session — the same rule as
   * [[sessionize]]). Boundaries agree with [[sessionize]] by construction:
   * both split only at `diff > gap`.
   */
  def sessionStats(df: DataFrame, userCol: String, tsCol: String,
                   gapSeconds: Long, aggs: Seq[Column] = Nil): DataFrame = {
    require(gapSeconds > 0, s"gapSeconds must be positive, got $gapSeconds")
    val base = count(lit(1)).as("n_events") +: aggs
    df.filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(userCol),
        session_window(col(tsCol), s"$gapSeconds seconds").as("session"))
      .agg(base.head, base.tail: _*)
      .withColumn("session_start", col("session.start"))
      .withColumn("session_end", col("session.end"))
      .drop("session")
  }

  /**
   * Tumbling event-time windows: one row per (bucket, `keyCols`...) with
   * `bucket_start`/`bucket_end` timestamps plus the caller's `aggs`. The
   * bucket is epoch-aligned (Spark's `window()` origin), a pure scalar of
   * the timestamp — map-side, then a standard two-phase hash aggregate.
   * Rows with a null timestamp have no bucket and are excluded.
   */
  def tumblingStats(df: DataFrame, tsCol: String, widthSeconds: Long,
                    keyCols: Seq[String], aggs: Seq[Column]): DataFrame = {
    require(widthSeconds > 0, s"widthSeconds must be positive, got $widthSeconds")
    require(aggs.nonEmpty, "tumblingStats needs at least one aggregate")
    df.filter(col(tsCol).isNotNull)
      .groupBy(window(col(tsCol), s"$widthSeconds seconds").as("bucket")
        +: keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("bucket_start", col("bucket.start"))
      .withColumn("bucket_end", col("bucket.end"))
      .drop("bucket")
  }

  /** Typed scalar from a JSON string column (`get_json_object` + cast):
    * missing key, null document, or malformed JSON all yield null — the
    * lenient semi-structured props accessor. Codegen'd path, no UDF. */
  def jsonField(json: Column, path: String, dataType: String): Column =
    get_json_object(json, path).cast(dataType)

  /**
   * Markov TRANSITION MATRIX of `typeCol`: counts and row-normalized
   * probabilities of (prev_type -> next_type) over consecutive events of
   * the same user, where "consecutive" means ordered by (timestamp,
   * `idCol`) with a gap of at most `gapSeconds` — transitions never cross a
   * session boundary (the [[sessionize]] split rule). Rows with a null
   * user, timestamp, or type are excluded up front: a null type would be
   * indistinguishable from the session-start lag null, and null users/ts
   * have no sequence position (the [[sessionStats]] rule).
   *
   * Output: `(prev_type, next_type, n_transitions, prob)` where `prob` =
   * n / Σ n over the same prev_type, rounded to 6 decimals.
   *
   * Shape: one window (partition user, order time) for the lag pair, one
   * two-phase hash agg on (prev, next), and the normalizing window runs on
   * the MATRIX (|types|² rows), not the events. The per-user window is the
   * same exchange+sort every sequence op here pays; type cardinality is
   * bounded, so the matrix is driver-size at any corpus scale.
   */
  def transitions(df: DataFrame, userCol: String, tsCol: String,
                  idCol: String, typeCol: String,
                  gapSeconds: Long): DataFrame = {
    require(gapSeconds > 0, s"gapSeconds must be positive, got $gapSeconds")
    val gapUs = gapSeconds * 1000000L
    val live = df.filter(col(userCol).isNotNull && col(tsCol).isNotNull
      && col(typeCol).isNotNull)
    val us = micros(col(tsCol))
    val w = Window.partitionBy(col(userCol)).orderBy(us.asc, col(idCol).asc)
    val pairs = live
      .withColumn("__prev_type", lag(col(typeCol), 1).over(w))
      .withColumn("__prev_us", lag(us, 1).over(w))
      .filter(col("__prev_type").isNotNull &&
        us - col("__prev_us") <= gapUs)
    val counts = pairs
      .groupBy(col("__prev_type").as("prev_type"),
        col(typeCol).as("next_type"))
      .agg(count(lit(1)).as("n_transitions"))
    val wTot = Window.partitionBy(col("prev_type"))
    counts.withColumn("prob",
      round(col("n_transitions").cast("double") /
        sum(col("n_transitions")).over(wTot), 6))
  }

  /**
   * Ordered FUNNEL completion: for each step k, the number of users who
   * completed steps 1..k in order, where step k's completion time is the
   * user's EARLIEST event matching `steps(k)` at-or-after their step-(k-1)
   * completion (same-timestamp completion counts — two conversion events
   * in one microsecond tick are "in order" for any useful funnel).
   * Output: `(step, step_index, n_users)`, n_users non-increasing.
   *
   * Shape: one aggregation per step over the events of that step only —
   * k-1 joins of per-user SCALARS (one row per qualifying user, never
   * event-by-event), so the event table is scanned once per step with the
   * step predicate pushed to the scan, and every shuffle carries user ids
   * + one timestamp. No per-user sequence materialization anywhere.
   */
  def funnel(df: DataFrame, userCol: String, tsCol: String,
             steps: Seq[(String, Column)]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.map(_._1).distinct.size == steps.size,
      "step names must be distinct")
    val live = df.filter(col(userCol).isNotNull && col(tsCol).isNotNull)
    // fold: completions(k) = per-user min ts of step-k events at/after
    // completions(k-1); one lazy plan, no driver actions
    val (_, counts) = steps.zipWithIndex.foldLeft(
      (Option.empty[DataFrame], Seq.empty[DataFrame])) {
      case ((prev, acc), ((name, pred), i)) =>
        val stepEvents = live.filter(pred)
          .select(col(userCol).as("__u"), micros(col(tsCol)).as("__ts"))
        val eligible = prev match {
          case None => stepEvents
          case Some(p) => stepEvents.join(p, Seq("__u"))
            .filter(col("__ts") >= col("__done"))
            .select(col("__u"), col("__ts"))
        }
        val completed = eligible.groupBy(col("__u"))
          .agg(min(col("__ts")).as("__done"))
        val row = completed.agg(count(lit(1)).as("n_users"))
          .select(lit(name).as("step"), lit(i).as("step_index"),
            col("n_users"))
        (Some(completed), acc :+ row)
    }
    counts.reduce(_ unionByName _)
  }

  /**
   * COHORT RETENTION: bucket every user into the cohort of their first
   * event (`cohortWidthSeconds`-wide epoch-aligned buckets), then count
   * how many of each cohort's users are active in each later period.
   * Output: `(cohort_start_us, period, n_users)` for periods 0..horizon
   * (period 0 = the cohort bucket itself, so its n_users is the cohort
   * size). The retention-curve table every activity dashboard is built on.
   *
   * Shape: one agg for first-events (per-user scalar), a broadcast-sized
   * join back (user -> cohort), then one distinct-count agg keyed on
   * (cohort, period) — integers all the way; no window over raw events.
   */
  def retention(df: DataFrame, userCol: String, tsCol: String,
                cohortWidthSeconds: Long, horizonPeriods: Int): DataFrame = {
    require(cohortWidthSeconds > 0, "cohortWidthSeconds must be positive")
    require(horizonPeriods >= 0, "horizonPeriods must be >= 0")
    val widthUs = cohortWidthSeconds * 1000000L
    val live = df.filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("__u"), micros(col(tsCol)).as("__ts"))
    // exact long floorDiv (pmod keeps pre-epoch timestamps bucketing
    // down): (us - pmod(us, w)) is an exact multiple of w, so the double
    // division is exact for any representable bucket index
    def bucket(us: Column): Column =
      ((us - pmod(us, lit(widthUs))) / widthUs).cast("long")
    val cohorts = live.groupBy(col("__u"))
      .agg(bucket(min(col("__ts"))).as("__cohort"))
    live.join(cohorts, Seq("__u"))
      .withColumn("__period", bucket(col("__ts")) - col("__cohort"))
      .filter(col("__period") <= horizonPeriods)
      .groupBy(col("__cohort"), col("__period"))
      .agg(count_distinct(col("__u")).as("n_users"))
      .select((col("__cohort") * widthUs).as("cohort_start_us"),
        col("__period").as("period"), col("n_users"))
  }

  /**
   * SESSION PATH MINING: the top-`k` length-`n` event-type sequences
   * occurring inside sessions ("view>cart>checkout"), the user-journey
   * summary a product pipeline derives right after sessionization. Paths
   * never cross a session boundary (the window partitions by session id),
   * and the event order inside a session is the sessionize order
   * (`ts`, then the id tie-break) — so the counts are a pure function of
   * the data, replayable by any engine.
   *
   * Shape: [[sessionize]]'s one exchange on the user column, a lead
   * window per session (same exchange family), then a two-phase hash agg
   * on the path string and a k-row rank window. Rows with a null
   * user/timestamp carry no session and are excluded (they cannot order).
   */
  def sessionPaths(df: DataFrame, userCol: String, tsCol: String,
                   tieCol: String, typeCol: String, gapSeconds: Long,
                   n: Int = 3, k: Int = 20): DataFrame = {
    require(n >= 2, s"sessionPaths: n must be >= 2, got $n")
    require(k >= 1, s"sessionPaths: k must be >= 1, got $k")
    val labeled = sessionize(df, userCol, tsCol, tieCol, gapSeconds)
      .filter(col("session_id").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("session_id"))
      .orderBy(micros(col(tsCol)), col(tieCol))
    val legs = (0 until n).map(i =>
      if (i == 0) col(typeCol) else lead(col(typeCol), i).over(w))
    val full = legs.map(_.isNotNull).reduce(_ && _)
    val path = concat_ws(">", legs: _*)
    val counts = labeled
      .withColumn("__path", when(full, path))
      .filter(col("__path").isNotNull)
      .groupBy(col("__path")).agg(count(lit(1)).as("n_paths"))
    val wr = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_paths").desc, col("__path"))
    counts.withColumn("rank", row_number().over(wr).cast("long"))
      .filter(col("rank") <= k)
      .select(col("__path").as("path"), col("n_paths"), col("rank"))
  }

  /**
   * HOPPING (sliding) WINDOW aggregation — the overlapping-window sibling
   * of [[tumblingStats]]: windows of `widthSeconds` starting every
   * `hopSeconds` (width must be a multiple of hop), so each event lands in
   * exactly `width/hop` windows. The moving-rate view every ops dashboard
   * wants ("events and value per hour, updated every 15 minutes") without
   * double-counting a tumbling grid would impose.
   *
   * Pure integer arithmetic: microsecond timestamps, window starts are
   * exact multiples of the hop (the `(us - pmod(us, hop))` trick), and
   * the value sums are MICRO-QUANTIZED per event before aggregation
   * (`floor(v*1e6 + 0.5)` then integer sums) — order-independent exact,
   * the q91 rule. Shape: a map-side explode of `width/hop` window-start
   * rows per event, then one two-phase hash agg on (window_start, type);
   * shuffle carries ints only.
   */
  def hoppingStats(df: DataFrame, tsCol: String, typeCol: String,
                   valueCol: String, widthSeconds: Long,
                   hopSeconds: Long): DataFrame = {
    require(widthSeconds > 0 && hopSeconds > 0 &&
      widthSeconds % hopSeconds == 0,
      s"hoppingStats: width ($widthSeconds) must be a positive multiple " +
        s"of hop ($hopSeconds)")
    val widthUs = widthSeconds * 1000000L
    val hopUs = hopSeconds * 1000000L
    val nWin = (widthSeconds / hopSeconds).toInt
    val us = micros(col(tsCol))
    // latest window containing t starts at t - (t mod hop); the others
    // step back by one hop each
    val lastStart = us - pmod(us, lit(hopUs))
    val starts = sequence(lastStart - lit((nWin - 1).toLong * hopUs),
      lastStart, lit(hopUs))
    df.filter(col(tsCol).isNotNull)
      .select(explode(starts).as("window_start_us"), col(typeCol),
        floor(col(valueCol).cast("double") * 1000000d + lit(0.5))
          .as("__vm"))
      // a window start below epoch-of-first-hop is still valid; no filter
      .groupBy(col("window_start_us"), col(typeCol))
      .agg(count(lit(1)).as("n_events"),
        sum(col("__vm")).as("sum_value_micro"))
  }

  /**
   * Join finalized hopping-window rows against a per-type BASELINE
   * (`mu`, `sigma` over window counts) and emit `z` (rounded 6) and
   * `is_spike`. Shared by the batch [[rateSpikesAgainstBaseline]] and
   * streaming `StreamOps.streamingRateSpikes` so the two paths cannot
   * drift: sigma > 0 → the z-score; a KNOWN type with a constant-rate
   * (sigma = 0) baseline → 0.0 (the q138 rule); a MISSING baseline row →
   * null z and never a flag (day-one types surface separately, they
   * don't page).
   */
  private[graft] def spikeJoin(win: DataFrame, baseline: DataFrame,
                               typeCol: String,
                               zThreshold: Double): DataFrame = {
    val base = broadcast(baseline.select(col(typeCol),
      col("mu").cast("double").as("__mu"),
      col("sigma").cast("double").as("__sigma")))
    win.join(base, Seq(typeCol), "left")
      .withColumn("z",
        when(col("__sigma") > 0,
          round((col("n_events") - col("__mu")) / col("__sigma"), 6))
          .otherwise(when(col("__mu").isNotNull, lit(0.0))))
      .withColumn("is_spike", coalesce(col("z") > zThreshold, lit(false)))
      .select(col("window_start_us"), col(typeCol), col("n_events"),
        col("z"), col("is_spike"))
  }

  /**
   * Batch RATE-SPIKE detection against a LANDED baseline — the
   * batch-reconciliation form of `StreamOps.streamingRateSpikes`, and the
   * production split of the q138 composition: history owns the per-type
   * `(mu, sigma)` stats (a live stream cannot compute its own long-run
   * baseline), the current events contribute only hopping-window counts.
   * Exactly the streaming op's output on the same finalized windows
   * (StreamingSpec reconciles them row-for-row), which is what makes the
   * streaming composite DuckDB-oracle-able through this op.
   *
   * Shape: [[hoppingStats]]' map-side window expand + one two-phase agg,
   * then a broadcast join against the (types-sized) baseline — nothing
   * here scales with history, which stays landed where it was profiled.
   */
  def rateSpikesAgainstBaseline(events: DataFrame, baseline: DataFrame,
                                tsCol: String, typeCol: String,
                                valueCol: String, widthSeconds: Long,
                                hopSeconds: Long,
                                zThreshold: Double = 2.0): DataFrame =
    spikeJoin(
      hoppingStats(events, tsCol, typeCol, valueCol, widthSeconds,
        hopSeconds),
      baseline, typeCol, zThreshold)

  /**
   * Per-type baseline stats over hopping-window counts — the landing half
   * of the split: run this on history, persist the (types-sized) result,
   * hand it to [[rateSpikesAgainstBaseline]] or the streaming form.
   * `mu`/`sigma` are avg and population stddev of `n_events` per type
   * (the q138 convention).
   */
  def windowCountBaseline(events: DataFrame, tsCol: String,
                          typeCol: String, valueCol: String,
                          widthSeconds: Long, hopSeconds: Long): DataFrame =
    hoppingStats(events, tsCol, typeCol, valueCol, widthSeconds, hopSeconds)
      .groupBy(col(typeCol))
      .agg(avg(col("n_events")).as("mu"),
        stddev_pop(col("n_events")).as("sigma"))

  /**
   * Per-key EWMA (exponentially-weighted moving average) of `valueCol` in
   * event-time order — the standard smoothed-metric signal (latency
   * trend, spend rate, engagement decay) a monitoring or feature pipeline
   * derives per user/device/session. Recurrence (pandas
   * `ewm(alpha).mean(adjust=False)` shape): first non-null value seeds the
   * state, then `y = alpha*x + (1-alpha)*y_prev`. Null values CARRY: the
   * output repeats the current state (null before any value arrives) and
   * the state is unchanged — a missing measurement must not reset the
   * trend.
   *
   * The recurrence is order-sensitive, so this is a sequential kernel in
   * the [[graft.ops.SeqOps]] family, NOT a window function: clustered on
   * `keyCol` ([[KernelGuard.sortedGroups]], sorted on `(tsCol, tieCol)` →
   * linear fold), parallelism from key count. Per-key event counts are
   * bounded (10^3..10^6); both engines evaluate `alpha*x + beta*prev`
   * with the same IEEE ops in the same order, so a recursive-CTE oracle
   * replays it bit-exactly (the q22 lp_filter precedent). `tieCol` must
   * make the sort total (a unique event id) — without it, same-timestamp
   * rows would make the fold order engine-dependent.
   */
  def ewma(df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
           valueCol: String, alpha: Double = 0.5,
           out: String = "ewma"): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0,
      s"ewma: alpha must be in (0, 1], got $alpha")
    val beta = 1.0 - alpha
    // a NULL key folds apart from the literal string "null" (the classic
    // dirty-data artifact); NULL timestamps sort first
    KernelGuard.sortedGroups(df, keyCol, Seq(tsCol, tieCol), Seq(valueCol),
        Nil, Seq(org.apache.spark.sql.types.StructField(out,
          org.apache.spark.sql.types.DoubleType)), keepRows = true, "ewma") {
      g =>
        val x = g.doubles(0)
        var state = 0.0
        var seeded = false
        val w = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
        Iterator.range(0, g.length).map { i =>
          if (!g.isNullAt(0, i)) { // a null carries
            state = if (!seeded) x(i) else alpha * x(i) + beta * state
            seeded = true
          }
          if (seeded) w.setDouble(0, state) else w.setNullAt(0)
          g.emit(i, w)
        }
    }
  }
}
