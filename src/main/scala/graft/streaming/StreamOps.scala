package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/**
 * One band stage of [[StreamOps.streamingBandedNearDedup]]: keyed by the
 * band value, state = every retained (full 64-bit sketch, event-time ms)
 * in the watermark horizon. An incoming row is dropped iff some stored
 * sketch is within Hamming `radius` — band-key collisions beyond the
 * radius verify as distinct and pass through. State is pruned against the
 * watermark on every update, and an event-time timer sweeps the bucket
 * once the horizon passes its newest entry, so idle buckets free their
 * state without traffic.
 */
private[streaming] class BandDedupProcessor(skIdx: Int, tsIdx: Int,
    radius: Int, delayMs: Long) extends StatefulProcessor[Long, Row, Row] {

  @transient private var entries: ListState[(Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    entries = getHandle.getListState[(Long, Long)]("sketches",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[Row],
                               tv: TimerValues): Iterator[Row] = {
    val horizon = tv.getCurrentWatermarkInMs() - delayMs
    val stored = entries.get().toVector
    val live = stored.filter(_._2 >= horizon)
    var sketches = live.map(_._1)
    var added = Vector.empty[(Long, Long)]
    val kept = Vector.newBuilder[Row]
    // event-time order (sketch tiebreak) -> deterministic replay
    rows.toVector
      .sortBy(r => (r.getTimestamp(tsIdx).getTime, r.getLong(skIdx)))
      .foreach { r =>
        val sk = r.getLong(skIdx)
        if (!sketches.exists(s => java.lang.Long.bitCount(s ^ sk) <= radius)) {
          kept += r
          sketches :+= sk
          added :+= (sk -> r.getTimestamp(tsIdx).getTime)
        }
      }
    // append-only when nothing expired: put() re-serializes the whole
    // retained set (O(N) write amplification per batch on a hot bucket);
    // appendList writes only the new entries
    if (live.size != stored.size) entries.put((live ++ added).toArray)
    else if (added.nonEmpty) entries.appendList(added.toArray)
    (live ++ added).map(_._2).maxOption
      .foreach(m => getHandle.registerTimer(m + delayMs))
    kept.result().iterator
  }

  override def handleExpiredTimer(key: Long, tv: TimerValues,
                                  info: ExpiredTimerInfo): Iterator[Row] = {
    val remaining = entries.get()
      .filter(_._2 + delayMs > info.getExpiryTimeInMs).toArray
    if (remaining.isEmpty) entries.clear()
    else {
      entries.put(remaining)
      getHandle.registerTimer(remaining.map(_._2).max + delayMs)
    }
    Iterator.empty
  }
}

/**
 * One band stage of [[StreamOps.streamingMinHashNearDedup]]: keyed by one
 * MinHash band key, state = every retained (verify array, event-time ms)
 * in the watermark horizon, where the verify array is either the sorted
 * md5-31 shingle hash SET (`exact = true` — Jaccard by merge-intersection,
 * the batch `nearDuplicatePairs` verify on hashed shingles) or the full
 * MinHash SIGNATURE (`exact = false` — Jaccard estimated as the fraction
 * of agreeing components, fixed 8·k bytes/doc/band regardless of document
 * length). An incoming row is dropped iff some stored array verifies at
 * Jaccard >= `threshold`; band-key collisions below the threshold pass
 * through. Watermark pruning and idle-bucket timer sweep are identical to
 * [[BandDedupProcessor]].
 */
private[streaming] class MinHashBandDedupProcessor(setIdx: Int, tsIdx: Int,
    threshold: Double, exact: Boolean, delayMs: Long)
    extends StatefulProcessor[Long, Row, Row] {

  @transient private var entries: ListState[(Array[Long], Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    entries = getHandle.getListState[(Array[Long], Long)]("shsets",
      Encoders.product[(Array[Long], Long)], TTLConfig.NONE)

  /** Exact: |A∩B| / |A∪B| over two sorted distinct long arrays. Estimate:
    * fraction of positionally-agreeing signature components (the standard
    * unbiased MinHash Jaccard estimator). */
  private def jaccard(a: Array[Long], b: Array[Long]): Double =
    if (exact) {
      var i = 0; var j = 0; var inter = 0
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1
        else j += 1
      }
      val union = a.length + b.length - inter
      if (union == 0) 0.0 else inter.toDouble / union
    } else {
      var i = 0; var eq = 0
      val k = math.min(a.length, b.length)
      while (i < k) { if (a(i) == b(i)) eq += 1; i += 1 }
      if (k == 0) 0.0 else eq.toDouble / k
    }

  override def handleInputRows(key: Long, rows: Iterator[Row],
                               tv: TimerValues): Iterator[Row] = {
    val horizon = tv.getCurrentWatermarkInMs() - delayMs
    val stored = entries.get().toVector
    val live = stored.filter(_._2 >= horizon)
    var sets = live.map(_._1)
    var added = Vector.empty[(Array[Long], Long)]
    val kept = Vector.newBuilder[Row]
    // event-time order (array-content tiebreak) -> deterministic replay
    rows.toVector
      .map { r =>
        (r, r.getSeq[Long](setIdx).toArray, r.getTimestamp(tsIdx).getTime)
      }
      .sortBy { case (_, arr, t) => (t, java.util.Arrays.hashCode(arr)) }
      .foreach { case (r, arr, t) =>
        if (!sets.exists(s => jaccard(s, arr) >= threshold)) {
          kept += r
          sets :+= arr
          added :+= (arr -> t)
        }
      }
    if (live.size != stored.size) entries.put((live ++ added).toArray)
    else if (added.nonEmpty) entries.appendList(added.toArray)
    (live ++ added).map(_._2).maxOption
      .foreach(m => getHandle.registerTimer(m + delayMs))
    kept.result().iterator
  }

  override def handleExpiredTimer(key: Long, tv: TimerValues,
                                  info: ExpiredTimerInfo): Iterator[Row] = {
    val remaining = entries.get()
      .filter(_._2 + delayMs > info.getExpiryTimeInMs).toArray
    if (remaining.isEmpty) entries.clear()
    else {
      entries.put(remaining)
      getHandle.registerTimer(remaining.map(_._2).max + delayMs)
    }
    Iterator.empty
  }
}

/**
 * Per-user state for [[StreamOps.streamingTransitions]]: `pending` buffers
 * (event-time MICROS, type) rows the watermark has not yet passed; `anchor` is
 * the LAST FINALIZED event, the chain head for the next transition. Rows
 * finalize in event-time order once the watermark passes them, so
 * out-of-order arrivals within the watermark produce exactly the batch
 * pair sequence; the engine drops beyond-watermark stragglers before they
 * reach the processor, which is what makes the anchor monotone. A timer at
 * the earliest pending ts flushes buffered rows without new traffic, and a
 * timer at anchor + gap clears the anchor once nothing can ever chain to
 * it — idle users hold zero state.
 */
private[streaming] class TransitionProcessor(tsIdx: Int, typeIdx: Int,
    gapMs: Long, outSchema: org.apache.spark.sql.types.StructType)
    extends StatefulProcessor[Long, Row, Row] {

  @transient private var pending: ListState[(Long, String)] = _
  @transient private var anchor: ValueState[(Long, String)] = _

  private val pairEnc = Encoders.tuple(Encoders.scalaLong, Encoders.STRING)

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    pending = getHandle.getListState[(Long, String)]("pending", pairEnc,
      TTLConfig.NONE)
    anchor = getHandle.getValueState[(Long, String)]("anchor", pairEnc,
      TTLConfig.NONE)
  }

  private def finalizeReady(key: Long, wm: Long): Iterator[Row] = {
    val all = pending.get().toVector
    // pending keys are MICROS (the batch op's order precision — same-ms
    // different-us events must chain in time order); wm is millis.
    // floorDiv, not /: pre-epoch (negative) micros must round DOWN or the
    // finalize/timer/nanos math breaks (review finding)
    val (ready, rest) = all.partition(u => Math.floorDiv(u._1, 1000L) <= wm)
    val out = Vector.newBuilder[Row]
    if (ready.nonEmpty) {
      var last = Option(anchor.get())
      ready.sorted.foreach { case (us, tp) =>
        last.foreach { case (pus, ptp) =>
          if (us >= pus && us - pus <= gapMs * 1000L) {
            val t = new Timestamp(Math.floorDiv(us, 1000L))
            t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
            out += new org.apache.spark.sql.catalyst.expressions
              .GenericRowWithSchema(
                Array(key, ptp, tp, t), outSchema)
          }
        }
        last = Some((us, tp))
      }
      anchor.update(last.get)
      if (rest.isEmpty) pending.clear() else pending.put(rest.toArray)
    }
    if (rest.nonEmpty)
      getHandle.registerTimer(Math.floorDiv(rest.map(_._1).min, 1000L) + 1)
    else Option(anchor.get()).foreach { case (us, _) =>
      if (wm > Math.floorDiv(us, 1000L) + gapMs) anchor.clear()
      else getHandle.registerTimer(Math.floorDiv(us, 1000L) + gapMs + 1)
    }
    out.result().iterator
  }

  override def handleInputRows(key: Long, rows: Iterator[Row],
                               tv: TimerValues): Iterator[Row] = {
    val fresh = rows.map { r =>
      val t = r.getTimestamp(tsIdx)
      (t.getTime * 1000L + t.getNanos / 1000 % 1000, r.getString(typeIdx))
    }.toArray
    if (fresh.nonEmpty) pending.appendList(fresh)
    finalizeReady(key, tv.getCurrentWatermarkInMs())
  }

  override def handleExpiredTimer(key: Long, tv: TimerValues,
                                  info: ExpiredTimerInfo): Iterator[Row] =
    finalizeReady(key, tv.getCurrentWatermarkInMs())
}

/**
 * Per-key state for [[StreamOps.streamingEwma]]: `pending` buffers
 * `(ts MICROS, tie, value, isNull)` rows the watermark has not passed;
 * `ewmaState` is `(current ewma, seeded flag)` and persists for the key's
 * lifetime. Rows finalize in `(ts, tie)` order once the watermark passes
 * them — the same discipline as [[TransitionProcessor]] — so out-of-order
 * arrivals inside the watermark fold in exactly the batch order. A timer
 * at the earliest pending ts flushes buffered rows when no new traffic
 * arrives for the key.
 */
private[streaming] class EwmaProcessor(tsIdx: Int, tieIdx: Int, valIdx: Int,
    alpha: Double, outSchema: org.apache.spark.sql.types.StructType)
    extends StatefulProcessor[Long, Row, Row] {

  @transient private var pending: ListState[(Long, Long, Double, Boolean)] = _
  @transient private var ewmaState: ValueState[(Double, Long)] = _

  private val beta = 1.0 - alpha
  private val rowEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
    Encoders.scalaDouble, Encoders.scalaBoolean)
  private val stEnc = Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    pending = getHandle.getListState[(Long, Long, Double, Boolean)](
      "pending", rowEnc, TTLConfig.NONE)
    ewmaState = getHandle.getValueState[(Double, Long)]("ewma", stEnc,
      TTLConfig.NONE)
  }

  private def finalizeReady(key: Long, wm: Long): Iterator[Row] = {
    val all = pending.get().toVector
    // pending keys are MICROS; the watermark is millis — a row is final
    // once its whole millisecond has passed (floorDiv: pre-epoch safe)
    val (ready, rest) = all.partition(r => Math.floorDiv(r._1, 1000L) <= wm)
    val out = Vector.newBuilder[Row]
    if (ready.nonEmpty) {
      var st: Option[Double] = Option(ewmaState.get()).collect {
        case (v, seeded) if seeded == 1L => v
      }
      ready.sortBy(r => (r._1, r._2)).foreach { case (us, tie, v, isNull) =>
        if (!isNull) st = Some(st.fold(v)(prev => alpha * v + beta * prev))
        val t = new Timestamp(Math.floorDiv(us, 1000L))
        t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
        out += new org.apache.spark.sql.catalyst.expressions
          .GenericRowWithSchema(
            Array(key, tie, t,
              if (isNull) null else java.lang.Double.valueOf(v),
              st.map(java.lang.Double.valueOf).orNull),
            outSchema)
      }
      st.foreach(v => ewmaState.update((v, 1L)))
      if (rest.isEmpty) pending.clear() else pending.put(rest.toArray)
    }
    if (rest.nonEmpty)
      getHandle.registerTimer(Math.floorDiv(rest.map(_._1).min, 1000L) + 1)
    out.result().iterator
  }

  override def handleInputRows(key: Long, rows: Iterator[Row],
                               tv: TimerValues): Iterator[Row] = {
    val fresh = rows.map { r =>
      val isNull = r.isNullAt(valIdx)
      val t = r.getTimestamp(tsIdx)
      // MICROsecond order key — the batch kernel orders by micros, and
      // the reconciliation contract dies at ms truncation when two
      // same-millisecond events' tie order disagrees with time order
      val us = t.getTime * 1000L + t.getNanos / 1000 % 1000
      (us, r.getLong(tieIdx),
        if (isNull) 0.0 else r.getDouble(valIdx), isNull)
    }.toArray
    if (fresh.nonEmpty) pending.appendList(fresh)
    finalizeReady(key, tv.getCurrentWatermarkInMs())
  }

  override def handleExpiredTimer(key: Long, tv: TimerValues,
                                  info: ExpiredTimerInfo): Iterator[Row] =
    finalizeReady(key, tv.getCurrentWatermarkInMs())
}

/**
 * Structured Streaming surface. The reference is batch-only (files), but the
 * engine's data model — many casts keyed by `cast_id`, ordered by scan —
 * extends naturally to live instrument feeds: `readStream` -> the same
 * column expressions -> watermarked windowed aggregation, plus
 * `mapGroupsWithState` for the inherently sequential QC checks.
 *
 * Everything here is micro-batch-agnostic: the same code runs on
 * `MemoryStream` (tests), Kafka, or file streams.
 */
object StreamOps {

  /** One live sample from an instrument feed. */
  case class Sample(castId: String, ts: Timestamp, scan: Long,
                    pressure: Double, value: Double)

  /** Per-cast running state for online pressure-reversal detection —
    * the streaming form of `press_check` (ctd/processing.py:93-109): track
    * the running max of inversion references; a sample is flagged when its
    * pressure drops below that max. */
  case class PressState(lastPressure: Double, runMaxRef: Double)

  case class CheckedSample(castId: String, scan: Long, pressure: Double,
                           value: Double, reversal: Boolean)

  /**
   * Watermarked per-cast windowed aggregation: mean/min/max pressure and
   * value per (cast, time window). Late samples beyond `watermark` are
   * dropped; state is bounded, so this runs indefinitely.
   */
  def windowedCastStats(samples: DataFrame, windowDur: String = "10 seconds",
                        watermark: String = "30 seconds"): DataFrame =
    samples
      .withWatermark("ts", watermark)
      .groupBy(col("castId"), window(col("ts"), windowDur))
      .agg(
        count(lit(1)).as("n"),
        avg(col("pressure")).as("mean_pressure"),
        min(col("pressure")).as("min_pressure"),
        max(col("pressure")).as("max_pressure"),
        avg(col("value")).as("mean_value"))

  /**
   * Watermarked streaming SESSIONIZATION via Spark's native
   * `session_window`: one row per (user, closed session) with `n_events`
   * and the `valueCol` sum — session boundaries follow the batch
   * [[graft.ops.EventOps.sessionStats]] rule exactly (an event exactly
   * `gap` after the previous one merges; only a strictly larger gap
   * splits), so a pipeline can reconcile its streaming and batch session
   * tables row for row. Append mode: a session emits ONCE, when the
   * event-time watermark passes its end (start + gap of silence), and its
   * state is evicted — bounded memory at any horizon. Null-user /
   * null-timestamp rows have no session and are filtered up front (the
   * batch rule).
   */
  def streamingSessionStats(events: DataFrame, userCol: String, tsCol: String,
                            valueCol: String, gapSeconds: Long,
                            watermark: String = "10 minutes"): DataFrame = {
    require(gapSeconds > 0, s"gapSeconds must be positive, got $gapSeconds")
    events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .withWatermark(tsCol, watermark)
      .groupBy(col(userCol),
        session_window(col(tsCol), s"$gapSeconds seconds").as("session"))
      .agg(count(lit(1)).as("n_events"), sum(col(valueCol)).as("total_value"))
      .withColumn("session_start", col("session.start"))
      .withColumn("session_end", col("session.end"))
      .drop("session")
  }

  /**
   * Streaming TRANSITION EVENTS — the pair stream behind the batch
   * [[graft.ops.EventOps.transitions]] matrix, emitted live: one append-mode
   * row `(user, prev_type, next_type, ts)` per consecutive same-user pair
   * with gap <= `gapSeconds`, finalized once the event-time watermark
   * passes the LATER event. Out-of-order arrivals within the watermark
   * slot into their event-time position (a late middle event yields
   * a->b, b->c — never the naive arrival-order a->c); beyond-watermark
   * stragglers are dropped by the engine, the loss every watermark op
   * accepts. Null user/ts/type rows are filtered up front (the batch
   * rule), and aggregating this stream's (prev_type, next_type) counts
   * over any horizon reproduces the batch matrix on the same events —
   * with one documented tie divergence: SAME-microsecond events order by
   * type string here (the stream carries no id column), where the batch
   * op orders by its `idCol`; pairs across a same-timestamp tie can
   * differ when the id order disagrees with the type order.
   *
   * State per user: the not-yet-final tail of their event stream (bounded
   * by the watermark horizon) plus one anchor event, cleared by timer once
   * the gap rule makes chaining impossible — idle users hold nothing.
   */
  def streamingTransitions(events: DataFrame, userCol: String, tsCol: String,
                           typeCol: String, gapSeconds: Long,
                           watermark: String = "10 minutes"): DataFrame = {
    require(gapSeconds > 0, s"gapSeconds must be positive, got $gapSeconds")
    requireRocksDb(events)
    val base = events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull &&
        col(typeCol).isNotNull)
      .select(col(userCol).cast("long").as(userCol), col(tsCol), col(typeCol))
      .withWatermark(tsCol, watermark)
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(userCol,
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("prev_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("next_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField(tsCol,
        org.apache.spark.sql.types.TimestampType)))
    implicit val rowEnc: Encoder[Row] = Encoders.row(outSchema)
    base.groupByKey(_.getLong(0))(Encoders.scalaLong)
      .transformWithState(
        new TransitionProcessor(1, 2, gapSeconds * 1000L, outSchema),
        tsCol, OutputMode.Append(), rowEnc)
  }

  /**
   * Streaming EWMA — the live sibling of [[graft.ops.EventOps.ewma]]:
   * per-key exponentially-weighted metric smoothing in EVENT-TIME order,
   * robust to out-of-order arrival within the watermark. Each finalized
   * event emits `(key, tie, ts, value, ewma)` where `ewma` is the state
   * AFTER folding that event — replaying the batch recurrence exactly
   * (first non-null seeds; `y = alpha*x + (1-alpha)*y_prev`; null values
   * carry state and emit the current value), so the streamed rows
   * reconcile row-for-row with the batch op on the same events
   * (spec-pinned). The recurrence is order-sensitive, which is exactly
   * why the processor buffers rows until the watermark passes them — the
   * [[TransitionProcessor]] discipline — instead of folding in arrival
   * order.
   *
   * State per key: the un-finalized tail (bounded by the watermark
   * horizon) plus ONE (ewma, seeded) pair that persists for the key's
   * lifetime — a running metric has no retirement point; cap key
   * cardinality upstream if the key space is unbounded. Late rows beyond
   * the watermark drop (the engine's standard trade). Null key / null ts
   * rows are filtered up front: a null key is not a series, and a null
   * event time cannot be ordered (the batch op sorts them first — feed
   * them a synthetic floor timestamp upstream if they must participate).
   */
  def streamingEwma(events: DataFrame, keyCol: String, tsCol: String,
                    tieCol: String, valueCol: String, alpha: Double = 0.5,
                    watermark: String = "10 minutes"): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0,
      s"streamingEwma: alpha must be in (0, 1], got $alpha")
    requireRocksDb(events)
    val base = events
      .select(col(keyCol).cast("long").as(keyCol), col(tsCol),
        col(tieCol).cast("long").as(tieCol),
        col(valueCol).cast("double").as(valueCol))
      // filter AFTER the casts: a non-numeric key/tie casts to null and
      // must drop here, not NPE inside groupByKey/the processor
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull &&
        col(tieCol).isNotNull)
      .withWatermark(tsCol, watermark)
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(keyCol,
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField(tieCol,
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField(tsCol,
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField(valueCol,
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("ewma",
        org.apache.spark.sql.types.DoubleType)))
    implicit val rowEnc: Encoder[Row] = Encoders.row(outSchema)
    base.groupByKey(_.getLong(0))(Encoders.scalaLong)
      .transformWithState(
        new EwmaProcessor(1, 2, 3, alpha, outSchema),
        tsCol, OutputMode.Append(), rowEnc)
  }

  /**
   * Streaming HOPPING WINDOWS — the live sibling of
   * [[graft.ops.EventOps.hoppingStats]], expressed with Spark's NATIVE
   * sliding `window()` (the engine plans a TumblingWindow-style expand of
   * `width/hop` rows per event and a watermarked streaming aggregation —
   * exactly the batch op's shape, state evicted as the watermark
   * passes). Emits `(window_start_us, <typeCol>, n_events,
   * sum_value_micro)` in append mode, finalized per watermark; the value
   * sum is micro-quantized per event BEFORE aggregation, so the counts
   * and sums reconcile exactly with the batch op on the same events
   * (spec-pinned — window boundaries agree because both sides compute
   * hop-aligned integer starts).
   */
  def streamingHoppingStats(events: DataFrame, tsCol: String,
                            typeCol: String, valueCol: String,
                            widthSeconds: Long, hopSeconds: Long,
                            watermark: String = "10 minutes"): DataFrame = {
    require(widthSeconds > 0 && hopSeconds > 0 &&
      widthSeconds % hopSeconds == 0,
      s"streamingHoppingStats: width ($widthSeconds) must be a positive " +
        s"multiple of hop ($hopSeconds)")
    events
      .filter(col(tsCol).isNotNull)
      .withWatermark(tsCol, watermark)
      .groupBy(
        window(col(tsCol), s"$widthSeconds seconds", s"$hopSeconds seconds"),
        col(typeCol))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col(valueCol).cast("double") * 1000000d + lit(0.5)))
          .as("sum_value_micro"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col(typeCol), col("n_events"), col("sum_value_micro"))
  }

  /**
   * Streaming RATE-SPIKE detection — the live form of the q138
   * composition, split the way production monitoring actually works: the
   * per-type BASELINE (`mu`, `sigma` over window counts) comes from a
   * LANDED batch table (history is the baseline — a live stream cannot
   * compute its own long-run stats), and the stream contributes only the
   * current hopping-window counts. Each finalized window row joins the
   * broadcast baseline and emits `z` (rounded 6) and `is_spike`
   * (`z > threshold`); unknown event types (no baseline row) emit a null
   * z and never flag — surface them separately rather than paging on
   * day-one noise.
   *
   * Stateless beyond the watermarked window aggregation itself
   * ([[streamingHoppingStats]]); the baseline join is a broadcast hash
   * join per micro-batch.
   */
  def streamingRateSpikes(events: DataFrame, baseline: DataFrame,
                          tsCol: String, typeCol: String, valueCol: String,
                          widthSeconds: Long, hopSeconds: Long,
                          zThreshold: Double = 2.0,
                          watermark: String = "10 minutes"): DataFrame = {
    // the z/flag rules live in EventOps.spikeJoin, SHARED with the batch
    // rateSpikesAgainstBaseline so the two paths cannot drift (and the
    // batch form's DuckDB oracle covers this one's semantics)
    graft.ops.EventOps.spikeJoin(
      streamingHoppingStats(events, tsCol, typeCol, valueCol,
        widthSeconds, hopSeconds, watermark),
      baseline, typeCol, zThreshold)
  }

  /**
   * Streaming INTERVAL JOIN — the live sibling of
   * [[graft.ops.JoinOps.intervalJoin]] for the fixed-duration window case
   * (incident windows, promo windows, attribution horizons): every
   * `points` row whose event time lands in `[w.ts, w.ts + windowSeconds)`
   * of some `windows` row, as append-mode output finalized by the
   * watermark.
   *
   * This is Spark's native stream-stream symmetric hash join carrying the
   * batch op's OVERLAP-BUCKET key: Structured Streaming refuses a pure
   * range condition (no equality — state lookup would be a scan), so each
   * point emits its two candidate start-buckets (`floor(t/w)` and the one
   * before — a window containing `t` must START in `(t-w, t]`, which
   * spans exactly those two width-`w` buckets) and each window emits its
   * one. The bucket equality routes state lookups; the event-time range
   * condition keeps exactness AND gives the engine the watermark bound it
   * uses to evict both sides' buffers as time advances. A (point, window)
   * pair meets at most once (the window has one bucket), so no dedup.
   * Late rows beyond the watermark drop, the standard trade.
   *
   * `windows` must carry `windowTsCol` plus whatever payload columns the
   * caller wants (disjoint names from `points` — the usual join-column
   * discipline). Nulls on either time column never match (SQL comparison
   * semantics); rows with them are filtered up front so they cannot stall
   * the watermark.
   */
  def streamingIntervalJoin(points: DataFrame, windows: DataFrame,
                            pointTsCol: String, windowTsCol: String,
                            windowSeconds: Long,
                            watermark: String = "10 minutes"): DataFrame = {
    require(windowSeconds > 0,
      s"windowSeconds must be positive, got $windowSeconds")
    val wUs = windowSeconds * 1000000L
    val p = points.filter(col(pointTsCol).isNotNull)
      .withWatermark(pointTsCol, watermark)
      .withColumn("__p_bucket", explode(array(
        expr(s"unix_micros($pointTsCol) DIV $wUs"),
        expr(s"unix_micros($pointTsCol) DIV $wUs - 1"))))
    val w = windows.filter(col(windowTsCol).isNotNull)
      .withWatermark(windowTsCol, watermark)
      .withColumn("__w_bucket", expr(s"unix_micros($windowTsCol) DIV $wUs"))
    p.join(w, expr(
      s"__p_bucket = __w_bucket AND " +
      s"$pointTsCol >= $windowTsCol AND " +
      s"$pointTsCol < $windowTsCol + INTERVAL $windowSeconds SECONDS"))
      .drop("__p_bucket", "__w_bucket")
  }

  /**
   * Streaming exact dedup: drop documents whose sha2-256 digest was already
   * seen within the watermark horizon. Same digest-keyed principle as the
   * batch `DedupOps.exactDedup` — state stores 32-byte digests, never
   * bodies — and `dropDuplicatesWithinWatermark` evicts state once the
   * event-time watermark passes, so the query runs indefinitely with
   * bounded memory (an unwatermarked dropDuplicates would grow state
   * forever at 1e9 docs/day).
   */
  def streamingExactDedup(docs: DataFrame, textCol: String, tsCol: String,
                          watermark: String = "10 minutes"): DataFrame = {
    // null-text docs have a null digest, and dropDuplicates treats null keys
    // as EQUAL — every null-text doc after the first would be silently
    // dropped; they have no content to dedup on, so they pass through
    val dg = graft.ops.TextOps.tempName(docs, "__digest")
    val withDigest = docs
      .withColumn(dg, sha2(col(textCol), 256))
      .withWatermark(tsCol, watermark)
    withDigest.filter(col(dg).isNotNull)
      .dropDuplicatesWithinWatermark(dg)
      .unionByName(withDigest.filter(col(dg).isNull))
      .drop(dg)
  }

  /**
   * Streaming CHUNK-level dedup — the live leg of the CDC delta path
   * (`TextOps.cdcChunks` / `cdcDeltaReport`): each document explodes into
   * content-defined chunks map-side, and chunks whose md5-31 hash was
   * already seen within the watermark horizon drop; what flows on is the
   * stream of GENUINELY NEW chunk rows (id, chunk offsets, text, hash) —
   * the content-addressed ingest feed a delta store appends. Because CDC
   * boundaries resynchronize after edits, a re-crawled page with one
   * changed paragraph contributes ~one chunk, not the whole page.
   *
   * State = one 8-byte-keyed row per distinct chunk hash in the horizon,
   * evicted by the watermark (the [[streamingExactDedup]] contract);
   * the chunker itself is a stateless codegen expression. Exactness
   * caveat shared with the batch path: distinct hash == distinct content
   * modulo md5-31 collisions (~n²/2³¹ — add a verify join downstream if
   * a horizon holds billions of distinct chunks).
   */
  def streamingCdcChunkDedup(docs: DataFrame, idCol: String,
                             textCol: String, tsCol: String,
                             minLen: Int = 16, maskBits: Int = 4,
                             maxLen: Int = 64, windowLen: Int = 16,
                             watermark: String = "10 minutes"): DataFrame = {
    val X = org.apache.spark.sql.catalyst.expressions.graftdedup.CdcExpressions
    val H = org.apache.spark.sql.catalyst.expressions.graftdedup.HashSketchExpressions
    import org.apache.spark.sql.functions._
    val st = transform(col("__ends"), (e, i) =>
      struct(when(i === 0, lit(0)).otherwise(element_at(col("__ends"), i))
        .as("s"), e.as("e")))
    docs
      .filter(col(textCol).isNotNull)
      .withWatermark(tsCol, watermark)
      .select(col(idCol), col(tsCol), col(textCol),
        X.cdcBoundaries(col(textCol), minLen, maskBits, maxLen, windowLen)
          .as("__ends"))
      .select(col(idCol), col(tsCol), col(textCol),
        posexplode(st).as(Seq("chunk_id", "__c")))
      .select(col(idCol), col(tsCol),
        col("chunk_id").cast("long"),
        col("__c.s").cast("long").as("char_start"),
        (col("__c.e") - col("__c.s")).cast("long").as("char_len"),
        col(textCol).substr(col("__c.s") + 1, col("__c.e") - col("__c.s"))
          .as("chunk_text"))
      .withColumn("chunk_hash", H.md5Hash31(col("chunk_text")))
      .dropDuplicatesWithinWatermark("chunk_hash")
  }

  /**
   * Streaming NEAR-dedup, sketch-exact: drop documents whose 64-bit SimHash
   * over the token stream was already seen within the watermark horizon.
   * Token-identical documents — reformatted boilerplate, punctuation-only
   * variants — collide exactly (Hamming distance 0), which covers the
   * overwhelming share of streaming duplicates while keeping state at one
   * 8-byte key per unique doc in the horizon. A full banded-LSH
   * Hamming-radius join is a batch job ([[graft.ops.DedupOps]]); this is
   * the streaming-budget approximation of it, same state-eviction contract
   * as [[streamingExactDedup]].
   *
   * Documents with NO tokens (null/empty/non-alphanumeric text) pass
   * through: they all share the empty sketch, and dropping every
   * punctuation-only doc after the first would be a silent data loss, not
   * a dedup.
   */
  def streamingNearDedup(docs: DataFrame, textCol: String, tsCol: String,
                         watermark: String = "10 minutes"): DataFrame = {
    val toks = graft.ops.TextOps.tokens(col(textCol))
    val ntokC = graft.ops.TextOps.tempName(docs, "__ntok")
    val skC = graft.ops.TextOps.tempName(docs, "__sketch")
    val withSketch = docs
      .withColumn(ntokC, size(toks))
      .withColumn(skC, graft.ops.DedupOps.simHash64(toks))
      .withWatermark(tsCol, watermark)
    withSketch.filter(col(ntokC) > 0)
      .dropDuplicatesWithinWatermark(skC)
      .unionByName(withSketch.filter(col(ntokC) <= 0 || col(ntokC).isNull))
      .drop(skC, ntokC)
  }

  /**
   * Streaming banded near-dedup, Hamming radius ≤ `bands - 1` (default 3),
   * VERIFIED: the 64-bit SimHash is split into `bands` (default 4) disjoint
   * sub-keys; a band key match only makes a retained document a CANDIDATE —
   * the full 64-bit sketches are then compared, and the incoming document
   * is dropped only when a candidate is within Hamming `radius`. Pigeonhole
   * gives the catch guarantee: two sketches within Hamming `bands - 1`
   * agree on at least one band, so they meet in that band's state bucket
   * and the verify succeeds. The verify step is what a bare band-key dedup
   * lacks: 16-bit keys collide at birthday scale 2^16, so an unverified
   * drop would delete ~`1-(1-n/2^16)^bands` of genuinely distinct docs at
   * `n` retained docs per horizon (~48% at n=10k) — here a random band
   * collision is compared against the full sketch and passes through.
   *
   * Mechanically: `bands` chained [[KeyValueGroupedDataset.transformWithState]]
   * stages in append mode, each keyed by one band value, each declaring
   * `tsCol` as its output event-time column so the stages legally chain
   * under the global-watermark correctness check. Per-stage state is the
   * full (sketch, event-time) pair per retained doc in the horizon —
   * 16 bytes/doc/band, body-free — pruned by watermark on every update and
   * by event-time timers when a bucket goes idle. REQUIRES the RocksDB
   * state store provider (`spark.sql.streaming.stateStore.providerClass`
   * = ...state.RocksDBStateStoreProvider), the provider built for exactly
   * this column-family state shape; the default HDFS-backed provider does
   * not support transformWithState.
   *
   * Drop semantics sit BETWEEN keep-first-against-retained and transitive
   * closure: every dropped document is within Hamming `radius` of some
   * EARLIER document in the horizon, but that earlier document may itself
   * have been dropped. A document dropped at stage i has already registered
   * its (sketch, ts) in stages 0..i-1, and those residual registrations
   * shadow later lookalikes until the watermark evicts them — so in a chain
   * A ~ B ~ C where C only resembles the dropped B, C is dropped when its
   * shared band with B lands in a stage before the one that dropped B, and
   * kept when it lands at or after it. Exact keep-first-against-retained
   * would need cross-stage registration confirmation (a second pass the
   * chained-stage topology cannot express); exact transitive closure is the
   * batch connected-components dedup,
   * [[graft.ops.DedupOps.nearDedupConnected]].
   * Every drop is still a genuine near-dup of an earlier arrival, which is
   * the contract ingest dedup needs. Within a micro-batch each bucket
   * processes rows in event-time order, so replays are deterministic.
   *
   * Token-less documents pass through, as in [[streamingNearDedup]].
   */
  def streamingBandedNearDedup(docs: DataFrame, textCol: String, tsCol: String,
                               watermark: String = "10 minutes",
                               bands: Int = 4, radius: Int = -1): DataFrame = {
    val toks = graft.ops.TextOps.tokens(col(textCol))
    val ntokC = graft.ops.TextOps.tempName(docs, "__ntok")
    val skC = graft.ops.TextOps.tempName(docs, "__sketch")
    // the watermark node sits BEFORE the token-count split, shared by both
    // branches: token-less traffic must keep advancing the event-time
    // watermark (state eviction in the dedup stages stalls otherwise), and
    // the pass-through branch must not reach downstream stateful consumers
    // unwatermarked
    val base = docs
      .withColumn(ntokC, size(toks))
      .withColumn(skC, graft.ops.DedupOps.simHash64(toks))
      .withWatermark(tsCol, watermark)
    val deduped = bandedDedupOnSketch(base.filter(col(ntokC) > 0), skC, tsCol,
      watermark, bands, radius, applyWatermark = false)
    deduped
      .unionByName(base.filter(col(ntokC) <= 0 || col(ntokC).isNull))
      .drop(ntokC, skC)
  }

  /** Sketch-level core of [[streamingBandedNearDedup]]: dedups on an
    * existing 64-bit sketch column. Factored out so the collision/verify
    * semantics are testable with planted sketches. `applyWatermark = false`
    * when the caller already watermarked `tsCol` upstream (e.g. a node
    * shared with a pass-through branch). */
  private[graft] def bandedDedupOnSketch(df: DataFrame, sketchCol: String,
                                         tsCol: String, watermark: String,
                                         bands: Int, radiusIn: Int,
                                         applyWatermark: Boolean = true): DataFrame = {
    require(bands >= 1 && 64 % bands == 0, s"bands must divide 64, got $bands")
    val radius = if (radiusIn < 0) bands - 1 else radiusIn
    require(radius <= 64, s"radius must be <= 64, got $radius")
    // the pigeonhole guarantee only covers distance <= bands-1: a pair at
    // distance d <= bands-1 shares a band; d in (bands-1, radius] pairs are
    // dropped IF they happen to share a band, caught probabilistically
    val width = 64 / bands
    val delayMs = watermarkDelayMs(watermark)
    requireRocksDb(df)
    val skIdx = df.schema.fieldIndex(sketchCol)
    val tsIdx = df.schema.fieldIndex(tsCol)
    // withWatermark only ahead of stage 1: each stage re-declares tsCol as
    // its output event-time column (the transformWithState chaining
    // contract), and re-applying withWatermark on a declared column is a
    // watermark redefinition error
    val start = if (applyWatermark) df.withWatermark(tsCol, watermark) else df
    chainBandStages(start, tsCol, bands,
      key = (r, i) => (r.getLong(skIdx) >>> (i * width)) &
        (if (width == 64) -1L else (1L << width) - 1L),
      proc = _ => new BandDedupProcessor(skIdx, tsIdx, radius, delayMs))
  }

  /** Parse a watermark interval string to milliseconds (month-free — a
    * month has no fixed ms width, so a month-bearing horizon is rejected
    * loudly rather than approximated). */
  private def watermarkDelayMs(watermark: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .fromIntervalString(watermark)
    require(iv.months == 0, s"watermark must not use months, got $watermark")
    iv.days * 86400000L + iv.microseconds / 1000L
  }

  private def requireRocksDb(df: DataFrame): Unit = {
    val provider = df.sparkSession.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass").getOrElse("")
    require(provider.contains("RocksDBStateStoreProvider"),
      "chained streaming near-dedup uses transformWithState, which requires " +
      "spark.sql.streaming.stateStore.providerClass = " +
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  }

  /** Chain `bands` transformWithState stages over the non-null-event-time
    * rows of `start` (already watermarked), stage i keyed by `key(row, i)`,
    * and route null event-time rows AROUND the chain: a null event-time row
    * cannot participate in watermark-bounded state (getTimestamp would NPE
    * in the processor, or the row would be silently late-filtered) —
    * mirroring the null-digest handling in [[streamingExactDedup]]. */
  private def chainBandStages(start: DataFrame, tsCol: String, bands: Int,
      key: (Row, Int) => Long,
      proc: Int => StatefulProcessor[Long, Row, Row]): DataFrame = {
    implicit val rowEnc: Encoder[Row] = Encoders.row(start.schema)
    val chained = (0 until bands).foldLeft(start.filter(col(tsCol).isNotNull)) {
      (d, i) =>
        d.groupByKey(r => key(r, i))(Encoders.scalaLong)
          .transformWithState(proc(i), tsCol, OutputMode.Append(), rowEnc)
    }
    chained.unionByName(start.filter(col(tsCol).isNull))
  }

  /**
   * Streaming MinHash near-dedup, Jaccard-VERIFIED: the batch
   * [[graft.ops.DedupOps.nearDuplicatePairs]] semantics (MinHash banding
   * for candidates, exact shingle-set Jaccard >= `threshold` to drop),
   * restated as `bands` chained [[KeyValueGroupedDataset.transformWithState]]
   * stages. This is the streaming op that catches what
   * [[streamingBandedNearDedup]]'s SimHash cannot: SimHash is
   * token-FREQUENCY-weighted, so padding a document with a repeated spam
   * token drags many sketch bits (Hamming >> radius) while the shingle SET
   * barely moves (Jaccard stays high) — set-based MinHash still drops it.
   *
   * Mechanically: one shingling pass feeds both the MinHash signature
   * (banded into `bands` keys, the candidate lookup — a pair at Jaccard J
   * meets in some band with probability 1-(1-J^r)^b, the standard LSH
   * S-curve, ~99.8% at J=0.7 with the default 16x4) and the sorted md5-31
   * shingle hash set (the verify payload). Each stage is keyed by one band
   * key and stores (verify array, event-time ms) per retained doc in the
   * horizon — watermark-pruned on every update, timer-swept when idle,
   * exactly the [[bandedDedupOnSketch]] state contract. REQUIRES the
   * RocksDB state store provider, as there.
   *
   * State cost is the knob: `exactVerify = true` (default) stores the
   * shingle hash set — 8 bytes/distinct shingle/doc/BAND, i.e. documents
   * of ~500 shingles cost ~4 KB x 16 bands each — exact batch-q26 verify
   * semantics. `exactVerify = false` stores the fixed-width signature
   * instead (8·numHashes bytes/doc/band, 512 B at the default 64) and
   * verifies on the fraction of agreeing components (the unbiased MinHash
   * Jaccard estimator, stddev ~ sqrt(J(1-J)/k) ~ 0.06 at k=64): the
   * bounded-state choice for unbounded feeds of long documents. Both
   * verify modes pass genuinely-distinct band-key collisions through.
   *
   * Drop semantics sit between keep-first-against-retained and transitive
   * closure, exactly as documented on [[streamingBandedNearDedup]]: every
   * dropped document verified at Jaccard >= `threshold` against some
   * earlier arrival in the horizon. Documents with an EMPTY shingle set
   * (null/empty text) pass through — they cannot near-duplicate anything
   * (the batch path drops their band rows for the same reason) — as do
   * null event-time rows, routed around the stateful chain.
   *
   * 100 TB shape: per micro-batch the work is one codegen'd
   * shingle+sketch projection and `bands` hash-partitioned state lookups;
   * state holds hashes only, never text, and every byte of it is
   * watermark-evicted. The chain costs `bands` shuffles — for a
   * high-throughput feed prefer fewer, wider bands (e.g. 8x8: catch
   * ~97% at J=0.8+, half the stages) or `exactVerify = false`.
   */
  def streamingMinHashNearDedup(docs: DataFrame, textCol: String, tsCol: String,
                                watermark: String = "10 minutes",
                                numHashes: Int = 64, bands: Int = 16,
                                shingleSize: Int = 3, threshold: Double = 0.7,
                                exactVerify: Boolean = true): DataFrame = {
    require(numHashes >= 1 && numHashes % bands == 0,
      s"numHashes must be a positive multiple of bands, got $numHashes/$bands")
    val D = graft.ops.DedupOps
    val K = org.apache.spark.sql.catalyst.expressions.graftdedup.HashSketchExpressions
    val toks = graft.ops.TextOps.tokens(col(textCol))
    val ntokC = graft.ops.TextOps.tempName(docs, "__ntok")
    val shC = graft.ops.TextOps.tempName(docs, "__sh")
    val setC = graft.ops.TextOps.tempName(docs, "__shset")
    val sigC = graft.ops.TextOps.tempName(docs, "__sig")
    val bkC = graft.ops.TextOps.tempName(docs, "__bandkeys")
    // one shingling pass; signature and verify array both derive from it
    // inside a single codegen'd projection. Token-less docs (ntok <= 0 or
    // null text) collapse to the single empty-string shingle — near-dupping
    // them together would be the silent data loss [[streamingNearDedup]]
    // documents — so they route on ntokC, as in the SimHash ops. The
    // watermark sits before the split, shared by both branches.
    val shingled = docs
      .withColumn(ntokC, size(toks))
      .withColumn(shC, D.shinglesFromTokens(toks, shingleSize))
    val base = (if (exactVerify)
        shingled.withColumn(setC, K.shingleHashSet(col(shC)))
      else
        shingled.withColumn(setC, D.minHashFromShingles(col(shC), numHashes)))
      .withColumn(sigC, D.minHashFromShingles(col(shC), numHashes))
      .withColumn(bkC, K.lshBandKeys(col(sigC), bands))
      .drop(shC, sigC)
      .withWatermark(tsCol, watermark)
    val deduped = minHashDedupOnSets(
      base.filter(col(ntokC) > 0), setC, bkC, tsCol, watermark,
      bands, threshold, exactVerify, applyWatermark = false)
    deduped
      .unionByName(base.filter(col(ntokC) <= 0 || col(ntokC).isNull))
      .drop(ntokC, setC, bkC)
  }

  /** Band-key/verify-array core of [[streamingMinHashNearDedup]]: dedups on
    * a precomputed verify-array column (`setCol`) and band-keys column
    * (`bandsCol`, one key per stage). Factored out so the collision/verify
    * semantics are testable with planted arrays. */
  private[graft] def minHashDedupOnSets(df: DataFrame, setCol: String,
                                        bandsCol: String, tsCol: String,
                                        watermark: String, bands: Int,
                                        threshold: Double, exact: Boolean,
                                        applyWatermark: Boolean = true): DataFrame = {
    require(bands >= 1, s"bands must be >= 1, got $bands")
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val delayMs = watermarkDelayMs(watermark)
    requireRocksDb(df)
    val setIdx = df.schema.fieldIndex(setCol)
    val bkIdx = df.schema.fieldIndex(bandsCol)
    val tsIdx = df.schema.fieldIndex(tsCol)
    val start = if (applyWatermark) df.withWatermark(tsCol, watermark) else df
    chainBandStages(start, tsCol, bands,
      key = (r, i) => r.getSeq[Long](bkIdx)(i),
      proc = _ => new MinHashBandDedupProcessor(setIdx, tsIdx, threshold,
        exact, delayMs))
  }

  /**
   * Online press_check via `mapGroupsWithState`: within each micro-batch the
   * group's samples are sorted by scan and folded through the running
   * reversal state, which persists across batches. (flatMapGroupsWithState
   * variant; Append-mode compatible.)
   */
  /** `idleTimeout`: evict a cast's state after this much processing-time
    * inactivity — REQUIRED for unbounded live feeds (ever-new cast_ids
    * would otherwise accumulate one PressState each, forever). None (the
    * default) keeps state indefinitely: correct for bounded cast sets, and
    * the right default for `processAllAvailable`-style drives — processing-
    * time timeouts schedule continuous empty timeout-check batches under
    * the default 0 ms trigger (a livelock for tests; production queries
    * enabling the timeout should also set a processing-time trigger). */
  def streamingPressCheck(samples: Dataset[Sample],
                          idleTimeout: Option[String] = None): Dataset[CheckedSample] = {
    import samples.sparkSession.implicits._
    val timeoutConf = if (idleTimeout.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout() else GroupStateTimeout.NoTimeout()
    samples
      .groupByKey(_.castId)
      .flatMapGroupsWithState[PressState, CheckedSample](
        OutputMode.Append(), timeoutConf) {
        (castId: String, it: Iterator[Sample], state: GroupState[PressState]) =>
          if (state.hasTimedOut) {
            // cast idle past the timeout is finished — drop its state (a
            // straggler after that restarts clean, flagging conservatively)
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(
              PressState(Double.NegativeInfinity, Double.NegativeInfinity))
            val out = it.toSeq.sortBy(_.scan).map { s =>
              // inversion start: previous sample was higher than this one ->
              // previous pressure becomes a reversal reference
              val ref = if (s.pressure < st.lastPressure)
                math.max(st.runMaxRef, st.lastPressure) else st.runMaxRef
              val flagged = s.pressure < ref
              st = PressState(s.pressure, ref)
              CheckedSample(castId, s.scan, s.pressure, s.value, flagged)
            }
            state.update(st)
            idleTimeout.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
  }

  /**
   * STEADY-STATE streaming ingest dedup against a persisted near-dup
   * index ([[graft.ops.DedupOps.landNearDupIndex]]): a `foreachBatch`
   * body that, per micro-batch, (1) optionally near-dedups WITHIN the
   * batch (batch [[graft.ops.DedupOps.nearDedup]] semantics — two fresh
   * near-dup rows arriving in one batch would both miss the index),
   * (2) probes the landed index with the batch
   * ([[graft.ops.DedupOps.nearDedupAgainstIndex]] — bucketed scans, zero
   * landed-side recompute), (3) folds accepted rows back via
   * [[graft.ops.DedupOps.appendNearDupIndex]] so LATER batches catch
   * near-dups of earlier accepted documents, then (4) hands the accepted
   * batch to `sink`. Wire it as
   * `stream.writeStream.foreachBatch(StreamOps.dedupAgainstIndexBatch(...)(sink)).start()`.
   *
   * This is the unbounded-horizon complement to the stateful in-stream
   * ops: [[streamingMinHashNearDedup]] bounds its memory by the
   * WATERMARK horizon (a near-dup of last week's doc passes), while the
   * index remembers every accepted document for the life of the index at
   * zero state-store cost — the dedup a steady-state crawl ingest needs.
   * Sketch parameters ride in the index's meta table (land/probe drift is
   * unrepresentable); the accepted batch is pinned with a
   * `localCheckpoint` BEFORE the append mutates the very tables the probe
   * plan reads, then `sink` receives the pinned frame.
   *
   * Delivery: the SINK runs BEFORE the append. The order is load-bearing:
   * appended-first, a replayed batch would probe against its own
   * just-appended documents, accept nothing, and the sink would
   * permanently miss the rows the failed attempt accepted — silent loss.
   * Sink-first, a replay re-probes an unchanged-for-these-docs index
   * (the append is idempotent per `xxhash64(text)` identity, so even a
   * replay AFTER a successful append re-accepts nothing it shouldn't:
   * those docs were already delivered by the attempt that appended them),
   * re-delivers the same accepted rows, and retries the append — the
   * index converges and `sink` sees the standard foreachBatch
   * at-least-once contract (idempotent on `batchId` as usual).
   *
   * Visibility: foreachBatch runs in the stream's CLONED SparkSession, so
   * probe-then-append stays self-consistent batch over batch. A DIFFERENT
   * session probing the same index concurrently reads through its own
   * relation cache and sees appends only after `REFRESH TABLE
   * <name>_shingles / _bands` — standard catalog-table semantics, not a
   * property of this operator.
   *
   * Maintenance: every append adds up to numBuckets files, so a stream
   * that runs for thousands of micro-batches accretes file history the
   * probe scans pay for. `compactEvery = n` runs
   * [[graft.ops.DedupOps.compactNearDupIndex]] after the append on every
   * n-th batch (batchId % n == n - 1) — between batches, never
   * concurrently with a probe, and AFTER the sink so a compaction crash
   * can only lose file-layout or catalog work, never data or delivered
   * rows (compactTable's side-table-swap contract: the original stays
   * intact until a complete compacted copy exists). 0 disables.
   */
  def dedupAgainstIndexBatch(idCol: String, textCol: String, name: String,
                             threshold: Double = 0.7, maxRefBucket: Int = 0,
                             dedupWithinBatch: Boolean = true,
                             appendAccepted: Boolean = true,
                             compactEvery: Int = 0)
                            (sink: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = {
    val D = graft.ops.DedupOps
    (batch: DataFrame, batchId: Long) => {
      // r16: the pinned parameter row comes from the IndexCatalog cache
      // (one head() job on the stream's FIRST batch, zero after) instead
      // of a fresh meta-table scan job on EVERY micro-batch; appends that
      // rewrite meta invalidate the cache in-JVM
      val (numHashes, bands, shingleSize) =
        D.nearDupParams(batch.sparkSession, name)
      // PIN the micro-batch before fanning out: the body references `batch`
      // from the within-batch self-join, the index probe, and the append —
      // each would re-evaluate the incoming plan (and a foreachBatch frame
      // re-evaluates back into the SOURCE on some sinks). One batch-sized
      // localCheckpoint collapses all of that to a single materialization.
      // The within-batch shingle stage and both checkpoints are
      // reachability-scoped: the ContextCleaner drops their blocks once
      // this batch's frames are gone, so a long or crash-retrying stream
      // accumulates none.
      val pinned = batch.localCheckpoint()
      val inBatch =
        if (dedupWithinBatch) {
          val losers = D.nearDuplicatePairs(pinned, idCol, textCol,
              numHashes, bands, shingleSize, threshold)
            .select(col("id_b").as(idCol)).distinct()
          pinned.join(losers, Seq(idCol), "left_anti")
        } else pinned
      val accepted = D.nearDedupAgainstIndex(inBatch, idCol, textCol, name,
          threshold, maxRefBucket)
        .localCheckpoint()
      // sink FIRST (see the delivery note above): a doc may only enter the
      // index via an attempt that already delivered it
      sink(accepted, batchId)
      if (appendAccepted) D.appendNearDupIndex(accepted, textCol, name)
      if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
        D.compactNearDupIndex(batch.sparkSession, name)
    }
  }

  /**
   * Streaming PARAGRAPH dedup against a landed
   * [[graft.ops.DedupOps.landParagraphStore]] — the sub-document
   * complement of [[dedupAgainstIndexBatch]]: each micro-batch's
   * documents are EXCISED (not dropped whole) of every paragraph the
   * store already owns, first-occurrence-deduped within the batch, the
   * rebuilt documents delivered to `sink`, and the survivors' paragraph
   * hashes folded into the store so later batches (and replays) see
   * them. Unbounded horizon at 8 bytes per distinct paragraph of state,
   * zero state-store cost.
   *
   * Same load-bearing order as [[dedupAgainstIndexBatch]]: the batch
   * pins first (the against-store plan references it from the instance
   * explode AND the rebuild join); the deduped result pins BEFORE the
   * append mutates the very `_paras` table the probe plan reads; the
   * SINK runs before the append. Replay is BYTE-IDENTICAL, not merely
   * at-least-once: unlike the whole-document index path (where a replay
   * after a successful append simply drops already-delivered docs), an
   * excision op re-delivering against its own appends would ship
   * over-excised (often empty) documents — so the probe masks the
   * store's `src_batch == batchId` rows
   * ([[graft.ops.DedupOps.paragraphDedupAgainstStore]] `excludeBatch`)
   * and a re-run of micro-batch n sees the store exactly as attempt one
   * did, whether the crash hit before, during, or after n's append
   * (the append retry re-tags the same hashes). Relies on Structured
   * Streaming's guarantee that a failed batch replays under the SAME id
   * before any later batch starts. `compactEvery = n` collapses the
   * append file history every n-th batch, after the sink.
   */
  def paragraphDedupBatch(idCol: String, textCol: String, name: String,
                          out: String = "text_dedup",
                          appendAccepted: Boolean = true,
                          compactEvery: Int = 0)
                         (sink: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = {
    val D = graft.ops.DedupOps
    (batch: DataFrame, batchId: Long) => {
      val pinned = batch.localCheckpoint()
      val deduped = D.paragraphDedupAgainstStore(pinned, idCol, textCol,
          name, out, excludeBatch = Some(batchId))
        .localCheckpoint()
      sink(deduped, batchId)
      if (appendAccepted) D.appendParagraphStore(deduped, out, name, batchId)
      if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1) {
        // FAMILY lease around the table compaction (family -> table
        // order): appendParagraphStore holds the family lease, so a
        // second application's append and this compaction exclude each
        // other — table-lease-only here would let them interleave
        graft.sources.WriterLease.withWriterLease(batch.sparkSession, name) {
          graft.sources.BucketedLand.compactTable(batch.sparkSession,
            s"${name}_paras")
        }
        ()
      }
    }
  }

  /**
   * Streaming COUNT-MIN maintenance: a `foreachBatch` body that folds each
   * micro-batch's items into a landed
   * [[graft.ops.SketchOps.landCmsSketch]] sketch as the counter segment
   * `"<segmentPrefix><batchId>"`. Structured Streaming re-runs a failed
   * micro-batch under the SAME batch id, and
   * [[graft.ops.SketchOps.appendToCmsSketch]] skips a segment that is
   * already present — so the sketch gets each batch's counts EXACTLY
   * ONCE across crash/retry without any transaction machinery: the
   * engine's at-least-once delivery composes with the segment-id
   * idempotency into effective exactly-once, the same contract the
   * batch-id-keyed sinks in the Structured Streaming docs rely on.
   *
   * Usage: `items.writeStream.foreachBatch(cmsUpdateBatch("tok", name))`
   * where `items` carries one row per occurrence (explode upstream).
   * Estimates at any point come from
   * [[graft.ops.SketchOps.cmsEstimateAgainstSketch]] and reflect every
   * fully-committed batch.
   */
  def cmsUpdateBatch(keyCol: String, name: String,
                     segmentPrefix: String = "stream-")
                    : (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      graft.ops.SketchOps.appendToCmsSketch(batch, keyCol, name,
        s"$segmentPrefix$batchId")
      ()
    }

  /**
   * Streaming QUANTILE maintenance — the KLL sibling of
   * [[cmsUpdateBatch]]: a `foreachBatch` body that folds each
   * micro-batch into a landed
   * [[graft.ops.SketchOps.landQuantileSketches]] store as the segment
   * `"<segmentPrefix><batchId>"`. The engine re-runs a failed
   * micro-batch under the SAME batch id and
   * [[graft.ops.SketchOps.appendQuantileSketches]] skips a segment
   * already present, so each batch weights the rank distribution
   * EXACTLY ONCE across crash/retry. Group/value columns and `k` come
   * from the landed meta, so the stream cannot drift from the store it
   * feeds. Percentile reads at any point
   * ([[graft.ops.SketchOps.quantilesAgainstSketches]]) reflect every
   * fully-committed batch.
   */
  def quantileUpdateBatch(name: String, segmentPrefix: String = "stream-")
                         : (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      graft.ops.SketchOps.appendQuantileSketches(batch, name,
        s"$segmentPrefix$batchId")
      ()
    }
}
