package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/**
 * One benchmark run: `Main --workload <name> --seed <n> --seconds <s>
 * --trace <0|1> --work <dir>`. Generates the workload's inputs from the
 * seed under `dir`, runs it closed-loop at `local[4]`, checks every pass,
 * and prints one JSON record as the last line of stdout. `dir` holds all
 * inputs, landed tables and Spark scratch, and is deleted on exit.
 * `perfbench/run.py` builds this and is the command to run.
 */
object Main {
  def workload(name: String, seed: Long, work: Path): Workload = name match {
    case "qc_cruise" =>
      new QcCruise(work.resolve("casts"), work.resolve("landed"), seed, casts = 32, scans = 1500)
    case "dedup_stream" =>
      new DedupStream(work.resolve("docs"), seed, corpusDocs = 3000, batches = 64, batchDocs = 100,
        compactEvery = 3)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toUri.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Old-generation occupancy right after a full collection, in MB. The
    * first collection lets Spark's cleaner drop the blocks of released
    * shuffles and broadcasts; the second one counts without them. */
  def oldGenAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / 1e6
  }

  /** No pass may leave a persisted RDD behind. Released datasets are
    * unpersisted by Spark's cleaner once collected, so this waits for a
    * collection and the cleaner before it judges. */
  def persistedLeft(spark: SparkSession): Int = {
    val deadline = System.nanoTime() + 5000000000L
    var left = spark.sparkContext.getPersistentRDDs.size
    while (left > 0 && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(100)
      left = spark.sparkContext.getPersistentRDDs.size
    }
    left
  }

  final class Tally {
    var attempted = 0
    var failed = 0
    val notes: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

    /** One pass, its failures counted; a pass that throws counts as one
      * failed attempt. */
    def run(w: Workload, spark: SparkSession, trace: Trace): Option[Pass] =
      try {
        val p = w.pass(spark, trace)
        attempted += p.attempted
        failed += p.failed
        val left = persistedLeft(spark)
        if (left > 0) { failed += 1; notes += s"$left persisted RDDs left after a pass" }
        if (p.failed > 0) notes += s"check failed: ${p.note}"
        Some(p)
      } catch {
        case e: Exception =>
          if (failed == 0) e.printStackTrace()
          attempted += 1
          failed += 1
          notes += s"pass threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }

    def failedRatio: Double = if (attempted == 0) 1.0 else failed.toDouble / attempted
  }

  def json(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
      } + "\""
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def metric(value: Double, unit: String): Map[String, Any] = Map("value" -> value, "unit" -> unit)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opts("work")).toAbsolutePath
    val w = workload(opts("workload"), opts("seed").toLong, work)
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    var spark: SparkSession = null
    val code =
      try {
        val t0 = System.nanoTime()
        w.generate()
        val genS = Workload.seconds(t0)
        val tally = new Tally
        // set-up: session start through the end of the first, cold pass
        val s0 = System.nanoTime()
        spark = session(work)
        tally.run(w, spark, off)
        val setupS = Workload.seconds(s0)
        val (metrics, detail) =
          if (traced) runTraced(w, spark, seconds, tally)
          else runTimed(w, spark, setupS, seconds, tally)
        val record = Map("correct" -> (tally.failed == 0), "attempted" -> tally.attempted,
          "failed" -> tally.failed, "metrics" -> metrics)
        println(json(detail ++ Map("workload" -> w.name, "gen_s" -> genS, "setup_s" -> setupS,
          "jvm_uptime_s" -> ManagementFactory.getRuntimeMXBean.getUptime / 1e3,
          "failed_ratio" -> tally.failedRatio, "notes" -> tally.notes.toSeq)))
        println(json(record))
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally {
        if (spark != null) spark.stop()
        Workload.deleteTree(work)
      }
    sys.exit(code)
  }

  private val off = new Trace(None)

  /** Passes until `seconds` have passed, ending on a whole cycle of the
    * workload; a pass that throws counts as failed. */
  def window(w: Workload, spark: SparkSession, seconds: Double, tally: Tally,
             trace: Trace): Seq[Pass] = {
    val out = mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    while (out.isEmpty || out.length % w.cycle != 0 || Workload.seconds(t0) < seconds) {
      tally.run(w, spark, trace) match {
        case Some(p) => out += p
        case None if tally.failed > 3 => throw new IllegalStateException("passes keep failing")
        case None =>
      }
    }
    out.toSeq
  }

  /** Untraced run, after the set-up: the workload's warm-up passes, then
    * measured passes for `seconds`. The rate is the median over the
    * window's whole cycles of items over busy time. Old-generation
    * occupancy is sampled after the set-up, the warm-up and the measured
    * passes. */
  def runTimed(w: Workload, spark: SparkSession, setupS: Double, seconds: Double,
               tally: Tally): (Map[String, Any], Map[String, Any]) = {
    val heap = mutable.ArrayBuffer(oldGenAfterGcMb())
    (1 to w.warmupPasses).foreach(_ => tally.run(w, spark, off))
    heap += oldGenAfterGcMb()
    val passes = window(w, spark, seconds, tally, off)
    heap += oldGenAfterGcMb()
    val actions = passes.map(_.busy)
    val tail = Stats.tail(actions)
    val rate = Stats.median(passes.grouped(w.cycle).map(c => c.map(_.items).sum / c.map(_.busy).sum)
      .toSeq)
    val metrics = Map(
      "setup_s" -> metric(setupS, "s"),
      "items_per_s" -> metric(rate, "1/s"),
      "heap_peak_mb" -> metric(heap.max, "MB"))
    val rateName = if (w.name == "dedup_stream") "docs_per_s" else "casts_per_s"
    (metrics, Map("warm_passes" -> passes.length, "pass_s" -> actions, rateName -> rate,
      "batch_p50_s" -> Stats.median(actions), "batch_tail_s" -> tail.value, "batch_tail" -> Map(
        "percentile" -> tail.percentile, "samples_beyond" -> tail.beyond, "samples" -> tail.samples),
      "pass_notes" -> passes.map(_.note)))
  }

  val PerLayer: Seq[(String, String)] = Seq(
    "io.parse_s" -> "s", "io.parse_mb_per_s" -> "MB/s",
    "sources.load_s" -> "s", "sources.scan_s" -> "s", "sources.ingest_s" -> "s",
    "sources.bytes_written" -> "bytes", "sources.files_written" -> "count",
    "ops.lp_filter_s" -> "s", "ops.despike_s" -> "s", "ops.press_split_s" -> "s",
    "ops.bindata_s" -> "s", "ops.prefix_read_s" -> "s", "ops.prefix_lp_filter_s" -> "s",
    "ops.prefix_despike_s" -> "s", "ops.prefix_press_split_s" -> "s",
    "ops.prefix_bindata_s" -> "s", "dsp.filtfilt_s" -> "s",
    "dedup.land_s" -> "s", "dedup.probe_s" -> "s", "dedup.append_s" -> "s",
    "dedup.compact_s" -> "s", "dedup.candidates" -> "count", "dedup.verified" -> "count",
    "dedup.verified_per_candidate" -> "ratio", "dedup.accepted_ratio" -> "ratio",
    "index.files" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.jobs_per_batch" -> "count", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.exec_run_s" -> "s", "spark.exec_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.planning_s" -> "s", "spark.stage_skew" -> "ratio", "spark.exchanges" -> "count",
    "spark.sorts" -> "count", "spark.windows" -> "count",
    "batch_p50_s" -> "s", "batch_tail_s" -> "s", "trace.overhead_ratio" -> "ratio",
    "failed_ratio" -> "ratio")

  /** Traced run, after the set-up: the workload's warm-up passes, warm
    * passes without tracing for half of `seconds`, the same traced for the
    * other half, then the single-layer measurements. Pass metrics are per pass (a micro-batch on
    * `dedup_stream`). Layers a workload does not run read 0. */
  def runTraced(w: Workload, spark: SparkSession, seconds: Double,
                tally: Tally): (Map[String, Any], Map[String, Any]) = {
    (1 to w.warmupPasses).foreach(_ => tally.run(w, spark, off))
    val plain = window(w, spark, seconds / 2, tally, off)
    val probe = new Probe(spark)
    probe.attach()
    val trace = new Trace(Some(probe))
    val traced = try window(w, spark, seconds / 2, tally, trace) finally probe.detach()
    val counters = probe.snapshot()
    val n = traced.length.toDouble
    val v = trace.values.toMap
    def per(k: String, by: Double): Double = v.getOrElse(k, 0.0) / math.max(1.0, by)
    val out = mutable.LinkedHashMap.empty[String, Double]
    out("index.files") = per("index.files", n)
    if (v.contains("dedup.probe_s")) {
      val compactions = v.getOrElse("dedup.compact_batches", 0.0)
      out("dedup.probe_s") = per("dedup.probe_s", n)
      out("dedup.append_s") = per("dedup.append_s", n - compactions)
      out("dedup.compact_s") = math.max(0.0,
        per("dedup.compact_tail_s", compactions) - out("dedup.append_s"))
      out("dedup.accepted_ratio") = v("dedup.accepted") / traced.map(_.items).sum
    }
    val cand = counters.getOrElse("neardup_candidates", 0.0)
    val ver = counters.getOrElse("neardup_verified", 0.0)
    out("dedup.candidates") = cand / n
    out("dedup.verified") = ver / n
    out("dedup.verified_per_candidate") = if (cand > 0) ver / cand else 0.0
    out("spark.jobs_per_batch") = counters.getOrElse("jobs", 0.0) / n
    Seq("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
      "exec_run_s", "exec_cpu_s", "gc_s", "planning_s", "exchanges", "sorts", "windows")
      .foreach(k => out(s"spark.$k") = counters.getOrElse(k, 0.0) / n)
    out("spark.stage_skew") = counters("stage_skew")
    out("trace.overhead_ratio") =
      Stats.median(traced.map(_.busy)) / Stats.median(plain.map(_.busy))
    out("batch_p50_s") = Stats.median(plain.map(_.busy))
    out("batch_tail_s") = Stats.tail(plain.map(_.busy)).value

    val layerTrace = new Trace(Some(probe))
    tally.attempted += 1
    if (!w.layers(spark, layerTrace)) {
      tally.failed += 1
      tally.notes += "check failed on the single-layer measurements"
    }
    layerTrace.values.foreach { case (k, x) => out(k) = x }
    out("failed_ratio") = tally.failedRatio

    val metrics = PerLayer.map { case (k, unit) => k -> metric(out.getOrElse(k, 0.0), unit) }.toMap
    (metrics, Map("untraced_pass_s" -> plain.map(_.busy), "traced_pass_s" -> traced.map(_.busy),
      "probe" -> counters))
  }
}
