package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.{Cast => CastOps, DedupOps, SeqOps}
import graft.sources.CtdRead

/** One closed-loop pass. `busy` is its latency sample and the time its
  * items are rated over: the whole pass, or the micro-batch call alone. */
final case class Pass(busy: Double, items: Int, attempted: Int, failed: Int,
                      note: String)

/** Spans and counts a traced run records from the benchmark's own calls
  * into each layer. Off in untraced runs. */
final class Trace(val probe: Option[Probe]) {
  val on: Boolean = probe.isDefined
  val values: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def add(name: String, v: Double): Unit =
    if (on) values(name) = values.getOrElse(name, 0.0) + v

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      try body finally add(name, (System.nanoTime() - t0) / 1e9)
    }

  /** Runs `body` with the Spark probe counting. */
  def counted[T](body: => T): T = probe.fold(body)(_.gate(body))
}

trait Workload {
  def name: String
  /** Writes the seeded inputs; not part of any timed interval. */
  def generate(): Unit
  def pass(spark: SparkSession, trace: Trace): Pass
  /** Single-layer measurements of a traced run, outside the passes;
    * false if a check on their output failed. */
  def layers(spark: SparkSession, trace: Trace): Boolean = true
  /** Passes in one cycle of the workload's work; a measured window holds
    * whole cycles, so every window has the same mix of passes. */
  def cycle: Int = 1
  /** Unmeasured passes between set-up and the measured window: the JIT is
    * still compiling the pass's code for the first few (pass times fall
    * over them by about a third). */
  def warmupPasses: Int = 1
}

object Workload {
  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Spark's `xxhash64(cols...)` over a (string, double) row, computed
    * without Spark: the digest the generator expects for one output bin. */
  def xxhash(s: String, d: Double): Long = {
    val u = UTF8String.fromString(s)
    val h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
    XXH64.hashLong(java.lang.Double.doubleToLongBits(if (d == -0.0) 0.0 else d), h)
  }

  def treeBytes(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try {
        val files = s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.startsWith("part-")).toVector
        (files.map(Files.size).sum, files.length.toLong)
      } finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  /** Single-thread parse of every file, then single-thread `filtfilt` over
    * every parsed cast's pressure: the kernel floors under the source and
    * the `lpFilter` operator. */
  def parseAndFilter(files: Seq[Path], trace: Trace): Unit = {
    var bytes = 0L
    val pressures = files.map { f =>
      val text = new String(Files.readAllBytes(f), java.nio.charset.StandardCharsets.US_ASCII)
      bytes += text.length
      val parsed = trace.span("io.parse_s")(graft.io.Parsers.cnv(f.toString, text))
      parsed.rows.map(_(0).asInstanceOf[java.lang.Double].doubleValue()).toArray
    }
    trace.add("io.parse_mb_per_s", bytes / 1e6 / trace.values("io.parse_s"))
    val (b, a) = graft.dsp.Butterworth.butter2LowPass((1.0 / 0.15) / (24.0 * 2.0))
    trace.span("dsp.filtfilt_s")(pressures.foreach(graft.dsp.FiltFilt.filtfilt(b, a, _)))
  }

  /** The ctd source alone: the `load()` call (driver-side header sweep)
    * and a noop scan of every column. */
  def loadAndScan(spark: SparkSession, paths: Seq[String], trace: Trace): Unit = {
    val df = trace.span("sources.load_s") {
      spark.read.format("ctd").option("ftype", "cnv").load(paths: _*)
    }
    trace.span("sources.scan_s")(noop(df))
  }
}

/**
 * `qc_cruise`: ~32 full-width casts through the documented QC chain
 * `lpFilter -> despike(2, 20, 100) -> pressCheck -> split(down) ->
 * bindataAverage(1.0, edgesViaWindow = true)` into the noop sink.
 */
final class QcCruise(dir: Path, landed: Path, seed: Long, casts: Int, scans: Int)
    extends Workload {
  import Workload._
  val name = "qc_cruise"
  private var facts = Vector.empty[Gen.CastFacts]
  private var expectedSpine = 0L
  private var expectedRows = 0L
  private var firstDigest: Option[Long] = None

  def generate(): Unit = {
    facts = Gen.writeCasts(dir, seed, casts, scans)
    // every kept bin of cast c sits at ceil(first) + k + 0.5, k < downBins
    for (f <- facts; k <- 0 until f.downBins) {
      expectedSpine ^= xxhash(f.castId, math.ceil(f.firstPressure) + (k + 0.5) * 1.0)
      expectedRows += 1
    }
  }

  private def files: Seq[String] = facts.map(f => dir.resolve(f.castId + ".cnv").toString)

  /** The chain cut after `stage` steps: 0 read, 1 lpFilter, 2 despike,
    * 3 pressCheck + split(down), 4 bindataAverage. */
  def chain(spark: SparkSession, stage: Int): DataFrame = {
    val base = spark.read.format("ctd").option("ftype", "cnv").load(files: _*)
    val valueCols = base.schema.fields.collect {
      case f if f.dataType == DoubleType && f.name != "pressure" => f.name
    }.toSeq
    val steps: Seq[DataFrame => DataFrame] = Seq(
      SeqOps.lpFilter(_, "cast_id", "scan_order"),
      CastOps.despike(_, "cast_id", "scan_order", valueCols, n1 = 2.0, n2 = 20.0, block = 100),
      d => CastOps.split(CastOps.pressCheck(d, "cast_id", "scan_order", valueCols),
        "cast_id", "scan_order").filter(col("direction") === "down"),
      CastOps.bindataAverage(_, "cast_id", "scan_order", valueCols, delta = 1.0,
        edgesViaWindow = true))
    steps.take(stage).foldLeft(base)((d, f) => f(d))
  }

  def pass(spark: SparkSession, trace: Trace): Pass = {
    val t0 = System.nanoTime()
    val out = chain(spark, 4)
    val obs = Observation(s"qc_${System.nanoTime()}")
    trace.counted(noop(out.observe(obs, count(lit(1)).as("rows"),
      bit_xor(xxhash64(col("cast_id"), col("pressure"))).as("spine"),
      bit_xor(xxhash64(out.columns.map(col).toIndexedSeq: _*)).as("digest"))))
    val wall = seconds(t0)
    val m = obs.get
    val (rows, spine, digest) = (m("rows").asInstanceOf[Long],
      m("spine").asInstanceOf[Long], m("digest").asInstanceOf[Long])
    if (firstDigest.isEmpty) firstDigest = Some(digest)
    val ok = rows == expectedRows && spine == expectedSpine && firstDigest.contains(digest)
    Pass(wall, casts, 1, if (ok) 0 else 1,
      f"rows=$rows expected=$expectedRows digest=$digest%016x")
  }

  /** BenchChain's ledger: each cumulative chain prefix timed on its own,
    * deltas (clamped at 0) attributed to the step that extends it, the raw
    * prefixes kept. Then the source layers alone, and `CtdRead.ingest` of
    * the same casts into the run's temp dir. */
  override def warmupPasses: Int = 3

  override def layers(spark: SparkSession, trace: Trace): Boolean = {
    val cum0 = (0 to 4).map { s =>
      val t0 = System.nanoTime()
      noop(chain(spark, s))
      seconds(t0)
    }
    val cum = cum0.scanLeft(0.0)(math.max).tail
    val names = Seq("read", "lp_filter", "despike", "press_split", "bindata")
    names.zip(cum0).foreach { case (n, v) => trace.add(s"ops.prefix_${n}_s", v) }
    names.indices.tail.foreach(i => trace.add(s"ops.${names(i)}_s", cum(i) - cum(i - 1)))
    loadAndScan(spark, files, trace)
    parseAndFilter(facts.map(f => dir.resolve(f.castId + ".cnv")), trace)
    trace.span("sources.ingest_s")(CtdRead.ingest(spark, "cnv", dir.toString, landed.toString))
    val (bytes, nFiles) = treeBytes(landed)
    trace.add("sources.bytes_written", bytes.toDouble)
    trace.add("sources.files_written", nFiles.toDouble)
    val samples = spark.read.parquet(landed.resolve("samples").toString).count()
    val castRows = spark.read.parquet(landed.resolve("casts").toString).count()
    deleteTree(landed)
    samples == casts.toLong * scans && castRows == casts
  }
}

/**
 * `dedup_stream`: a Zipf-vocabulary corpus landed with `landNearDupIndex`,
 * then a stream of micro-batches through
 * `StreamOps.dedupAgainstIndexBatch(..., compactEvery)`, called directly
 * as a closed loop. A new session (each set-up) lands a fresh index; its
 * cold pass is that land plus the first micro-batch, whose accepted set
 * must be the same every time; that first micro-batch also compacts, so a
 * compaction's cold start falls in set-up, not in a warm pass. Each later
 * pass is the next micro-batch of the stream; every `compactEvery`-th one
 * also compacts the index.
 */
final class DedupStream(dir: Path, seed: Long, corpusDocs: Int, batches: Int,
                        batchDocs: Int, compactEvery: Int) extends Workload {
  import Workload._
  val name = "dedup_stream"
  private var corpusFile: Path = _
  private var facts = Vector.empty[Gen.BatchFacts]
  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))
  private var session: SparkSession = _
  private var indexNo = 0
  private var body: (DataFrame, Long) => Unit = _
  private var nextBatch = 0
  private var accepted = Set.empty[Long]
  private var sinkAt = 0L
  private var firstDigest: Option[Long] = None

  def generate(): Unit = {
    val (c, f) = Gen.writeDocs(dir, seed, corpusDocs, batches, batchDocs)
    corpusFile = c
    facts = f
  }

  private def index: String = s"pb_index_$indexNo"
  private def tables: Seq[String] = Seq("shingles", "bands", "meta").map(t => s"${index}_$t")

  def land(spark: SparkSession, trace: Trace): Unit = {
    if (session eq spark) tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    session = spark
    indexNo += 1
    trace.span("dedup.land_s") {
      DedupOps.landNearDupIndex(spark.read.schema(schema).json(corpusFile.toString),
        "text", index)
    }
    body = graft.streaming.StreamOps.dedupAgainstIndexBatch("doc_id", "text", index,
        compactEvery = compactEvery) { (acc: DataFrame, _: Long) =>
      accepted = acc.select("doc_id").collect().map(_.getLong(0)).toSet
      sinkAt = System.nanoTime()
    }
    nextBatch = 0
  }

  /** Sends the next generated batch to the stream; returns its wall time
    * and whether the planted facts hold for what it accepted. */
  private def send(spark: SparkSession, trace: Trace): (Double, Boolean) = {
    val f = facts(nextBatch)
    val batch = spark.read.schema(schema).json(f.file.toString)
    val id = compactEvery - 1L + nextBatch
    val s0 = System.nanoTime()
    trace.counted(body(batch, id))
    val end = System.nanoTime()
    trace.add("dedup.probe_s", (sinkAt - s0) / 1e9)
    if (id % compactEvery == compactEvery - 1) {
      trace.add("dedup.compact_batches", 1)
      trace.add("dedup.compact_tail_s", (end - sinkAt) / 1e9)
    } else trace.add("dedup.append_s", (end - sinkAt) / 1e9)
    trace.add("dedup.accepted", accepted.size.toDouble)
    nextBatch += 1
    val ok = f.unrelated.subsetOf(accepted) && !f.corpusCopies.exists(accepted) &&
      f.inBatchPairs.forall { case (x, y) => accepted(x) ^ accepted(y) }
    ((end - s0) / 1e9, ok)
  }

  def pass(spark: SparkSession, trace: Trace): Pass =
    if ((session ne spark) || nextBatch >= facts.length) {
      land(spark, trace)
      val (t, ok) = send(spark, trace)
      val digest = accepted.toSeq.sorted.foldLeft(0L)(_ * 31 + _)
      if (firstDigest.isEmpty) firstDigest = Some(digest)
      val same = firstDigest.contains(digest)
      Pass(t, facts(0).docs, 2, (if (ok) 0 else 1) + (if (same) 0 else 1),
        f"land+batch 0 digest=$digest%016x")
    } else {
      val b = nextBatch
      val (t, ok) = send(spark, trace)
      val tableFiles = tables.take(2).map { t =>
        val loc = spark.sessionState.catalog.getTableMetadata(TableIdentifier(t)).location
        val s = Files.list(java.nio.file.Paths.get(loc))
        try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
        finally s.close()
      }
      trace.add("index.files", tableFiles.sum.toDouble)
      Pass(t, facts(b).docs, 1, if (ok) 0 else 1, s"batch $b")
    }

  override def cycle: Int = compactEvery
  override def warmupPasses: Int = 2

  /** The land on its own, against a fresh name. */
  override def layers(spark: SparkSession, trace: Trace): Boolean = { land(spark, trace); true }
}
