package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded input generators. Every input the benchmark feeds the program is
  * a file written here; the same seed writes byte-identical files. */
object Gen {

  /** One CNV channel: Seabird short name, long name, decimals written. */
  final case class Channel(name: String, long: String, decimals: Int)

  /** The 30 columns of the `g01l0*s01.cnv.gz` fixtures, in their order:
    * `prDM` becomes the pressure index, `bpos`/`pumps`/`flag` are typed
    * int/boolean by the reader, the other 26 are double channels. */
  val FullChannels: Vector[Channel] = Vector(
    Channel("altM", "Altimeter [m]", 2),
    Channel("bat", "Beam Attenuation, Chelsea/Seatech [1/m]", 4),
    Channel("bpos", "Bottle Position in Carousel", 0),
    Channel("c0S/m", "Conductivity [S/m]", 6),
    Channel("dz/dtM", "Descent Rate [m/s]", 3),
    Channel("wetCDOM", "Fluorescence, WET Labs CDOM [mg/m^3]", 4),
    Channel("latitude", "Latitude [deg]", 5),
    Channel("longitude", "Longitude [deg]", 5),
    Channel("sbeox0Mm/Kg", "Oxygen, SBE 43 [umol/kg]", 3),
    Channel("sbeox1Mm/Kg", "Oxygen, SBE 43, 2 [umol/kg]", 3),
    Channel("oxsolMm/Kg", "Oxygen Saturation, Garcia & Gordon [umol/kg]", 5),
    Channel("oxsatMm/Kg", "Oxygen Saturation, Weiss [umol/kg]", 5),
    Channel("par", "PAR/Irradiance, Biospherical/Licor", 4),
    Channel("pla", "Plume Anomaly", 4),
    Channel("prDM", "Pressure, Digiquartz [db]", 3),
    Channel("pumps", "Pump Status", 0),
    Channel("scan", "Scan Count", 0),
    Channel("sva", "Specific Volume Anomaly [10^-8 * m^3/kg]", 3),
    Channel("t090C", "Temperature [ITS-90, deg C]", 4),
    Channel("t190C", "Temperature, 2 [ITS-90, deg C]", 4),
    Channel("tsa", "Thermosteric Anomaly [10^-8 * m^3/kg]", 3),
    Channel("timeS", "Time, Elapsed [seconds]", 3),
    Channel("v0", "Voltage 0", 4),
    Channel("v1", "Voltage 1", 4),
    Channel("v2", "Voltage 2", 4),
    Channel("v3", "Voltage 3", 4),
    Channel("v4", "Voltage 4", 4),
    Channel("v5", "Voltage 5", 4),
    Channel("sbeox0V", "Oxygen raw, SBE 43 [V]", 4),
    Channel("flag", "flag", 0))

  /** Channels the reader types as non-double. */
  val NonDouble: Set[String] = Set("bpos", "pumps", "flag")

  /** What the generator knows about one cast, for output checks. */
  final case class CastFacts(castId: String, scans: Int, firstPressure: Double,
                             maxPressure: Double) {
    /** Bins `bindataAverage(delta = 1)` keeps over the down leg: the
      * right-closed bins between ceil(first) and floor(max) pressure. */
    def downBins: Int =
      math.max(0, math.floor(maxPressure).toInt - math.ceil(firstPressure).toInt - 1)
  }

  /** Appends `v` with `dec` decimals right-aligned in `width` columns.
    * Hand-rolled: `String.format` would dominate generation time. */
  private def fixed(sb: java.lang.StringBuilder, v: Double, dec: Int,
                    width: Int): Unit = {
    var scale = 1L
    var i = 0
    while (i < dec) { scale *= 10; i += 1 }
    val neg = v < 0
    val q = math.round(math.abs(v) * scale)
    val ip = q / scale
    val fp = q % scale
    val ipS = java.lang.Long.toString(ip)
    val len = (if (neg && q != 0) 1 else 0) + ipS.length + (if (dec > 0) dec + 1 else 0)
    i = len
    while (i < width) { sb.append(' '); i += 1 }
    if (neg && q != 0) sb.append('-')
    sb.append(ipS)
    if (dec > 0) {
      sb.append('.')
      val fs = java.lang.Long.toString(fp)
      i = fs.length
      while (i < dec) { sb.append('0'); i += 1 }
      sb.append(fs)
    }
  }

  private def nmea(deg: Double, pos: Char, negc: Char): String = {
    val a = math.abs(deg)
    val d = a.toInt
    f"$d%02d ${(a - d) * 60}%05.2f ${if (deg < 0) negc else pos}"
  }

  /**
   * One synthetic Seabird CNV cast (plain text, the fixture header layout).
   * The pressure track is: a surface soak held at `p0`, a rise towards the
   * surface, a down-cast at ~1 dbar/s with ship heave strong enough to
   * reverse the descent, a bottom hold at `pmax`, and an up-cast. `p0` and
   * `pmax` sit mid-way between integers and the soak and bottom hold are
   * flat, so the low-pass filter leaves ceil(p0) and floor(pmax) — and
   * with them the down-cast bin count — exactly as generated. Value
   * channels are smooth profiles plus noise; seeded spikes land on them.
   */
  def cnvCast(seed: Long, index: Int, scans: Int): (String, CastFacts) = {
    val channels = FullChannels
    val rnd = new SplittableRandom(seed * 1000003L + index)
    val castId = f"pb${seed % 100000}%05d_$index%05d"
    val soak = scans / 10
    val rise = scans / 50
    val bottom = math.max(24, scans / 100)
    val descent = ((scans - soak - rise - bottom) * (0.55 + 0.1 * rnd.nextDouble())).toInt
    val up = scans - soak - rise - bottom - descent
    val p0 = 8.0 + 0.3 + 0.4 * rnd.nextDouble()
    val pTop = 1.0 + rnd.nextDouble()
    val rate = 1.0 / 24 // dbar per scan at 24 Hz
    val pmax = math.floor(pTop + descent * rate) + 0.3 + 0.4 * rnd.nextDouble()
    val heavePeriod = 120.0 + 60.0 * rnd.nextDouble()
    val heaveAmp = 1.2 + 0.6 * rnd.nextDouble()
    val p = new Array[Double](scans)
    var s = 0
    while (s < scans) {
      p(s) =
        if (s < soak) p0
        else if (s < soak + rise) p0 + (pTop - p0) * (s - soak + 1) / rise
        else if (s < soak + rise + descent) {
          val k = s - soak - rise
          val lin = pTop + (pmax - pTop) * k / descent
          // heave fades out near the bottom so the hold stays the maximum
          val amp = math.min(heaveAmp, 0.5 * (pmax - lin))
          lin + amp * math.sin(2 * math.Pi * k / heavePeriod)
        } else if (s < soak + rise + descent + bottom) pmax
        else {
          val k = s - soak - rise - descent - bottom + 1
          pmax - (pmax - 0.5) * k / up
        }
      // the file holds 3 decimals: keep the track exactly representable
      p(s) = math.round(p(s) * 1000) / 1000.0
      s += 1
    }
    val lat = 20.0 + 10.0 * rnd.nextDouble()
    val lon = -95.0 + 10.0 * rnd.nextDouble()
    val spikeCh = channels.indices.filter { c =>
      val n = channels(c).name
      !NonDouble(n) && n != "prDM" && n != "scan" && n != "timeS" &&
        n != "latitude" && n != "longitude"
    }
    val base = Array.fill(channels.length)(1.0 + 10.0 * rnd.nextDouble())
    val grad = Array.fill(channels.length)(-0.02 + 0.04 * rnd.nextDouble())
    val noise = Array.fill(channels.length)(0.001 + 0.01 * rnd.nextDouble())
    val spikeAt = new java.util.HashMap[Long, java.lang.Double]()
    val nSpikes = scans / 500
    (0 until nSpikes).foreach { _ =>
      val sc = rnd.nextInt(scans)
      val ch = spikeCh(rnd.nextInt(spikeCh.length))
      spikeAt.put(sc.toLong * 64 + ch, (if (rnd.nextBoolean()) 1 else -1) * (5 + 20 * rnd.nextDouble()))
    }

    val sb = new java.lang.StringBuilder(scans * (channels.length * 11 + 4) + 8192)
    def line(s: String): Unit = sb.append(s).append('\n')
    line("* Sea-Bird SBE 9 Data File:")
    line(s"* FileName = C:\\CTD DATA\\PERFBENCH\\$castId.hex")
    line("* Software Version Seasave V 7.21g")
    line("* Temperature SN = 4515")
    line("* Conductivity SN = 3079")
    line("* Number of Bytes Per Scan = 40")
    line("* Number of Voltage Words = 5")
    line("* Number of Scans Averaged by the Deck Unit = 1")
    val day = 1 + (index % 28)
    line(f"* System UpLoad Time = Jul $day%02d 2012 02:22:35")
    line(s"* NMEA Latitude = ${nmea(lat, 'N', 'S')}")
    line(s"* NMEA Longitude = ${nmea(lon, 'E', 'W')}")
    line(f"* NMEA UTC (Time) = Jul $day%02d 2012  02:22:32")
    line("* Store Lat/Lon Data = Append to Every Scan")
    line("* SBE 11plus V 5.2")
    line("* number of scans to average = 1")
    line("* System UTC = Jul 11 2012 02:22:35")
    line(s"# nquan = ${channels.length}")
    line(s"# nvalues = $scans")
    line("# units = specified")
    channels.zipWithIndex.foreach { case (c, i) =>
      if (c.name == "flag") line(s"# name $i = flag:  0.000e+00")
      else line(s"# name $i = ${c.name}: ${c.long}")
    }
    channels.indices.foreach(i => line(s"# span $i = 0.0, 1.0"))
    line("# interval = seconds: 0.0416667")
    line(f"# start_time = Jul $day%02d 2012 02:22:32 [NMEA time, header]")
    line("# bad_flag = -9.990e-29")
    line("# datcnv_ox_tau_correction = no")
    line("# file_type = ascii")
    line("*END*")
    s = 0
    while (s < scans) {
      var c = 0
      while (c < channels.length) {
        val ch = channels(c)
        val v: Double = ch.name match {
          case "prDM"      => p(s)
          case "scan"      => s + 1
          case "timeS"     => s / 24.0
          case "bpos"      => 0
          case "pumps"     => 1
          case "flag"      => 0
          case "latitude"  => lat
          case "longitude" => lon
          case _ =>
            val sp = spikeAt.get(s.toLong * 64 + c)
            base(c) + grad(c) * p(s) + math.sin(p(s) / (7.0 + c)) +
              noise(c) * rnd.nextGaussian() + (if (sp == null) 0.0 else sp.doubleValue())
        }
        if (ch.name == "flag") sb.append(" 0.000e+00")
        else fixed(sb, v, ch.decimals, 11)
        c += 1
      }
      sb.append('\n')
      s += 1
    }
    (sb.toString, CastFacts(castId, scans, p0r(p0), pmax))
  }

  private def p0r(p: Double): Double = math.round(p * 1000) / 1000.0

  /** Writes `n` casts to `dir` as `<castId>.cnv`; returns their facts. */
  def writeCasts(dir: Path, seed: Long, n: Int, scans: Int): Vector[CastFacts] = {
    Files.createDirectories(dir)
    (0 until n).map { i =>
      val (text, facts) = cnvCast(seed, i, scans)
      Files.write(dir.resolve(facts.castId + ".cnv"),
        text.getBytes(StandardCharsets.US_ASCII))
      facts
    }.toVector
  }

  // ------------------------------------------------------------- text --

  /** Zipf-distributed synthetic vocabulary. */
  final class Vocab(size: Int, exponent: Double, seed: Long) {
    private val syll = Array("ka", "lo", "mi", "ne", "ru", "ta", "shi", "po",
      "va", "de", "zu", "ge", "fa", "bi", "on", "el")
    val words: Array[String] = {
      val r = new SplittableRandom(seed ^ 0x5eedL)
      val seen = new java.util.HashSet[String]()
      val out = new Array[String](size)
      var i = 0
      while (i < size) {
        val n = 2 + r.nextInt(3)
        val w = (0 until n).map(_ => syll(r.nextInt(syll.length))).mkString
        if (seen.add(w)) { out(i) = w; i += 1 }
      }
      out
    }
    private val cdf: Array[Double] = {
      val w = Array.tabulate(size)(i => 1.0 / math.pow(i + 1, exponent))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def draw(r: SplittableRandom): String = {
      val u = r.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      words(math.min(i, size - 1))
    }
  }

  def doc(v: Vocab, r: SplittableRandom): String = {
    val n = 40 + r.nextInt(80)
    val sb = new StringBuilder
    (0 until n).foreach { k => if (k > 0) sb.append(' '); sb.append(v.draw(r)) }
    sb.toString
  }

  /** Replaces about one token in `every` with a fresh draw. */
  def perturb(text: String, v: Vocab, r: SplittableRandom, every: Int): String =
    text.split(' ').map(t => if (r.nextInt(every) == 0) v.draw(r) else t).mkString(" ")

  private def jsonLine(sb: StringBuilder, id: Long, text: String): Unit =
    sb.append("{\"doc_id\":").append(id).append(",\"text\":\"").append(text).append("\"}\n")

  /** What the generator planted in one micro-batch. */
  final case class BatchFacts(file: Path, docs: Int, unrelated: Set[Long],
                              corpusCopies: Set[Long],
                              inBatchPairs: Vector[(Long, Long)])

  /**
   * The `dedup_stream` inputs: a corpus of `corpusDocs` documents and
   * `batches` micro-batches of `batchDocs` documents, as JSON lines. Each
   * batch holds fresh unrelated documents, exact copies of corpus
   * documents, light edits of corpus documents (near-dups) and exact
   * copies of other documents in the same batch. Ids are unique over the
   * corpus and every batch.
   */
  def writeDocs(dir: Path, seed: Long, corpusDocs: Int, batches: Int,
                batchDocs: Int): (Path, Vector[BatchFacts]) = {
    Files.createDirectories(dir)
    val v = new Vocab(6000, 1.05, seed)
    val r = new SplittableRandom(seed * 7919L + 17)
    val corpus = Array.fill(corpusDocs)(doc(v, r))
    val sb = new StringBuilder
    corpus.indices.foreach(i => jsonLine(sb, i.toLong, corpus(i)))
    val corpusFile = dir.resolve("corpus.jsonl")
    Files.write(corpusFile, sb.toString.getBytes(StandardCharsets.UTF_8))
    var nextId = 1000000L
    val facts = (0 until batches).map { b =>
      val copies = batchDocs / 16
      val near = batchDocs / 16
      val inBatch = batchDocs / 32
      val fresh = batchDocs - copies - near - inBatch
      val rows = Vector.newBuilder[(Long, String)]
      def id(): Long = { nextId += 1; nextId }
      val freshRows = (0 until fresh).map(_ => id() -> doc(v, r))
      rows ++= freshRows
      val copyRows = (0 until copies).map(_ => id() -> corpus(r.nextInt(corpusDocs)))
      rows ++= copyRows
      rows ++= (0 until near).map(_ => id() -> perturb(corpus(r.nextInt(corpusDocs)), v, r, 25))
      // the first `inBatch` fresh documents get an exact twin in the batch
      val pairs = freshRows.take(inBatch).map { case (orig, text) =>
        val twin = id()
        rows += twin -> text
        (orig, twin)
      }
      val all = rows.result()
      val shuffled = all.toArray
      var i = shuffled.length - 1
      while (i > 0) {
        val j = r.nextInt(i + 1)
        val t = shuffled(i); shuffled(i) = shuffled(j); shuffled(j) = t
        i -= 1
      }
      val bsb = new StringBuilder
      shuffled.foreach { case (i2, t) => jsonLine(bsb, i2, t) }
      val f = dir.resolve(f"batch_$b%03d.jsonl")
      Files.write(f, bsb.toString.getBytes(StandardCharsets.UTF_8))
      BatchFacts(f, all.length,
        unrelated = freshRows.drop(inBatch).map(_._1).toSet,
        corpusCopies = copyRows.map(_._1).toSet,
        inBatchPairs = pairs.toVector)
    }.toVector
    (corpusFile, facts)
  }
}
