package graft.io

import java.sql.Timestamp
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Locale

import org.apache.spark.sql.types._

/** One parsed instrument file: a Spark-ready schema + rows (+ cast-level
  * metadata). `rows` elements are positionally aligned with `schema.fields`
  * and contain null / Double / Integer / Boolean / Timestamp / String. */
final case class ParsedCast(
    castId: String,
    schema: StructType,
    rows: IndexedSeq[Array[Any]],
    meta: CastMetaRow)

/** Cast-level metadata — the reference's `_metadata` dict as data
  * (SURVEY §1.4: metadata must survive shuffles, so it lives in a table). */
final case class CastMetaRow(
    castId: String,
    name: String,
    ftype: String,
    time: Option[Timestamp],
    lat: Option[Double],
    lon: Option[Double],
    serial: Option[String],
    timeOfReset: Option[Timestamp],
    prkey: Option[String],
    nRows: Long,
    header: String,
    config: String)

object Parsers {

  /** Pressure/depth index candidates, FIRST match wins (ctd/read.py:445-467). */
  val PressureKeys: Vector[String] =
    Vector("prM", "prE", "prDM", "pr50M", "pr50M1", "prSM", "prdM", "pr", "depSM", "prDE")

  /** Whitespace tokenizer (manual scan — `String.split` regex was the
    * hottest path when parsing multi-MB casts). */
  private[io] def fastSplit(line: String): Array[String] = {
    val out = collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = line.length
    while (i < n) {
      while (i < n && Character.isWhitespace(line.charAt(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !Character.isWhitespace(line.charAt(i))) i += 1
        out += line.substring(start, i)
      }
    }
    out.toArray
  }

  /** Selective tokenizer: like fastSplit but materializes ONLY the fields
    * whose index is flagged in `wanted` (others stay null) — the pruned-scan
    * path skips the substring allocation for unprojected channels, not just
    * their numeric conversion. */
  private[io] def fastSplitSelect(line: String, wanted: Array[Boolean]): Array[String] = {
    val out = new Array[String](wanted.length)
    var i = 0
    var f = 0
    val n = line.length
    while (i < n && f < wanted.length) {
      while (i < n && Character.isWhitespace(line.charAt(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !Character.isWhitespace(line.charAt(i))) i += 1
        if (wanted(f)) out(f) = line.substring(start, i)
        f += 1
      }
    }
    out
  }

  private[io] def toDoubleOrNull(tok: String): Any =
    if (tok == null || tok.isEmpty) null
    else try java.lang.Double.valueOf(tok.toDouble) catch { case _: NumberFormatException => null }

  private[io] def toIntOrNull(tok: String): Any =
    if (tok == null || tok.isEmpty) null
    else try Integer.valueOf(tok.trim.toInt) catch { case _: NumberFormatException => null }

  /** bpos -> int, pumps/flag -> boolean (INTENDED semantics: value != 0;
    * pandas' `astype(bool)` on string tokens degenerates to "non-empty
    * string == True" — divergence documented, ctd/read.py:432). Numeric
    * channels equal to the header's `# bad_flag` sentinel become null — the
    * reference's pd.to_numeric admits the sentinel as a real float
    * (read.py:438 — a documented reference bug this engine corrects, per
    * SURVEY §1.4: bad values -> null). */
  private def cnvValue(name: String, tok: String, badFlag: Double,
                       hasBad: Boolean): Any = name match {
    case "bpos" => toIntOrNull(tok)
    case "pumps" | "flag" =>
      toDoubleOrNull(tok) match {
        case d: java.lang.Double => java.lang.Boolean.valueOf(d.doubleValue() != 0.0)
        case _ => null
      }
    case _ =>
      toDoubleOrNull(tok) match {
        case d: java.lang.Double if hasBad && d.doubleValue() == badFlag => null
        case other => other
      }
  }

  private def cnvType(name: String): DataType = name match {
    case "bpos"           => IntegerType
    case "pumps" | "flag" => BooleanType
    case _                => DoubleType
  }

  /** BTL stitched dates share the CNV header timestamp format — ONE parser
    * (CastHeader.parseHeaderTime) so a format fix can't leave the other
    * half stale. */
  private def parseBtlDate(s: String): Any = CastHeader.parseHeaderTime(s).orNull

  /** Drop the phantom empty line a trailing newline produces (readlines in
    * the reference never yields it); interior blank lines stay (they become
    * all-null rows in the reference too). */
  private def dropTrailingBlank(lines: Array[String]): Array[String] =
    if (lines.nonEmpty && lines.last.isEmpty) lines.dropRight(1) else lines

  // ------------------------------------------------------------------ CNV --

  /** Seabird CNV / ROS: `from_cnv` (ctd/read.py:406-493). Emits
    * (pressure, channels...) with the selected pressure-key column promoted
    * to `pressure` (depSM converted via TEOS-10 p_from_z when lat is known;
    * with lat unknown the reference CRASHES on a warnings.war typo,
    * read.py:485 — we keep depth values and flag prkey in metadata). */
  def cnv(path: String, text: String, ftype: String = "cnv",
          needed: String => Boolean = _ => true): ParsedCast = {
    val lines = RawFile.toLines(text)
    val hdr   = CastHeader.parse(lines, "cnv")
    val data  = dropTrailingBlank(lines).drop(hdr.skiprows)
    val names = hdr.names.map(_.trim)

    val prkey = PressureKeys.find(names.contains).getOrElse(
      throw new IllegalArgumentException(
        "Expected one pressure/depth column, didn't receive any"))
    val prIdx = names.indexOf(prkey)

    val outNames = names.zipWithIndex.filter(_._2 != prIdx).map(_._1)
    val fields = StructField("pressure", DoubleType) +:
      outNames.map(n => StructField(n, cnvType(n)))
    val depthToPressure = prkey == "depSM" && hdr.lat.isDefined
    val lat = hdr.lat.getOrElse(0.0)

    // Column pruning reaches the tokenizer: a projection of 3 channels out
    // of 15 pays 3 substring+Double parses per line, not 15 (the scan is the
    // 100 TB hot path — CtdPartitionReader passes required+filter cols).
    val needP = needed("pressure")
    val needC: Array[Boolean] = names.map(needed).toArray
    val wanted: Array[Boolean] =
      Array.tabulate(names.length)(ci => if (ci == prIdx) needP else needC(ci))
    val hasBad  = hdr.badFlag.isDefined
    val badFlag = hdr.badFlag.getOrElse(0.0)

    val rows = data.iterator.map { line =>
      val toks = fastSplitSelect(line, wanted)
      val out  = new Array[Any](fields.length)
      if (needP) {
        val pTok = if (prIdx < toks.length) toks(prIdx) else null
        out(0) = toDoubleOrNull(pTok) match {
          case d: java.lang.Double if hasBad && d.doubleValue() == badFlag => null
          case d: java.lang.Double if depthToPressure =>
            // gsw.p_from_z takes height (negative below surface); depSM is
            // positive-down depth (read.py:470-478 passes the index verbatim).
            java.lang.Double.valueOf(graft.gsw.Gsw.pFromZ(d.doubleValue(), lat))
          case other => other
        }
      }
      var oi = 1
      var ci = 0
      while (ci < names.length) {
        if (ci != prIdx) {
          if (needC(ci)) {
            val tok = if (ci < toks.length) toks(ci) else null
            out(oi) = cnvValue(names(ci), tok, badFlag, hasBad)
          }
          oi += 1
        }
        ci += 1
      }
      out
    }.toVector

    val castId = if (hdr.name != "unknown") hdr.name else RawFile.stem(path)
    ParsedCast(castId, StructType(fields), rows,
      CastMetaRow(castId, hdr.name, ftype, hdr.time, hdr.lat, hdr.lon,
        serial = None, timeOfReset = None, prkey = Some(prkey),
        nRows = rows.length, header = hdr.header, config = hdr.config))
  }

  // ------------------------------------------------------------------ BTL --

  /** pandas `read_fwf` column-span inference (FixedWidthReader
    * .detect_colspecs, infer_nrows=100): a position belongs to a field iff
    * ANY of the first 100 rows has a non-space there; fields are maximal
    * such runs. */
  private[io] def inferFwfSpans(rows: Seq[String]): Vector[(Int, Int)] = {
    val sample = rows.take(100)
    val maxLen = if (sample.isEmpty) 0 else sample.map(_.length).max
    val mask   = new Array[Boolean](maxLen)
    sample.foreach { r =>
      var i = 0
      while (i < r.length) { if (!r(i).isWhitespace) mask(i) = true; i += 1 }
    }
    val spans = Vector.newBuilder[(Int, Int)]
    var i = 0
    while (i < maxLen) {
      if (mask(i)) {
        val start = i
        while (i < maxLen && mask(i)) i += 1
        spans += ((start, i))
      } else i += 1
    }
    spans.result()
  }

  /** Seabird BTL: `from_btl` (ctd/read.py:251-328). Fixed-width parse, then
    * per-bottle row regrouping: date+time stitching from the first two rows
    * of each statistic group, Bottle/Date forward-fill, Statistic
    * paren-strip, dtype map. Long form retained (one row per bottle x
    * statistic). */
  def btl(path: String, text: String): ParsedCast = {
    val lines = RawFile.toLines(text)
    val hdr   = CastHeader.parse(lines, "btl")
    val data  = dropTrailingBlank(lines).drop(hdr.skiprows).filter(_.nonEmpty)
    val names = hdr.names
    val spans = inferFwfSpans(data)
    require(spans.length == names.length,
      s"fwf inference found ${spans.length} fields for ${names.length} names in $path")

    // raw string cells
    val cells: Array[Array[String]] = data.map { line =>
      spans.map { case (s, e) =>
        if (s >= line.length) null
        else {
          val v = line.substring(s, math.min(e, line.length)).trim
          if (v.isEmpty) null else v
        }
      }.toArray
    }.toArray

    val statIdx   = names.length - 1
    val dateIdx   = names.indexOf("Date")
    val bottleIdx = names.indexOf("Bottle")
    require(dateIdx >= 0, s"BTL file $path has no Date column")

    // rowtypes = unique values of the last (Statistic) column, in order
    val stride = {
      val seen = collection.mutable.LinkedHashSet.empty[String]
      cells.foreach(r => if (r(statIdx) != null) seen += r(statIdx))
      math.max(1, seen.size)
    }
    // stitch "date time" from physical rows 2k and 2k+1 of each group
    var g = 0
    while (g < cells.length) {
      val date = cells(g)(dateIdx)
      val time = if (g + 1 < cells.length) cells(g + 1)(dateIdx) else null
      val dt   = if (date != null && time != null) s"$date $time" else date
      cells(g)(dateIdx) = dt
      if (g + 1 < cells.length) cells(g + 1)(dateIdx) = dt
      g += stride
    }
    // ffill Bottle and Date
    var lastBottle: String = null
    var lastDate: String   = null
    cells.foreach { r =>
      if (bottleIdx >= 0) {
        if (r(bottleIdx) != null) lastBottle = r(bottleIdx) else r(bottleIdx) = lastBottle
      }
      if (r(dateIdx) != null) lastDate = r(dateIdx) else r(dateIdx) = lastDate
    }

    // the SAME mapping schemaOnly plans with — a drifted copy would emit
    // row values of the wrong class under the declared schema
    val fields = names.map(n => StructField(n, btlType(n)))

    val rows = cells.iterator.map { r =>
      names.indices.map { i =>
        val v = r(i)
        names(i) match {
          case "Bottle" | "Scan" | "bpos" => toIntOrNull(v)
          case "pumps" | "flag" =>
            toDoubleOrNull(v) match {
              case d: java.lang.Double => java.lang.Boolean.valueOf(d.doubleValue() != 0.0)
              case _ => null
            }
          case "Statistic" =>
            if (v == null) null else v.stripPrefix("(").stripSuffix(")")
          case "Date" => if (v == null) null else parseBtlDate(v)
          case _      => toDoubleOrNull(v)
        }
      }.toArray
    }.toVector

    val castId = if (hdr.name != "unknown") hdr.name else RawFile.stem(path)
    ParsedCast(castId, StructType(fields), rows,
      CastMetaRow(castId, hdr.name, "btl", hdr.time, hdr.lat, hdr.lon,
        serial = None, timeOfReset = None, prkey = None,
        nRows = rows.length, header = hdr.header, config = hdr.config))
  }

  // ------------------------------------------------------------------ EDF --

  /** Sippican XBT EDF: `from_edf` (ctd/read.py:331-403). `Field:` lines name
    * the columns (first word, lowercased); lat/lon parse failures degrade to
    * null; depth stays a depth column (the reference indexes by it). */
  def edf(path: String, text: String): ParsedCast = {
    val lines = RawFile.toLines(text)
    var serial: Option[String] = None
    var lat: Option[Double] = None
    var lon: Option[Double] = None
    val header = Vector.newBuilder[String]
    var names  = Vector.empty[String]
    var skiprows = 0
    var k = 0
    var done = false
    while (k < lines.length && !done) {
      val line = lines(k).trim
      if (line.startsWith("Serial Number")) {
        serial = line.split(":", 2).lift(1).map(_.trim)
      } else if (line.startsWith("Latitude")) {
        lat = CastHeader.nmeaDegrees(
          line.dropRight(1).split(":", 2).lift(1).getOrElse(""), line.last)
      } else if (line.startsWith("Longitude")) {
        lon = CastHeader.nmeaDegrees(
          line.dropRight(1).split(":", 2).lift(1).getOrElse(""), line.last)
      } else {
        header += line
        if (line.startsWith("Field")) {
          val unit = line.split(":", 2).lift(1).getOrElse("").trim.toLowerCase(Locale.ROOT)
          val first = unit.split("\\s+").headOption.getOrElse("")
          if (first.nonEmpty) names = names :+ first
        }
      }
      if (line == "// Data") { skiprows = k + 1; done = true }
      k += 1
    }
    val data = dropTrailingBlank(lines).drop(skiprows).filter(_.trim.nonEmpty)
    val fields = names.map(n => StructField(n, DoubleType))
    val rows = data.iterator.map { line =>
      val toks = fastSplit(line)
      names.indices.map(i => toDoubleOrNull(if (i < toks.length) toks(i) else null))
        .toArray[Any]
    }.toVector
    val castId = RawFile.stem(path)
    ParsedCast(castId, StructType(fields), rows,
      CastMetaRow(castId, castId, "edf", time = None, lat = lat, lon = lon,
        serial = serial, timeOfReset = None, prkey = Some("depth"),
        nRows = rows.length, header = header.result().mkString("\n"), config = ""))
  }

  // ------------------------------------------------------------------ FSI --

  /** Falmouth FSI ASCII: `from_fsi` (ctd/read.py:496-525). Skip 9 rows,
    * whitespace-separated with a header row, all float, PRES promoted to
    * `pressure`. */
  def fsi(path: String, text: String, skiprows: Int = 9): ParsedCast = {
    val lines = dropTrailingBlank(RawFile.toLines(text)).drop(skiprows)
    require(lines.nonEmpty, s"FSI file $path has no header row after skiprows=$skiprows")
    val names = lines.head.trim.split("\\s+").filter(_.nonEmpty).toVector
    val prIdx = names.indexOf("PRES")
    require(prIdx >= 0, s"FSI file $path has no PRES column")
    val outNames = names.zipWithIndex.filter(_._2 != prIdx).map(_._1)
    val fields = StructField("pressure", DoubleType) +:
      outNames.map(n => StructField(n, DoubleType))
    val rows = lines.tail.iterator.filter(_.trim.nonEmpty).map { line =>
      val toks = fastSplit(line)
      val out  = new Array[Any](fields.length)
      out(0) = toDoubleOrNull(if (prIdx < toks.length) toks(prIdx) else null)
      var oi = 1
      names.indices.foreach { ci =>
        if (ci != prIdx) {
          out(oi) = toDoubleOrNull(if (ci < toks.length) toks(ci) else null)
          oi += 1
        }
      }
      out
    }.toVector
    val castId = RawFile.stem(path)
    ParsedCast(castId, StructType(fields), rows,
      CastMetaRow(castId, path, "fsi", time = None, lat = None, lon = None,
        serial = None, timeOfReset = None, prkey = Some("PRES"),
        nRows = rows.length, header = "", config = ""))
  }

  // ------------------------------------------------------------------- BL --

  /** Seabird bottle-trip log: `from_bl` (ctd/read.py:222-248). CSV skiprows=2
    * with columns (index, bottle_number, time, startscan, endscan);
    * `time_of_reset` captured from physical line 2. */
  def bl(path: String, text: String): ParsedCast = {
    val lines = dropTrailingBlank(RawFile.toLines(text))
    val timeOfReset =
      lines.lift(1).map(_.drop(6).trim).flatMap { s =>
        parseBtlDate(s) match { case t: Timestamp => Some(t); case _ => None }
      }
    val fields = Seq(
      StructField("index", IntegerType),
      StructField("bottle_number", IntegerType),
      StructField("time", TimestampType),
      StructField("startscan", IntegerType),
      StructField("endscan", IntegerType))
    val rows = lines.drop(2).iterator.filter(_.trim.nonEmpty).map { line =>
      val toks = line.split(",").map(_.trim)
      Array[Any](
        toIntOrNull(toks.lift(0).orNull),
        toIntOrNull(toks.lift(1).orNull),
        toks.lift(2).map(parseBtlDate).orNull,
        toIntOrNull(toks.lift(3).orNull),
        toIntOrNull(toks.lift(4).orNull))
    }.toVector
    val castId = RawFile.stem(path)
    ParsedCast(castId, StructType(fields), rows,
      CastMetaRow(castId, castId, "bl", time = None, lat = None, lon = None,
        serial = None, timeOfReset = timeOfReset, prkey = None,
        nRows = rows.length, header = lines.take(2).mkString("\n"), config = ""))
  }

  // -------------------------------------------------------------- CastAway --

  /** CastAway CSV: `from_castaway_csv` (ctd/read.py:557-601). `%` lines are
    * metadata (all but the last); first data line is the header; THE LAST
    * DATA ROW IS DROPPED (reference `data[1:-1]` replicated); names
    * normalized (unit stripped, lowercased, spaces -> underscores); pressure
    * promoted to the index column. */
  def castaway(path: String, text: String): ParsedCast = {
    val lines = RawFile.toLines(text).map(_.trim).filter(_.nonEmpty)
    val metaLines = lines.filter(_.startsWith("%")).dropRight(1)
    val dataLines = lines.filterNot(_.startsWith("%"))
    require(dataLines.length >= 2, s"CastAway file $path has no data rows")
    val rawNames = dataLines.head.split(",").toVector
    val units = rawNames.map { s =>
      val a = s.indexOf('('); val b = s.indexOf(')')
      if (a >= 0 && b > a) s.substring(a + 1, b) else ""
    }
    val names = rawNames.map(s =>
      CastHeader.normalizeName(s.split("\\(")(0)).toLowerCase(Locale.ROOT).replace(" ", "_"))
    val prIdx = names.indexOf("pressure")
    require(prIdx >= 0, s"CastAway file $path has no pressure column")
    val outNames = names.zipWithIndex.filter(_._2 != prIdx).map(_._1)
    val fields = StructField("pressure", DoubleType) +:
      outNames.map(n => StructField(n, DoubleType))
    val rows = dataLines.slice(1, dataLines.length - 1).iterator.map { line =>
      val toks = line.split(",")
      val out  = new Array[Any](fields.length)
      out(0) = toDoubleOrNull(if (prIdx < toks.length) toks(prIdx).trim else null)
      var oi = 1
      names.indices.foreach { ci =>
        if (ci != prIdx) {
          out(oi) = toDoubleOrNull(if (ci < toks.length) toks(ci).trim else null)
          oi += 1
        }
      }
      out
    }.toVector
    val meta = metaLines.map { l =>
      val kv = l.stripPrefix("%").trim.split(",", 2)
      kv(0) -> kv.lift(1).getOrElse("")
    }.toMap
    val castId = meta.getOrElse("File name", RawFile.stem(path))
    ParsedCast(castId, StructType(fields), rows,
      CastMetaRow(castId, castId, "castaway",
        time = meta.get("Cast time (UTC)").flatMap { s =>
          try Some(Timestamp.from(LocalDateTime.parse(s.trim,
            DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")).toInstant(ZoneOffset.UTC)))
          catch { case _: Exception => None }
        },
        lat = meta.get("Start latitude").flatMap(s => s.trim.toDoubleOption),
        lon = meta.get("Start longitude").flatMap(s => s.trim.toDoubleOption),
        serial = meta.get("Device"), timeOfReset = None, prkey = Some("pressure"),
        nRows = rows.length,
        header = metaLines.mkString("\n"), config = units.mkString(",")))
  }

  private def btlType(n: String): DataType = n match {
    case "Bottle" | "Scan" | "bpos" => IntegerType
    case "pumps" | "flag"           => BooleanType
    case "Statistic"                => StringType
    case "Date"                     => TimestampType
    case _                          => DoubleType
  }

  /** First read of a Seabird header sweep: the fixture headers are
    * 12–14 KB, the instrument-config blocks that outgrow it escalate. */
  private val SeabirdHeadBytes = 1 << 14

  /**
   * Header text guaranteed to cover the full header. Seabird (cnv/ros)
   * headers end at `*END*`, and a config block (embedded XML instrument
   * history) can be far longer than a typical header, while a silently
   * truncated header would infer an empty schema or count header lines as
   * data rows: the read starts at 16 KB and escalates 4x until the `*END*`
   * line appears or the file ends (no marker at EOF = genuinely malformed;
   * downstream raises the usual parse error), and the text stops at that
   * line — the data rows behind it are never decoded or split at planning
   * time. Other formats read the capped `RawFile.headText` prefix.
   */
  def headTextComplete(ftype: String, path: String): String =
    if (ftype != "cnv" && ftype != "ros") RawFile.headText(path)
    else
      RawFile.headTextThrough(path, "*END*", SeabirdHeadBytes,
        RawFile.defaultMaxFileBytes).getOrElse(
        // a marker-less multi-GB junk file must not escalate into a
        // whole-file driver read at PLANNING time — same cap (and same
        // loud error) as the data-path guard; onCorrupt=skip's planning
        // catch composes here like any other unreadable header
        throw new IllegalStateException(
          s"$path: no *END* header marker within " +
            s"${RawFile.defaultMaxFileBytes} bytes — malformed header or " +
            s"not a $ftype file; raise -D${RawFile.MaxBytesProp} if the " +
            "header is genuinely that large, or drop the file with " +
            "onCorrupt=skip"))

  /**
   * Schema WITHOUT materializing data rows — planning-time inference reads
   * only the header region (plus, for formats with a header row, that row).
   * The r2 bench showed full driver-side parses serializing multi-MB casts
   * one by one at plan time; a 100 TB listing must never do that.
   */
  def schemaOnly(ftype: String, path: String, text: String): StructType = ftype match {
    case "cnv" | "ros" =>
      val hdr   = CastHeader.parse(RawFile.toLines(text), "cnv")
      val names = hdr.names.map(_.trim)
      val prkey = PressureKeys.find(names.contains).getOrElse(
        throw new IllegalArgumentException(
          "Expected one pressure/depth column, didn't receive any"))
      val prIdx = names.indexOf(prkey)
      StructType(StructField("pressure", DoubleType) +:
        names.zipWithIndex.filter(_._2 != prIdx)
          .map { case (n, _) => StructField(n, cnvType(n)) })
    case "btl" =>
      val hdr = CastHeader.parse(RawFile.toLines(text), "btl")
      StructType(hdr.names.map(n => StructField(n, btlType(n))))
    case "edf" =>
      val names = RawFile.toLines(text).iterator.map(_.trim)
        .takeWhile(_ != "// Data")
        .filter(_.startsWith("Field"))
        .flatMap(_.split(":", 2).lift(1))
        .map(_.trim.toLowerCase(Locale.ROOT).split("\\s+").headOption.getOrElse(""))
        .filter(_.nonEmpty).toVector
      StructType(names.map(n => StructField(n, DoubleType)))
    case "fsi" =>
      val header = RawFile.toLines(text).drop(9).headOption.getOrElse("")
      val names = header.trim.split("\\s+").filter(_.nonEmpty).toVector
      StructType(StructField("pressure", DoubleType) +:
        names.filter(_ != "PRES").map(n => StructField(n, DoubleType)))
    case "bl" =>
      StructType(Seq(
        StructField("index", IntegerType), StructField("bottle_number", IntegerType),
        StructField("time", TimestampType), StructField("startscan", IntegerType),
        StructField("endscan", IntegerType)))
    case "castaway" =>
      val headerRow = RawFile.toLines(text).map(_.trim)
        .find(l => l.nonEmpty && !l.startsWith("%")).getOrElse("")
      val names = headerRow.split(",").toVector.map(s =>
        CastHeader.normalizeName(s.split("\\(")(0)).toLowerCase(Locale.ROOT).replace(" ", "_"))
      StructType(StructField("pressure", DoubleType) +:
        names.filter(_ != "pressure").map(n => StructField(n, DoubleType)))
    case other => throw new IllegalArgumentException(s"Unknown ftype: $other")
  }

  /** Cast metadata without decompressing the file end-to-end into a String:
    * header from [[headTextComplete]] (read through `*END*`), n_rows from the
    * streaming byte-level `RawFile.lineCount`. Non-Seabird formats fall back
    * to the full parse (their files are KBs). */
  def metaOnlyStreaming(ftype: String, path: String): CastMetaRow = ftype match {
    case "cnv" | "ros" =>
      val hdr = CastHeader.parse(RawFile.toLines(headTextComplete(ftype, path)), "cnv")
      val nRows = RawFile.lineCount(path) - hdr.skiprows
      val names = hdr.names.map(_.trim)
      val prkey = PressureKeys.find(names.contains)
      val castId = if (hdr.name != "unknown") hdr.name else RawFile.stem(path)
      CastMetaRow(castId, hdr.name, ftype, hdr.time, hdr.lat, hdr.lon,
        serial = None, timeOfReset = None, prkey = prkey,
        nRows = math.max(0L, nRows), header = hdr.header, config = hdr.config)
    case other => parse(other, path, RawFile.decode(RawFile.bytes(path))).meta
  }

  /** Cast metadata WITHOUT materializing data values — header parse + a line
    * count. The meta view of a 10 MB cast should not pay full tokenization
    * (it did: the r2 bench's section query spent most of its time here).
    * Non-Seabird formats fall back to the full parse (their files are KBs). */
  def metaOnly(ftype: String, path: String, text: String): CastMetaRow = ftype match {
    case "cnv" | "ros" =>
      val lines = RawFile.toLines(text)
      val hdr   = CastHeader.parse(lines, "cnv")
      val nRows = dropTrailingBlank(lines).length - hdr.skiprows
      val names = hdr.names.map(_.trim)
      val prkey = PressureKeys.find(names.contains)
      val castId = if (hdr.name != "unknown") hdr.name else RawFile.stem(path)
      CastMetaRow(castId, hdr.name, ftype, hdr.time, hdr.lat, hdr.lon,
        serial = None, timeOfReset = None, prkey = prkey,
        nRows = math.max(0, nRows), header = hdr.header, config = hdr.config)
    case other => parse(other, path, text).meta
  }

  /** Dispatch by ftype string, with column pruning for the token formats
    * (cnv/ros — the multi-MB ones; the fixed-width/CSV formats are KB-scale
    * and parse fully). `needed` receives OUTPUT field names. */
  def parse(ftype: String, path: String, text: String,
            needed: String => Boolean): ParsedCast = ftype match {
    case "cnv" => cnv(path, text, needed = needed)
    case "ros" => cnv(path, text, ftype = "ros", needed = needed)
    case other => parse(other, path, text)
  }

  /** Dispatch by ftype string. */
  def parse(ftype: String, path: String, text: String): ParsedCast = ftype match {
    case "cnv"      => cnv(path, text)
    case "ros"      => cnv(path, text, ftype = "ros")
    case "btl"      => btl(path, text)
    case "edf"      => edf(path, text)
    case "fsi"      => fsi(path, text)
    case "bl"       => bl(path, text)
    case "castaway" => castaway(path, text)
    case other => throw new IllegalArgumentException(s"Unknown ftype: $other")
  }
}
