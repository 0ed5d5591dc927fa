package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.io.{CastHeader, Parsers, RawFile}

/** Mirrors the reference's tests/test_read.py on the same fixture files. */
class ParserSpec extends AnyFunSuite {

  private val data = "src/test/resources/ctd-data"

  private def load(ftype: String, path: String) =
    Parsers.parse(ftype, path, RawFile.decode(RawFile.bytes(path)))

  test("compression matrix: zip/gz/bz2/zst/lz4/plain EDF all decode to the same cast") {
    // synthesize the zst/lz4 twins on the fly (no fixture ships them):
    // zstd-jni is on the Spark classpath and lz4 frames are pure-Java in
    // commons-compress, so .EDF.zst / .EDF.lz4 corpora decode like gz/bz2
    val raw = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$data/XBT.EDF"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-compress")
    val zstPath = {
      val p = tmp.resolve("XBT.EDF.zst")
      val out = new org.apache.commons.compress.compressors.zstandard
        .ZstdCompressorOutputStream(java.nio.file.Files.newOutputStream(p))
      try out.write(raw) finally out.close()
      p.toString
    }
    val lz4Path = {
      val p = tmp.resolve("XBT.EDF.lz4")
      val out = new org.apache.commons.compress.compressors.lz4
        .FramedLZ4CompressorOutputStream(java.nio.file.Files.newOutputStream(p))
      try out.write(raw) finally out.close()
      p.toString
    }
    val casts = (Seq("XBT.EDF", "XBT.EDF.gz", "XBT.EDF.bz2", "XBT.EDF.zip")
      .map(f => s"$data/$f") ++ Seq(zstPath, lz4Path))
      .map(p => load("edf", p))
    assert(casts.map(_.rows.length).distinct.size == 1)
    assert(casts.head.rows.nonEmpty)
    assert(casts.head.schema.fieldNames.toSeq ==
      Seq("time", "resistance", "depth", "temperature", "sound"))
    // stem strips the compression ext then the format ext, same as .gz
    assert(RawFile.stem(zstPath) == "XBT")
    assert(RawFile.stem(lz4Path) == "XBT")
    // concatenated frames/members must decode fully (cat a.lz4 b.lz4):
    // stopping at the first frame would silently truncate the file
    val half = raw.length / 2
    def lz4Of(bytes: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val o = new org.apache.commons.compress.compressors.lz4
        .FramedLZ4CompressorOutputStream(bos)
      o.write(bytes); o.close(); bos.toByteArray
    }
    val catLz4 = tmp.resolve("XBT_cat.EDF.lz4")
    java.nio.file.Files.write(catLz4,
      lz4Of(raw.take(half)) ++ lz4Of(raw.drop(half)))
    assert(java.util.Arrays.equals(RawFile.bytes(catLz4.toString), raw))
    def bz2Of(bytes: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val o = new org.apache.commons.compress.compressors.bzip2
        .BZip2CompressorOutputStream(bos)
      o.write(bytes); o.close(); bos.toByteArray
    }
    val catBz2 = tmp.resolve("XBT_cat.EDF.bz2")
    java.nio.file.Files.write(catBz2,
      bz2Of(raw.take(half)) ++ bz2Of(raw.drop(half)))
    assert(java.util.Arrays.equals(RawFile.bytes(catBz2.toString), raw))
  }

  test("EDF lat/lon parsed to 7 decimals; missing positions -> None") {
    val xbt = load("edf", s"$data/XBT.EDF")
    assert(math.abs(xbt.meta.lon.get - (-39.8790283)) < 5e-8)
    assert(math.abs(xbt.meta.lat.get - (-19.7174805)) < 5e-8)
    assert(xbt.meta.serial.contains("00329250"))
    val c3 = load("edf", s"$data/C3_00005.edf")
    assert(c3.meta.lat.isEmpty && c3.meta.lon.isEmpty)
  }

  test("CNV parses: non-empty, pressure column first, NMEA position + time") {
    val cnv = load("cnv", s"$data/CTD_with_sigma_e00.cnv")
    assert(cnv.rows.nonEmpty)
    assert(cnv.schema.fieldNames.head == "pressure")
    assert(math.abs(cnv.meta.lat.get - (39.0 + 16.23 / 60)) < 1e-9)
    assert(math.abs(cnv.meta.lon.get - -(150.0 + 6.34 / 60)) < 1e-9)
    assert(cnv.meta.time.get.toString.startsWith("2013-07-12 12:59:28"))
    assert(cnv.meta.prkey.contains("prDM"))
  }

  test("small.cnv.bz2 decompresses and parses") {
    val cnv = load("cnv", s"$data/small.cnv.bz2")
    assert(cnv.rows.nonEmpty)
    assert(cnv.schema.fieldNames.contains("t090C") || cnv.schema.fieldNames.length > 2)
  }

  test("pressure-label matrix: press-pass* parse, press-fails raises") {
    Seq("press-pass-prDE.cnv", "press-pass-prDM.cnv", "press-pass-prdM-atl.cnv")
      .foreach { f => assert(load("cnv", s"$data/$f").rows.nonEmpty, f) }
    val e = intercept[IllegalArgumentException](load("cnv", s"$data/press-fails.cnv"))
    assert(e.getMessage.contains("Expected one pressure/depth column"))
  }

  test("BTL: statistic rows, date stitching, Bottle ffill, dtypes") {
    val btl = load("btl", s"$data/btl/bottletest.btl")
    assert(btl.rows.nonEmpty)
    val names = btl.schema.fieldNames.toSeq
    assert(names.contains("Bottle") && names.contains("Date") && names.contains("Statistic"))
    val statIdx = names.indexOf("Statistic")
    val stats   = btl.rows.map(_(statIdx)).distinct
    assert(stats.toSet == Set("avg", "sdev", "min", "max"))
    // Bottle forward-filled onto every statistic row
    val bottleIdx = names.indexOf("Bottle")
    assert(btl.rows.forall(_(bottleIdx) != null))
    assert(btl.rows.head(bottleIdx) == 1)
    // date+time stitched from physical rows 1+2 of the first bottle
    val dateIdx = names.indexOf("Date")
    assert(btl.rows.head(dateIdx).toString.startsWith("2013-06-27 21:23:18"))
    // all four statistic rows of bottle 1 share the stitched datetime
    assert(btl.rows.take(4).map(_(dateIdx).toString).distinct.size == 1)
  }

  test("BTL cp1252 file with duplicated columns: Bottle and Bottle_") {
    val btl = load("btl", s"$data/btl/alt_bottletest.BTL")
    val names = btl.schema.fieldNames.toSeq
    assert(names.contains("Bottle") && names.contains("Bottle_"))
    assert(btl.rows.nonEmpty)
  }

  test("BTL with blank lines in header still finds the Date column") {
    val btl = load("btl", s"$data/btl/blank_line_header.btl")
    assert(btl.schema.fieldNames.contains("Date"))
    assert(btl.rows.nonEmpty)
  }

  test("BL: columns, first row, time_of_reset") {
    val bl = load("bl", s"$data/bl/bottletest.bl")
    assert(bl.schema.fieldNames.toSeq ==
      Seq("index", "bottle_number", "time", "startscan", "endscan"))
    assert(bl.meta.timeOfReset.get.toString.startsWith("2018-06-25 20:08:55"))
    val r0 = bl.rows.head
    assert(r0(0) == 1 && r0(1) == 1 && r0(3) == 2579 && r0(4) == 2615)
    assert(r0(2).toString.startsWith("2018-06-25 20:11:39"))
  }

  test("FSI: pressure index + float channels") {
    val fsi = load("fsi", s"$data/FSI.txt.gz")
    assert(fsi.schema.fieldNames.head == "pressure")
    assert(fsi.schema.fieldNames.contains("TEMP"))
    assert(fsi.rows.nonEmpty)
    assert(math.abs(fsi.rows.head(0).asInstanceOf[Double] - 0.4) < 1e-9)
  }

  test("CastAway: normalized names, last data row dropped, metadata") {
    val ca = load("castaway", s"$data/castaway_data.csv")
    assert(ca.schema.fieldNames.toSeq == Seq("pressure", "depth", "temperature",
      "conductivity", "specific_conductance", "salinity", "sound_velocity", "density"))
    assert(ca.rows.nonEmpty)
    assert(math.abs(ca.meta.lat.get - (-36.2199169)) < 1e-9)
    assert(ca.meta.serial.contains("CC1449004"))
  }

  test("ROS: rosette golden vector (ctd/read.py:540-545 doctest)") {
    val ros = load("ros", s"$data/CTD/g01l01s01.ros")
    val names = ros.schema.fieldNames.toSeq
    val nbfIdx = names.indexOf("nbf")
    assert(nbfIdx >= 0, s"nbf column missing; columns = $names")
    // groupby(nbf).mean().pressure.astype(int) == [835, 806, ..., 1]
    val byNbf = ros.rows
      .filter(r => r(nbfIdx) != null && r(0) != null)
      .groupBy(r => r(nbfIdx).asInstanceOf[Double].toInt)
      .toSeq.sortBy(_._1)
      .map { case (_, rs) =>
        (rs.map(_(0).asInstanceOf[Double]).sum / rs.length).toInt
      }
    assert(byNbf == Seq(835, 806, 705, 604, 503, 404, 303, 201, 151, 100, 51, 1))
  }

  test("ROS without FileName header -> name 'unknown'") {
    val ros = load("ros", s"$data/CTD/fixstation_hl_02.ros")
    assert(ros.meta.name == "unknown")
    assert(ros.rows.nonEmpty)
  }

  test("duplicate-column rename helper: >2 raises, 2 renames second") {
    assert(CastHeader.renameDuplicates(Vector("a", "b", "a")) == Vector("a", "b", "a_"))
    intercept[IllegalArgumentException] {
      CastHeader.renameDuplicates(Vector("a", "a", "a"))
    }
  }

  test("streaming lineCount matches in-memory split across formats/compression") {
    val files = Seq("CTD/g01l01s01.cnv.gz", "CTD/g01l01s01.ros", "XBT.EDF",
      "XBT.EDF.zip", "XBT.EDF.bz2", "btl/bottletest.btl", "castaway_data.csv")
    files.foreach { f =>
      val path = s"$data/$f"
      val lines = RawFile.toLines(RawFile.decode(RawFile.bytes(path)))
      val expected =
        if (lines.nonEmpty && lines.last.isEmpty) lines.length - 1 else lines.length
      assert(RawFile.lineCount(path) == expected.toLong, s"for $f")
    }
  }

  test("metaOnlyStreaming equals the full-text metaOnly on a multi-MB gz cast") {
    val path = s"$data/CTD/g01l01s01.cnv.gz"
    val full = Parsers.metaOnly("cnv", path, RawFile.decode(RawFile.bytes(path)))
    val streamed = Parsers.metaOnlyStreaming("cnv", path)
    assert(streamed == full)
  }

  test("pruned parse converts only requested channels, leaves others null") {
    val path = s"$data/CTD_with_sigma_e00.cnv"
    val all = load("cnv", path)
    val idx = all.schema.fieldIndex("t068C")
    val pruned = Parsers.parse("cnv", path,
      RawFile.decode(RawFile.bytes(path)), Set("pressure", "t068C").contains)
    assert(pruned.rows.length == all.rows.length)
    assert(pruned.schema == all.schema)
    pruned.rows.zip(all.rows).foreach { case (p, a) =>
      assert(p(0) == a(0) && p(idx) == a(idx)) // requested: identical
    }
    val otherIdx = all.schema.fieldIndex("sal00")
    assert(pruned.rows.forall(_(otherIdx) == null)) // unrequested: skipped
  }

  test("bad_flag sentinels parse to null, not tiny floats") {
    // CTD_with_sigma_e00.cnv declares '# bad_flag = -9.990e-29' and its data
    // rows contain the sentinel (e.g. the par channel). The reference's
    // pd.to_numeric admits it as a real float — this engine nulls it
    // (SURVEY §1.4: bad values -> null; reference divergence documented).
    val cast = load("cnv", s"$data/CTD_with_sigma_e00.cnv")
    val parIdx = cast.schema.fieldIndex("par")
    val vals = cast.rows.map(_(parIdx))
    assert(vals.contains(null), "expected at least one nulled bad_flag value")
    assert(!vals.exists {
      case d: java.lang.Double => d.doubleValue() == -9.990e-29
      case _ => false
    }, "sentinel leaked through as a float")
    // non-sentinel values in the same column still parse
    assert(vals.exists { case d: java.lang.Double => d.doubleValue() > 0; case _ => false })
  }

  test("BOM'd files decode: UTF-8 BOM, UTF-16LE, UTF-16BE") {
    val text = "# nvalues = 1\nhello\n"
    val utf8bom = Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
      text.getBytes("UTF-8")
    assert(RawFile.decode(utf8bom) == text)
    // java's "UTF-16" encoder emits a BE BOM; build LE/BE + BOM explicitly
    val le = Array[Byte](0xFF.toByte, 0xFE.toByte) ++ text.getBytes("UTF-16LE")
    assert(RawFile.decode(le) == text)
    val be = Array[Byte](0xFE.toByte, 0xFF.toByte) ++ text.getBytes("UTF-16BE")
    assert(RawFile.decode(be) == text)
    // no BOM: unchanged strict-utf8 -> cp1252 fallback
    assert(RawFile.decode(text.getBytes("UTF-8")) == text)
    assert(RawFile.decode(Array[Byte](0xB0.toByte)) == "°") // cp1252 degree
  }

  test("legacy encodings: Shift-JIS and KOI8-R detected, Latin-1 family " +
       "still decodes as cp1252") {
    // Japanese header comment in Shift-JIS: strict whole-buffer decode +
    // predominantly-CJK evidence routes it away from the cp1252 fallback
    val ja = "# 水温の測定データです" +
      "。東京湾観測点\nDepth, Temp\n"
    assert(RawFile.decode(ja.getBytes("Shift_JIS")) == ja)
    // Russian comment in KOI8-R: high-byte words detached from ASCII letters
    val ru = "# данные изме" +
      "рений темпер" +
      "атуры воды\nDepth, Temp\n"
    assert(RawFile.decode(ru.getBytes("KOI8-R")) == ru)
    // Latin-1-family text must NOT be re-routed: accented letters sit inside
    // ASCII words (adjacency guard) and break Shift-JIS strict decode
    val fr = "# données de température à côté du " +
      "récif, ação\nDepth, Temp\n"
    assert(RawFile.decode(fr.getBytes("windows-1252")) == fr)
    val de = "# Messdaten für die Wassersäule, Länge 10°\n"
    assert(RawFile.decode(de.getBytes("windows-1252")) == de)
    // lone high byte (the old degree-sign case) keeps its cp1252 reading
    assert(RawFile.decode(Array[Byte](0xB0.toByte)) == "°")
  }

  test("a BOM'd CNV parses identically to its plain twin (incl. lineCount)") {
    val src = s"$data/CTD_with_sigma_e00.cnv"
    val raw = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(src))
    val tmp = java.nio.file.Files.createTempDirectory("graft-bom")
    val bomPath = tmp.resolve("bom16.cnv")
    // decode via the sniffing path (the fixture has cp1252 bytes: sigma-é)
    val text = RawFile.decode(raw)
    java.nio.file.Files.write(bomPath,
      Array[Byte](0xFF.toByte, 0xFE.toByte) ++ text.getBytes("UTF-16LE"))
    val plain = load("cnv", src)
    val bomd  = load("cnv", bomPath.toString)
    assert(bomd.rows.length == plain.rows.length)
    assert(bomd.schema == plain.schema)
    assert(bomd.rows.head.toSeq == plain.rows.head.toSeq)
    // byte-level line counting must detect the UTF-16 BOM and fall back
    assert(RawFile.lineCount(bomPath.toString) == RawFile.lineCount(src))
  }

  test("toLines equals the CRLF|LF|CR regex split, empty lines kept") {
    def oracle(t: String): Seq[String] = t.split("\r\n|\n|\r", -1).toSeq
    val table = Seq(
      "", "a", "\n", "\r", "\r\n", "\n\r", "\r\r\n", "\r\n\r\n",
      "a\r\nb\nc\rd", "a\n\r\nb", "lead\r", "trail\n\n", "x\r\r",
      "\nleading", "\r\nleading", "a\rb\r\n\r\n\rc\n",
      "* header\r\n# name 0 = prDM: Pressure\r\n*END*\r\n 1.0 2.0\r\n",
      // UTF-16-decoded text: surrogate pairs and non-ASCII beside separators
      RawFile.decode(Array[Byte](0xFF.toByte, 0xFE.toByte) ++
        "t\u00e9\r\n\ud83c\udf0a\r\u6c34\n\r".getBytes("UTF-16LE")),
      RawFile.decode(Array[Byte](0xFE.toByte, 0xFF.toByte) ++
        "\u00b0C\n\n\r\n".getBytes("UTF-16BE")))
    table.foreach { t =>
      assert(RawFile.toLines(t).toSeq == oracle(t), s"for ${t.map(_.toInt)}")
    }
    // seeded fuzz over an alphabet dense in separators
    val rnd = new scala.util.Random(7)
    val alphabet = "ab\r\n "
    (0 until 2000).foreach { _ =>
      val t = Seq.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.length))).mkString
      assert(RawFile.toLines(t).toSeq == oracle(t), s"for ${t.map(_.toInt)}")
    }
  }

  /** The whole-file CNV `path` with `pad` inserted before its `*END*` line. */
  private def cnvWithHeaderPad(path: String, pad: String): String = {
    val text = RawFile.decode(RawFile.bytes(path))
    val at = text.indexOf("*END*")
    text.substring(0, at) + pad + text.substring(at)
  }

  private def writeTemp(name: String, text: String, gzip: Boolean = false): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-header")
    val f = dir.resolve(name)
    val bytes = text.getBytes("UTF-8")
    if (!gzip) java.nio.file.Files.write(f, bytes)
    else {
      val out = new java.util.zip.GZIPOutputStream(java.nio.file.Files.newOutputStream(f))
      try out.write(bytes) finally out.close()
    }
    f.toString
  }

  test("header sweep: every fixture format infers the schema of a 256 KB " +
       "prefix, and Seabird headers stop at their *END* line") {
    val files = Seq("cnv" -> "CTD_with_sigma_e00.cnv",
      "cnv" -> "press-pass-prDE.cnv", "cnv" -> "press-pass-prDM.cnv",
      "cnv" -> "press-pass-prdM-atl.cnv", "cnv" -> "small.cnv.bz2",
      "cnv" -> "CTD-spiked-unfiltered.cnv.bz2", "cnv" -> "CTD/g01l01s01.cnv.gz",
      "ros" -> "CTD/g01l01s01.ros", "ros" -> "CTD/fixstation_hl_02.ros",
      "btl" -> "btl/bottletest.btl", "edf" -> "XBT.EDF", "edf" -> "XBT.EDF.zip",
      "btl" -> "btl/alt_bottletest.BTL", "edf" -> "C3_00005.edf",
      "fsi" -> "FSI.txt.gz", "bl" -> "bl/bottletest.bl",
      "castaway" -> "castaway_data.csv")
    files.foreach { case (ftype, f) =>
      val path = s"$data/$f"
      val head = Parsers.headTextComplete(ftype, path)
      assert(Parsers.schemaOnly(ftype, path, head) ==
        Parsers.schemaOnly(ftype, path, RawFile.headText(path, 1 << 18)), s"for $f")
      if (ftype == "cnv" || ftype == "ros") {
        assert(RawFile.toLines(head).last.trim == "*END*", s"for $f")
        assert(Parsers.schemaOnly(ftype, path, head) == load(ftype, path).schema,
          s"for $f")
      }
    }
  }

  test("header sweep: a CNV header longer than the first head read " +
       "escalates and infers the same schema") {
    val src = s"$data/CTD_with_sigma_e00.cnv"
    // ~200 KB of instrument-config lines: past the first read and its
    // first 4x escalation
    val pad = (0 until 5000).map(i => f"# <Sensor index='$i%05d' SensorID='3' />\n").mkString
    val expected = load("cnv", src)
    Seq(false, true).foreach { gz =>
      val path = writeTemp(if (gz) "long.cnv.gz" else "long.cnv",
        cnvWithHeaderPad(src, pad), gz)
      val head = Parsers.headTextComplete("cnv", path)
      assert(head.length > 200000 && RawFile.toLines(head).last.trim == "*END*")
      assert(Parsers.schemaOnly("cnv", path, head) == expected.schema)
      val meta = Parsers.metaOnlyStreaming("cnv", path)
      assert(meta.nRows == expected.rows.length.toLong)
      assert(meta == Parsers.metaOnly("cnv", path, RawFile.decode(RawFile.bytes(path))))
    }
  }

  test("header sweep: a CNV with no *END* line reads to its end, and past " +
       "the file cap fails with the cap message") {
    val src = s"$data/CTD_with_sigma_e00.cnv"
    val noEnd = RawFile.decode(RawFile.bytes(src)).replace("*END*", "*END")
    // small: the whole file is the header text, as with the 256 KB prefix
    val small = writeTemp("noend.cnv", noEnd)
    assert(Parsers.headTextComplete("cnv", small) == noEnd)
    // no channel names either: the parser's own error, unchanged
    val bare = writeTemp("bare.cnv", "* Sea-Bird SBE 9 Data File:\n 1.0 2.0\n")
    val e1 = intercept[IllegalArgumentException] {
      Parsers.schemaOnly("cnv", bare, Parsers.headTextComplete("cnv", bare))
    }
    assert(e1.getMessage == "Expected one pressure/depth column, didn't receive any")
    // longer than the cap: the planning-time cap error, word for word
    val big = writeTemp("noend_big.cnv",
      noEnd + (" 1.0 2.0 3.0 4.0\n" * 80000))
    val saved = sys.props.get(RawFile.MaxBytesProp)
    sys.props(RawFile.MaxBytesProp) = (1 << 20).toString
    try {
      val e2 = intercept[IllegalStateException](Parsers.headTextComplete("cnv", big))
      assert(e2.getMessage == s"$big: no *END* header marker within 1048576 " +
        "bytes — malformed header or not a cnv file; raise " +
        "-Dgraft.read.maxFileBytes if the header is genuinely that large, " +
        "or drop the file with onCorrupt=skip")
    } finally saved match {
      case Some(v) => sys.props(RawFile.MaxBytesProp) = v
      case None    => sys.props -= RawFile.MaxBytesProp
    }
  }
}
