package graft

import org.apache.spark.sql.functions._
import graft.sources.CtdRead

class CtdSourceSpec extends SparkTestBase {

  test("cnv read end-to-end: schema, rows, cast_id") {
    val df = CtdRead.cnv(spark, s"$dataDir/CTD_with_sigma_e00.cnv")
    assert(df.columns.take(3).toSeq == Seq("cast_id", "scan_order", "pressure"))
    val n = df.count()
    assert(n == 199) // header says "# nvalues = 199"
    assert(df.select("cast_id").distinct.collect().map(_.getString(0)).toSeq
      == Seq("km1312_s18_c03_ctd22"))
  }

  test("meta view: lat/lon/time per cast") {
    val m = CtdRead.casts(spark, "cnv", s"$dataDir/CTD_with_sigma_e00.cnv").collect()(0)
    assert(math.abs(m.getAs[Double]("lat") - (39.0 + 16.23 / 60)) < 1e-9)
    assert(math.abs(m.getAs[Double]("lon") - -(150.0 + 6.34 / 60)) < 1e-9)
    assert(m.getAs[String]("prkey") == "prDM")
    assert(m.getAs[Long]("n_rows") == 199)
  }

  test("directory load unions casts; column pruning reaches the reader") {
    val df = CtdRead.cnv(spark, s"$dataDir/CTD/g01l01s01.cnv.gz")
    assert(df.count() > 0)
    // pruned scan: only 2 columns requested -> reader schema holds 2 fields
    val pruned = df.select("cast_id", "pressure")
    val scanDesc = pruned.queryExecution.executedPlan.toString
    assert(scanDesc.contains("cast_id") && !scanDesc.contains("t090C"),
      s"expected pruned scan, got:\n$scanDesc")
  }

  test("filter pushdown: pressure >= 0 evaluated in the reader") {
    val df = CtdRead.cnv(spark, s"$dataDir/CTD_with_sigma_e00.cnv")
    val filtered = df.filter(col("pressure") >= 100.0)
    val all = df.count()
    val kept = filtered.count()
    assert(kept > 0 && kept < all)
    val desc = filtered.queryExecution.executedPlan.toString
    assert(desc.contains("GreaterThanOrEqual"), s"pushdown missing in:\n$desc")
  }

  test("rosette summary reproduces the reference doctest vector") {
    val ros = CtdRead.rosetteSummary(spark, s"$dataDir/CTD/g01l01s01.ros")
    val got = ros.groupBy("nbf").agg(avg("pressure").as("p"))
      .orderBy("nbf").collect().map(_.getAs[Double]("p").toInt).toSeq
    assert(got == Seq(835, 806, 705, 604, 503, 404, 303, 201, 151, 100, 51, 1))
  }

  test("btl read: long statistic form with stitched timestamps") {
    val df = CtdRead.btl(spark, s"$dataDir/btl/bottletest.btl")
    assert(df.columns.contains("Statistic") && df.columns.contains("Bottle"))
    val stats = df.select("Statistic").distinct.collect().map(_.getString(0)).toSet
    assert(stats == Set("avg", "sdev", "min", "max"))
    val row = df.filter(col("Bottle") === 1 && col("Statistic") === "avg")
      .select("Date").collect()(0).getTimestamp(0)
    assert(row.toString.startsWith("2013-06-27 21:23:18"))
  }

  test("typed casts view: Dataset[CastMetaRow] with lambda filters") {
    val ds = CtdRead.castsTyped(spark, "cnv", s"$dataDir/CTD")
    val positioned = ds.filter(m => m.lat.isDefined && m.lon.isDefined).collect()
    assert(positioned.nonEmpty)
    positioned.foreach { m =>
      assert(m.lat.get > 28.0 && m.lat.get < 30.0) // Gulf of Mexico fixtures
      assert(m.nRows > 0)
    }
  }

  test("ingest lands samples + casts as parquet and re-reads columnar") {
    val out = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    val samples = CtdRead.ingest(spark, "cnv", s"$dataDir/CTD_with_sigma_e00.cnv", out)
    assert(samples.count() == 199)
    val casts = spark.read.parquet(s"$out/casts")
    assert(casts.count() == 1)
    assert(casts.select("prkey").first().getString(0) == "prDM")
    // downstream query now scans parquet (pushdown shows as PushedFilters)
    val plan = samples.filter(col("pressure") >= 100.0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") || plan.contains("pushed"), plan)
  }

  test("edf/fsi/bl/castaway read through the source") {
    assert(CtdRead.edf(spark, s"$dataDir/XBT.EDF.zip").count() > 0)
    assert(CtdRead.fsi(spark, s"$dataDir/FSI.txt.gz").count() > 0)
    val bl = CtdRead.bl(spark, s"$dataDir/bl/bottletest.bl")
    assert(bl.select("startscan").collect().head.getInt(0) == 2579)
    val ca = CtdRead.castawayCsv(spark, s"$dataDir/castaway_data.csv")
    assert(ca.columns.contains("temperature") && ca.count() > 0)
  }

  test("reads through a Hadoop FileSystem URI (file:) — dir listing and data") {
    val abs = new java.io.File(dataDir).getAbsolutePath
    val viaUri  = CtdRead.cnv(spark, s"file:$abs/CTD_with_sigma_e00.cnv")
    val viaPath = CtdRead.cnv(spark, s"$dataDir/CTD_with_sigma_e00.cnv")
    assert(viaUri.count() == 199)
    assert(viaUri.select("pressure", "t068C").collect().map(_.toSeq).toSeq ==
      viaPath.select("pressure", "t068C").collect().map(_.toSeq).toSeq)
    // directory listing through the FileSystem API, zip entry streaming too
    val dir = CtdRead.cnv(spark, s"file:$abs/CTD")
    val local = CtdRead.cnv(spark, s"$dataDir/CTD")
    assert(dir.select("cast_id").distinct().count() ==
      local.select("cast_id").distinct().count())
    assert(CtdRead.edf(spark, s"file:$abs/XBT.EDF.zip").count() > 0)
  }

  test("paths with spaces load (no URI parsing on raw paths)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft dir with spaces")
    val src = java.nio.file.Paths.get(s"$dataDir/CTD_with_sigma_e00.cnv")
    val dst = tmp.resolve("my cast.cnv")
    java.nio.file.Files.copy(src, dst)
    assert(CtdRead.cnv(spark, dst.toString).count() == 199)
    assert(CtdRead.cnv(spark, tmp.toString).count() == 199) // dir listing too
  }

  test("explicit .schema(...) skips header inference and prunes the parse") {
    import org.apache.spark.sql.types._
    val userSchema = StructType(Seq(
      StructField("cast_id", StringType), StructField("scan_order", LongType),
      StructField("pressure", DoubleType), StructField("t068C", DoubleType)))
    val df = spark.read.format("ctd").option("ftype", "cnv")
      .schema(userSchema)
      .load(s"$dataDir/CTD_with_sigma_e00.cnv")
    assert(df.schema == userSchema)
    val inferred = CtdRead.cnv(spark, s"$dataDir/CTD_with_sigma_e00.cnv")
      .select("cast_id", "scan_order", "pressure", "t068C")
    assert(df.collect().map(_.toSeq).toSeq == inferred.collect().map(_.toSeq).toSeq)
  }

  test("onCorrupt=skip drops an unreadable file, default fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-corrupt")
    val good = dir.resolve("a_good.cnv")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dataDir/CTD_with_sigma_e00.cnv"), good)
    // a truncated gzip: valid magic, garbage after — decode throws mid-file
    val gz = new java.io.ByteArrayOutputStream()
    val go = new java.util.zip.GZIPOutputStream(gz)
    go.write(("# nvalues = 5\n" + "x" * 4096).getBytes("UTF-8")); go.close()
    java.nio.file.Files.write(dir.resolve("b_corrupt.cnv.gz"),
      gz.toByteArray.take(40)) // cut mid-stream
    def read(opts: Map[String, String]) = {
      // NO explicit schema: onCorrupt=skip must cover the planning-time
      // header sweep too, or load() dies before the reader's skip runs
      var r = spark.read.format("ctd").option("ftype", "cnv")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load(dir.toString)
    }
    val kept = read(Map("onCorrupt" -> "skip")).select("cast_id").distinct()
      .collect().map(_.getString(0)).toSeq
    // only the good file's cast survives (cast_id comes from its header)
    assert(kept == Seq("km1312_s18_c03_ctd22"), s"skip mode kept $kept")
    // default: fails loudly — at inference already, or in the scan when a
    // schema is supplied
    intercept[Exception] { read(Map.empty).count() }
    val schema = read(Map("onCorrupt" -> "skip")).schema
    intercept[org.apache.spark.SparkException] {
      spark.read.format("ctd").option("ftype", "cnv").schema(schema)
        .load(dir.toString).count()
    }
    // bad option value rejected up front
    intercept[IllegalArgumentException] {
      read(Map("onCorrupt" -> "ignore")).count()
    }
    // every file unreadable + skip -> loud planning error, not empty schema
    val allBad = java.nio.file.Files.createTempDirectory("graft-allbad")
    java.nio.file.Files.write(allBad.resolve("x.cnv.gz"), Array[Byte](31, -117, 8, 0))
    intercept[IllegalArgumentException] {
      spark.read.format("ctd").option("ftype", "cnv")
        .option("onCorrupt", "skip").load(allBad.toString).count()
    }
  }

  test("maxFileBytes: an oversize file fails loudly naming itself and the " +
       "knob; onCorrupt=skip dead-letters it; normal files unaffected") {
    val dir = java.nio.file.Files.createTempDirectory("graft-oversize")
    val good = dir.resolve("a_good.cnv")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dataDir/CTD_with_sigma_e00.cnv"), good)
    // a "giant" cast: the good header + data rows padded past the cap —
    // planning (capped header read) succeeds, the data parse must refuse
    val headerAndData = new String(java.nio.file.Files.readAllBytes(good),
      java.nio.charset.StandardCharsets.UTF_8)
    val dataLine = headerAndData.linesIterator
      .dropWhile(!_.contains("*END*")).drop(1).next()
    val big = new StringBuilder(headerAndData)
    while (big.length < (1 << 21)) big.append(dataLine).append('\n')
    java.nio.file.Files.write(dir.resolve("b_giant.cnv"),
      big.toString.getBytes("UTF-8"))

    def read(opts: Map[String, String]) = {
      var r = spark.read.format("ctd").option("ftype", "cnv")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load(dir.toString)
    }
    // loud failure names the file and the knobs
    val e = intercept[org.apache.spark.SparkException] {
      read(Map("maxFileBytes" -> (1 << 20).toString)).count()
    }
    val msg = e.getCause match { case null => e.getMessage
                                 case c => c.getMessage }
    assert(msg.contains("b_giant.cnv") && msg.contains("maxFileBytes"),
      s"expected the cap error to name the file and the knob, got: $msg")
    // dead-letter composition: skip drops exactly the oversize file (the
    // two files share a header-derived cast_id, so count rows: the good
    // cast alone is 199)
    val keptRows = read(Map("maxFileBytes" -> (1 << 20).toString,
        "onCorrupt" -> "skip")).count()
    assert(keptRows == 199, s"skip mode kept $keptRows rows")
    // no cap option: both files read (the default cap is 256 MiB)
    assert(read(Map.empty).count() > 199)
    // bad value rejected up front
    intercept[IllegalArgumentException] {
      read(Map("maxFileBytes" -> "0")).count()
    }
  }

  test("header-only sweep: a Seabird header longer than the first head " +
       "read infers the same schema and rows through the source") {
    val src = s"$dataDir/CTD_with_sigma_e00.cnv"
    val text = graft.io.RawFile.decode(graft.io.RawFile.bytes(src))
    val at = text.indexOf("*END*")
    // ~200 KB of instrument-config lines before *END*
    val pad = (0 until 5000).map(i => f"# <Sensor index='$i%05d' SensorID='3' />\n").mkString
    val long = java.nio.file.Files.createTempDirectory("graft-longheader")
      .resolve("long.cnv")
    java.nio.file.Files.write(long,
      (text.substring(0, at) + pad + text.substring(at)).getBytes("UTF-8"))
    val plain = CtdRead.cnv(spark, src)
    val padded = CtdRead.cnv(spark, long.toString)
    assert(padded.schema == plain.schema)
    assert(padded.count() == 199 && padded.exceptAll(plain).isEmpty &&
      plain.exceptAll(padded).isEmpty)
  }
}
