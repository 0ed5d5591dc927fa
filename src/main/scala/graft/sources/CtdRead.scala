package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Convenience entry points mirroring the reference's public read API
  * (ctd/__init__.py:32-49): `from_cnv`, `from_btl`, `from_edf`, `from_fsi`,
  * `from_bl`, `from_castaway_csv`, `rosette_summary` — each returns a
  * DataFrame of (cast_id, scan, pressure/depth, channels...); `casts` is the
  * per-cast metadata table (the reference's `_metadata` dict as data). */
object CtdRead {

  private def read(spark: SparkSession, ftype: String, path: String): DataFrame =
    spark.read.format("ctd").option("ftype", ftype).load(path)

  def cnv(spark: SparkSession, path: String): DataFrame = read(spark, "cnv", path)
  /** Explicit multi-file read — for mixed directories (e.g. CTD/ holds both
    * .cnv.gz casts and their .ros bottle logs, which share cast ids and
    * scan_order ranges) pass the exact file list instead of the dir. */
  def cnv(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.format("ctd").option("ftype", "cnv").load(paths: _*)
  def btl(spark: SparkSession, path: String): DataFrame = read(spark, "btl", path)
  def edf(spark: SparkSession, path: String): DataFrame = read(spark, "edf", path)
  def fsi(spark: SparkSession, path: String): DataFrame = read(spark, "fsi", path)
  def bl(spark: SparkSession, path: String): DataFrame  = read(spark, "bl", path)
  def castawayCsv(spark: SparkSession, path: String): DataFrame =
    read(spark, "castaway", path)

  /** Per-cast metadata view: one row per file. */
  def casts(spark: SparkSession, ftype: String, path: String): DataFrame =
    spark.read.format("ctd").option("ftype", ftype).option("view", "meta").load(path)

  /** Metadata view over an explicit file list (see multi-file [[cnv]]). */
  def casts(spark: SparkSession, ftype: String, paths: Seq[String]): DataFrame =
    spark.read.format("ctd").option("ftype", ftype).option("view", "meta")
      .load(paths: _*)

  /** Typed metadata view — the one fixed-schema table in the engine, so it
    * gets a `Dataset[CastMetaRow]` (SURVEY §1.4: typed only where the schema
    * is static; sample data stays DataFrame because channels are
    * header-inferred). */
  def castsTyped(spark: SparkSession, ftype: String,
                 path: String): org.apache.spark.sql.Dataset[graft.io.CastMetaRow] = {
    import spark.implicits._
    casts(spark, ftype, path)
      .withColumnRenamed("cast_id", "castId")
      .withColumnRenamed("time_of_reset", "timeOfReset")
      .withColumnRenamed("n_rows", "nRows")
      .as[graft.io.CastMetaRow]
  }

  /** `rosette_summary` (ctd/read.py:528-554): a ROS read with `nbf`
    * (bottles fired) cast to int, ready for `groupBy("cast_id", "nbf")`. */
  def rosetteSummary(spark: SparkSession, path: String): DataFrame =
    spark.read.format("ctd").option("ftype", "ros").load(path)
      .withColumn("nbf", col("nbf").cast(IntegerType))

  /**
   * Ingest: parse instrument files ONCE and land them as parquet — the
   * 100 TB operating pattern (ASCII parse is CPU-bound and unsplittable per
   * file; every downstream query should hit columnar storage instead).
   * Writes `<outPath>/samples` (bucket-friendly, one row per scan) and
   * `<outPath>/casts` (the metadata table). Returns the samples DataFrame
   * re-read from parquet.
   */
  def ingest(spark: SparkSession, ftype: String, inPath: String,
             outPath: String, partitions: Int = 0): DataFrame = {
    val samples = read(spark, ftype, inPath)
    val casts   = CtdRead.casts(spark, ftype, inPath)
    val s = if (partitions > 0) samples.repartition(partitions, col("cast_id"))
            else samples
    s.write.mode("overwrite").parquet(s"$outPath/samples")
    casts.write.mode("overwrite").parquet(s"$outPath/casts")
    spark.read.parquet(s"$outPath/samples")
  }

  /**
   * Bucketed ingest: like [[ingest]], but lands the samples as a BUCKETED
   * table (`bucketBy(cast_id) sortBy(cast_id, scan_order)`). A bucketed scan
   * already satisfies the clustered distribution every per-cast operator
   * requires, so a per-cast window chain, or a per-cast kernel
   * ([[graft.ops.KernelGuard.sortedGroups]]: despike, lp_filter, ...) that
   * reads the scan directly, runs with ZERO exchanges after the one-time
   * ingest — at 10^12 samples that is the difference between re-shuffling
   * the corpus per pipeline run and never shuffling it again. A kernel
   * keeps the cast partitioning of its input, so a chain of kernels and
   * windows over the scan (lpFilter -> despike -> interpolateIndex) runs
   * with zero exchanges too (PlanShapeSpec pins these shapes).
   * Returns the re-read table.
   */
  def ingestBucketed(spark: SparkSession, ftype: String, inPath: String,
                     table: String, buckets: Int = 8): DataFrame = {
    val samples = read(spark, ftype, inPath)
    samples.write.mode("overwrite")
      .bucketBy(buckets, "cast_id")
      .sortBy("cast_id", "scan_order")
      .format("parquet")
      .saveAsTable(table)
    spark.table(table)
  }

  /** In-memory read — the reference accepts `StringIO` streams
    * (tests/test_read.py:112-114); the Spark analog parses driver-held text
    * and parallelizes the rows. For files, prefer the `ctd` format (the
    * parse then runs in executor tasks). */
  def fromText(spark: SparkSession, ftype: String, name: String,
               text: String): DataFrame = {
    val parsed = graft.io.Parsers.parse(ftype, name, text)
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("cast_id",
        org.apache.spark.sql.types.StringType) +:
      org.apache.spark.sql.types.StructField("scan_order",
        org.apache.spark.sql.types.LongType) +: parsed.schema.fields.toSeq)
    val rows = parsed.rows.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(parsed.castId +: i.toLong +: r.toIndexedSeq)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq), schema)
  }
}
