package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.TableIdentifier

/**
 * Generic one-time bucketed landing: write any DataFrame as a sorted
 * bucketed parquet table so every later per-key pipeline (windows,
 * per-cast kernels, and chains of both, which keep the key's partitioning
 * from one to the next) reads a scan that ALREADY satisfies its clustered
 * distribution — zero exchanges per run instead of re-shuffling the corpus
 * every pipeline execution (the same pattern as `CtdRead.ingestBucketed`,
 * generalized beyond instrument files; PlanShapeSpec pins the
 * exchange-free plans).
 *
 * `landOnce` is idempotent per session: the write happens only when the
 * table isn't registered yet, so repeated query construction (warmup
 * passes, bench reps) reuses the landed table — exactly the land-once /
 * query-many operating shape a 10^12-row events table needs.
 */
object BucketedLand {

  def landOnce(df: DataFrame, table: String, bucketCol: String,
               sortCols: Seq[String], buckets: Int = 8,
               path: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    if (!spark.catalog.tableExists(table)) {
      // Align write partitions with bucket ids before the bucketed write:
      // repartition(buckets, col) is the SAME Murmur3-pmod hash Spark
      // assigns bucket ids with, so each task holds exactly one bucket and
      // writes ONE file — without it every upstream task emits a file per
      // bucket it touches (numTasks x buckets small files; 256 on the
      // local 32-thread bench, tens of thousands from a real cluster
      // write), and every later probe pays the per-file open cost. Write
      // parallelism therefore equals `buckets`: size the bucket count to
      // the corpus (8 suffices for the bench tables; a 100 TB land wants
      // hundreds to low thousands of buckets, which this same line then
      // turns into exactly that many write tasks and files).
      // fresh write under the table's cross-application writer lease:
      // two drivers sharing a warehouse can both see "not registered" in
      // their own in-memory catalogs; the lease serializes the overwrite
      // so the directory is never written by two jobs at once (last
      // completed land wins whole, never a mix)
      WriterLease.withWriterLease(spark, table) {
        val w = df.repartition(buckets, org.apache.spark.sql.functions.col(bucketCol))
          .write.mode("overwrite")
          .bucketBy(buckets, bucketCol)
          .sortBy(sortCols.head, sortCols.tail: _*)
          .format("parquet")
        path.fold(w)(p => w.option("path", p)).saveAsTable(table)
      }
    } else {
      // A pre-existing table is only served if it actually provides the
      // clustered distribution the caller asked for — a stale or
      // differently-bucketed table would silently void the zero-exchange
      // guarantee (ADVICE r4).
      val meta = spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(table))
      val spec = meta.bucketSpec.getOrElse(
        throw new IllegalStateException(
          s"landOnce('$table'): existing table is not bucketed; drop it " +
            "or land under a different name"))
      val specOk = spec.numBuckets == buckets &&
        spec.bucketColumnNames == Seq(bucketCol) &&
        spec.sortColumnNames == sortCols
      if (!specOk) throw new IllegalStateException(
        s"landOnce('$table'): existing bucket spec (${spec.numBuckets} x " +
          s"${spec.bucketColumnNames.mkString(",")} sorted by " +
          s"${spec.sortColumnNames.mkString(",")}) != requested ($buckets x " +
          s"$bucketCol sorted by ${sortCols.mkString(",")}); drop the table " +
          "or land under a different name")
      // catalogString ignores nullability/containsNull, which parquet
      // round-trips loosen (array<string> lands back containsNull=true) —
      // strict DataType equality would reject a re-land of the identical
      // frame
      val have = meta.schema.fields.map(f => (f.name, f.dataType.catalogString)).toSeq
      val want = df.schema.fields.map(f => (f.name, f.dataType.catalogString)).toSeq
      if (have != want) throw new IllegalStateException(
        s"landOnce('$table'): existing schema ${meta.schema.simpleString} " +
          s"!= incoming ${df.schema.simpleString}; drop the table or land " +
          "under a different name")
    }
    spark.table(table)
  }

  /**
   * Collapse a bucketed table's accumulated append files to ONE file per
   * bucket. Every append (a streaming ingest's per-micro-batch
   * [[graft.ops.DedupOps.appendNearDupIndex]], a corpus refresh's
   * [[graft.ops.SearchOps.appendSearchIndex]]) adds up to numBuckets
   * files; after thousands of micro-batches the probe side pays thousands
   * of per-file opens per bucket. Compaction restores the freshly-landed
   * file shape without changing a single row — bucket spec, sort order,
   * path, and schema are all taken from the catalog, so the rewritten
   * table serves the same zero-exchange plans.
   *
   * Mechanics: SIDE-TABLE SWAP, not an in-place overwrite. The compacted
   * rows are first written as `<table>__compact` (reading the LIVE table —
   * a failure anywhere in the write leaves the original fully intact, and
   * task retries after executor loss re-read durable table files, never a
   * session-storage pin), and only then swapped in. Managed tables (r14):
   * the live table renames aside to `<table>__retired` and the side
   * table renames into place — two pure-catalog renames, the old DATA
   * FILES survive untouched until the retired copy is reclaimed at the
   * START of the next compaction, one full maintenance cycle of grace.
   * External tables move the side DIRECTORY onto the original path and
   * re-register the table at its unchanged location (the external
   * contract pins the path, so no grace copy is possible there). At
   * every step at least one complete on-disk copy of the data exists —
   * PROVIDED the filesystem renames directories atomically (HDFS/posix;
   * on a copy+delete object store a failed rename can leave the copy
   * split — there, prefer re-landing from upstream over in-place
   * compaction). Crash recovery: a re-run of compaction self-heals every
   * managed crash window (stale side tables are cleared at entry; a
   * crash between the two renames is finished by [[recoverCrashedSwap]]);
   * only the external directory-move window still needs hand
   * re-registration. Custom catalog metadata (COMMENT, user
   * TBLPROPERTIES) does not survive the swap — the engine's index tables
   * carry none; preserve any before compacting a table that does.
   *
   * Reader contract during a swap (ReadWhileWriteSpec pins it): a probe
   * that RESOLVES before the swap either completes before the directory
   * move (complete PRE-state) or fails loudly with FileNotFound when the
   * rename moves the managed directory out from under its listed paths
   * — the retired grace copy aids RECOVERABILITY (a complete old copy
   * stays on disk for one maintenance cycle), it does not serve stale
   * path lists; a probe resolving after the swap gets the complete
   * POST-state. The guarantees are exactly two: never a mixed result,
   * and never data loss.
   * Two residual races remain inherent to a non-transactional catalog
   * over plain parquet: the instant between the two renames (name
   * briefly unresolvable — same-session, microseconds) and a scan task
   * opening a managed file path mid-directory-move. Both surface as
   * loud transient errors, never as wrong rows — a long-running probe
   * service retries them (the spec's probe wrapper shows the shape), as
   * with any such metastore. In-process, compactions serialize on a
   * JVM-wide lock (two concurrent swaps would also race the
   * forced-bucketed-scan conf save/restore).
   *
   * Returns (filesBefore, filesAfter) parquet data-file counts for
   * observability; `filesAfter <= numBuckets` on success.
   */
  def compactTable(spark: org.apache.spark.sql.SparkSession,
                   table: String): (Long, Long) = compactLock.synchronized {
    WriterLease.withWriterLease(spark, table) {
    requireSinglePart(table)
    recoverCrashedSwap(spark, table)
    val meta = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(table))
    val spec = meta.bucketSpec.getOrElse(throw new IllegalStateException(
      s"compactTable('$table'): table is not bucketed — " +
        "compactPartitionedTable handles partitioned tables; for plain " +
        "tables just rewrite"))
    require(meta.partitionColumnNames.isEmpty,
      s"compactTable('$table'): table is bucketed AND partitioned — this " +
        "rewrite would drop the partition layout; compaction for the " +
        "combined layout is not implemented")
    val bCols = spec.bucketColumnNames
    val sortCols = spec.sortColumnNames
    // FORCE the bucketed scan for the rewrite. With auto-bucketed-scan on
    // (the default) the planner drops the bucketed layout for a plain
    // multi-file scan (no join/agg wants it) while STILL eliding the
    // explicit repartition (the catalog says the table satisfies the
    // clustering) — the write then receives mixed-bucket partitions and
    // emits up-to-numBuckets files PER TASK, i.e. compaction that doesn't
    // compact. Forced, each scan task reads exactly the files of one
    // bucket and the write emits exactly one file per bucket, zero
    // exchange end to end.
    val autoKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val autoPrev = spark.conf.getOption(autoKey)
    spark.conf.set(autoKey, "false")
    try rewriteViaSideTable(spark, table, meta) { live =>
      val aligned = live.repartition(spec.numBuckets,
        bCols.map(org.apache.spark.sql.functions.col): _*)
      val w0 = aligned.write.mode("errorifexists")
        .bucketBy(spec.numBuckets, bCols.head, bCols.tail: _*)
      val w1 = if (sortCols.nonEmpty) w0.sortBy(sortCols.head, sortCols.tail: _*)
               else w0
      w1.format("parquet")
    } finally autoPrev match {
      case Some(v) => spark.conf.set(autoKey, v)
      case None    => spark.conf.unset(autoKey)
    }
    }
  }

  /** Finish a swap a crash interrupted between the two managed renames:
    * the live name is missing while both the retired copy and the
    * compacted side table exist — rename the side table into place (the
    * retired copy stays for the normal grace-window cleanup). Before the
    * r14 double-rename this crash window required hand re-registration;
    * now a re-run of compaction self-heals. */
  private def recoverCrashedSwap(
      spark: org.apache.spark.sql.SparkSession, table: String): Unit = {
    val side = s"${table}__compact"
    val retired = s"${table}__retired"
    if (!spark.catalog.tableExists(table) &&
        spark.catalog.tableExists(side) &&
        spark.catalog.tableExists(retired))
      spark.sql(s"ALTER TABLE `$side` RENAME TO `$table`")
  }

  /** The side name, backticked DDL, and getTableMetadata must all resolve
    * the SAME identifier — multipart names would diverge (spark.table
    * parses the dot, TableIdentifier does not). */
  private def requireSinglePart(table: String): Unit =
    require(!table.contains('.') && !table.contains('`'),
      s"compaction: '$table' must be a single-part table name in the " +
        "current database — USE the database first")

  /** Compactions serialize JVM-wide: a second concurrent swap would race
    * the side-table names AND the forced-scan conf save/restore (the
    * second caller would snapshot the first's override as the value to
    * "restore", pinning the session config wrong forever). Compaction is
    * a rare maintenance step; serializing it is the correct shape. */
  private val compactLock = new Object

  /**
   * [[compactTable]] for a PARTITIONED (not bucketed) table — the ANN
   * index's cell-partitioned assignments accrete one file per touched
   * partition per [[graft.ops.SimOps.appendAnnIndex]] batch the same way
   * the bucketed tables do per append. Same side-table-swap mechanics and
   * crash contract as [[compactTable]]; each partition's rows coalesce
   * through one shuffle on the partition columns so the rewrite emits one
   * file per partition value. Returns (filesBefore, filesAfter).
   */
  def compactPartitionedTable(spark: org.apache.spark.sql.SparkSession,
                              table: String): (Long, Long) =
    compactLock.synchronized {
    WriterLease.withWriterLease(spark, table) {
    requireSinglePart(table)
    recoverCrashedSwap(spark, table)
    val meta = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(table))
    require(meta.partitionColumnNames.nonEmpty,
      s"compactPartitionedTable('$table'): table is not partitioned — " +
        "use compactTable for bucketed tables")
    require(meta.bucketSpec.isEmpty,
      s"compactPartitionedTable('$table'): table is partitioned AND " +
        "bucketed — this rewrite would drop the bucket spec; compaction " +
        "for the combined layout is not implemented")
    val partCols = meta.partitionColumnNames
    rewriteViaSideTable(spark, table, meta) { live =>
      live.repartition(partCols.map(org.apache.spark.sql.functions.col): _*)
        .write.mode("errorifexists")
        .partitionBy(partCols: _*)
        .format("parquet")
    }
    }
  }

  /** Count the parquet data files under a location (recursive). */
  private def parquetFileCount(spark: org.apache.spark.sql.SparkSession,
                               loc: org.apache.hadoop.fs.Path): Long = {
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(loc)) 0L
    else {
      val it = fs.listFiles(loc, true)
      var n = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
  }

  /** The shared side-table-swap scaffolding of the two compaction
    * variants (see [[compactTable]]'s durability contract). `body` writes
    * the compacted rows: it receives the LIVE table frame and returns the
    * prepared writer, which the scaffold lands as the side table
    * (managed, or at the side path for external originals). */
  private def rewriteViaSideTable(
      spark: org.apache.spark.sql.SparkSession, table: String,
      meta: org.apache.spark.sql.catalyst.catalog.CatalogTable)(
      body: org.apache.spark.sql.DataFrame =>
            org.apache.spark.sql.DataFrameWriter[
              org.apache.spark.sql.Row]): (Long, Long) = {
    val loc = new org.apache.hadoop.fs.Path(meta.location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val external = meta.tableType ==
      org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL
    val side = s"${table}__compact"
    val sideLoc = new org.apache.hadoop.fs.Path(
      loc.getParent, loc.getName + "__compact")
    // clear leftovers of a crashed earlier compaction attempt — but only
    // what LOOKS like a leftover: a genuine one is schema-identical to
    // the target (same rows, same rewrite), so an unrelated user table
    // that happens to be named `<table>__compact` refuses loudly instead
    // of being silently destroyed
    if (spark.catalog.tableExists(side)) {
      val sideSchema = spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(side)).schema
        .fields.map(f => (f.name, f.dataType.catalogString)).toSeq
      val wantSchema =
        meta.schema.fields.map(f => (f.name, f.dataType.catalogString)).toSeq
      if (sideSchema != wantSchema) throw new IllegalStateException(
        s"compaction of '$table': a table named '$side' exists with a " +
          s"DIFFERENT schema — it does not look like a crashed " +
          "compaction's leftover; drop or rename it yourself first")
      spark.sql(s"DROP TABLE `$side`")
    }
    if (fs.exists(sideLoc)) fs.delete(sideLoc, true)
    val before = parquetFileCount(spark, loc)
    // 1. side write, reading the live table — original untouched on failure
    val w = body(spark.table(table))
    (if (external) w.option("path", sideLoc.toString) else w)
      .saveAsTable(side)
    // 2. swap
    if (external) {
      // catalog-only drop (external), move the compacted directory onto
      // the original path, then re-register at the unchanged location:
      // the side table's catalog entry (now pointing at the moved-away
      // path) is dropped and the original name re-created from the side
      // table's metadata with only the location swapped back
      val sideMeta = spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(side))
      spark.sql(s"DROP TABLE `$table`")
      if (fs.exists(loc)) fs.delete(loc, true)
      if (!fs.rename(sideLoc, loc)) throw new IllegalStateException(
        s"compaction of '$table': rename $sideLoc -> $loc failed — on an " +
          "atomic-rename filesystem the data is intact at the side " +
          "location; on a copy+delete object store the copy may be SPLIT " +
          "across both paths — inspect before re-registering either")
      spark.sql(s"DROP TABLE `$side`")
      spark.sessionState.catalog.createTable(
        sideMeta.copy(
          identifier = TableIdentifier(table),
          storage = sideMeta.storage.copy(locationUri = Some(loc.toUri))),
        ignoreIfExists = false)
      if (meta.partitionColumnNames.nonEmpty)
        spark.sql(s"ALTER TABLE `$table` RECOVER PARTITIONS")
    } else {
      // managed: DOUBLE RENAME with a retired-copy grace window (r14,
      // VERDICT #5) instead of the old DROP+RENAME. The previous shape
      // deleted the live data files first, so (a) a reader resolving the
      // name between the two catalog ops saw the table missing, and (b)
      // an in-flight scan of the old files died mid-job. Now the live
      // table renames aside to `<table>__retired` (files preserved), the
      // side table renames into place, and the retired copy is dropped
      // at the START of the NEXT compaction — one full maintenance cycle
      // of grace for any straggler reader. The not-resolvable window
      // shrinks to the instant between two pure-catalog renames (and a
      // crash there is auto-recovered at next compaction entry by
      // [[recoverCrashedSwap]]). Cost: one extra on-disk copy of the
      // index between compactions — the right trade for a maintenance
      // path readers never coordinate with.
      val retired = s"${table}__retired"
      if (spark.catalog.tableExists(retired))
        spark.sql(s"DROP TABLE `$retired`")
      // a previous SESSION's grace copy can survive as an orphan
      // DIRECTORY: the in-memory catalog died with its JVM but the
      // warehouse path persists, and the rename below refuses with
      // LOCATION_ALREADY_EXISTS. Reclaiming it raw is safe because this
      // whole swap holds the table's cross-application [[WriterLease]]
      // (ADVICE r14): no OTHER driver can be mid-compaction on this
      // table family, so a directory at the retired path with no catalog
      // entry in this session is provably a dead session's grace copy —
      // not a live copy or in-flight rename target of a concurrent
      // writer.
      val retiredLoc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.defaultTablePath(
          TableIdentifier(retired)))
      val wfs = retiredLoc.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      if (wfs.exists(retiredLoc)) wfs.delete(retiredLoc, true)
      spark.sql(s"ALTER TABLE `$table` RENAME TO `$retired`")
      spark.sql(s"ALTER TABLE `$side` RENAME TO `$table`")
    }
    (before, parquetFileCount(spark,
      new org.apache.hadoop.fs.Path(spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(table)).location)))
  }
}
