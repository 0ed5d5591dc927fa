package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/**
 * The shared landed-index LIFECYCLE every index family follows — near-dup
 * index, paragraph store, BM25 search, IVF/ANN, n-gram LM, DSIR, CMS:
 *
 *  - **land-once**: data tables land through [[BucketedLand.landOnce]];
 *    the single-row `<name>_meta` table pins the parameters the index was
 *    built under;
 *  - **meta-pin**: meta lands FIRST on a fresh land (the crash-retry
 *    rule: a mid-landing crash followed by a retry with different
 *    parameters must hit the parameter check, not stamp new values over
 *    half-landed tables). Families whose meta carries DERIVED stats the
 *    trained model produces (n-gram LM's vocab, DSIR's totals) check
 *    first, then write meta before their data tables;
 *  - **param-drift-refusal**: re-landing or probing under different
 *    parameters throws — the q75 meta-table rule: query time accepts NO
 *    sketch parameters, so land/probe drift is unrepresentable;
 *  - **append**: appends re-read the pinned meta and extend the bucketed
 *    data tables; derived stats (BM25's corpus totals) recompute from the
 *    data tables so crashed appends self-heal.
 *
 * This object is the ONE implementation of the meta contract. Families
 * keep their typed reads of family-specific columns; existence checks,
 * meta writes, and drift errors all route through here — one error shape,
 * one negative drift test per family (IndexCatalogSpec).
 *
 * **Writer concurrency contract.** Landing an index name is SINGLE-WRITER
 * at two levels: within one JVM, [[pinMeta]] serializes per index name (a
 * striped lock closes the check-then-write race — two same-JVM sessions
 * landing the same name see exactly one land and one drift/no-op, never
 * interleaved meta writes); ACROSS applications sharing a warehouse, the
 * mutating paths — `landOnce`'s fresh write, every family `append*`, and
 * the compactions — hold the filesystem [[WriterLease]] for the index
 * family (r15): a second driver's append/compaction waits its turn or
 * refuses loudly, and a dead holder's lease is broken after heartbeat
 * staleness (WriterLeaseSpec races two real JVMs to pin no-lost-update /
 * no-mixed-state). Probes are read-only, never touch the lease, and are
 * safe against a COMPLETED land at any concurrency. Crash safety
 * (meta-first, retry-with-drift-refusal) is unchanged and orthogonal.
 */
object IndexCatalog {

  private def metaTable(name: String) = s"${name}_meta"

  // striped per-name lock for same-JVM land serialization (see scaladoc)
  private val landLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(name: String): Object =
    landLocks.computeIfAbsent(name, _ => new Object)

  // META-ROW CACHE (r16, VERDICT r15 #3): every probe paid a full Spark
  // job (`spark.table(meta).head()`) to re-read a single IMMUTABLE-once-
  // landed parameter row — two such jobs per nearDedupAgainstIndex call
  // (the land-once pinMeta check plus the probe's requireMeta). The row
  // is cached per (session, name); the cheap catalog `tableExists` gate
  // stays on every path, so an externally DROPped index still misses (the
  // existence check is authoritative, the cache only replaces the row
  // READ). Every meta WRITE in this JVM invalidates the name across all
  // sessions (appends that refresh derived stats — BM25's corpus totals —
  // route through writeMeta). A meta rewritten by a DIFFERENT application
  // is not seen until re-land or session end — same staleness class as
  // Spark's own file-index cache; the cross-app writer paths hold the
  // WriterLease and re-read through their own JVM's cache coherently.
  // Sessions are WEAK identity keys: a session nobody references any more
  // is collected together with its cached rows.
  private val metaCache: java.util.concurrent.ConcurrentMap[
      SparkSession, java.util.concurrent.ConcurrentHashMap[String, Row]] =
    new com.google.common.collect.MapMaker().weakKeys().makeMap()
  private def sessionCache(spark: SparkSession) =
    metaCache.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[String, Row]())
  private def invalidateMeta(name: String): Unit =
    metaCache.values.forEach(m => { m.remove(name); () })
  /** The meta row, from cache or one head() job. Callers must have checked
    * `tableExists` first — existence stays catalog-authoritative. */
  private def metaRow(spark: SparkSession, name: String): Row =
    sessionCache(spark).computeIfAbsent(name,
      _ => spark.table(metaTable(name)).head())

  /** Run a land body under the index name's stripe — for families whose
    * land is check-then-train-then-write (n-gram LM, DSIR, BM25: the
    * derived stats only exist after training, so they cannot route the
    * whole land through [[pinMeta]]). Same lock pinMeta takes, so a
    * pinMeta lander and a withLandLock lander of one name also serialize
    * against each other. */
  def withLandLock[T](name: String)(body: => T): T =
    lockFor(name).synchronized(body)

  /** Typed read of the pinned columns with the drift error for a MISSING
    * column: an index landed by an older build (meta row predating a newly
    * pinned parameter) must fail as drift — naming the column and the
    * rebuild path — not as a raw `fieldIndex` IllegalArgumentException. */
  private def pinnedValues(row: Row, name: String, op: String,
                           cols: Seq[String]): Seq[Any] = {
    val missing = cols.filterNot(row.schema.fieldNames.contains)
    require(missing.isEmpty,
      s"$op('$name'): existing index meta has no column(s) " +
      s"${missing.mkString(", ")} (landed by an older build); drop the " +
      "index tables or land under another name")
    cols.map(c => row.get(row.fieldIndex(c)))
  }

  private def typeOf(c: String, v: Any): DataType = v match {
    case _: Int     => IntegerType
    case _: Long    => LongType
    case _: Double  => DoubleType
    case _: Boolean => BooleanType
    case _: String  => StringType
    case other => throw new IllegalArgumentException(
      s"IndexCatalog: unsupported meta value for '$c': $other")
  }

  /** True iff `<name>_meta` exists. When it does, every pinned (column,
    * value) must equal the stored row — parameter drift refuses loudly,
    * naming the family op. */
  def checkPinned(spark: SparkSession, name: String, op: String,
                  pinned: Seq[(String, Any)]): Boolean = {
    val tbl = metaTable(name)
    if (!spark.catalog.tableExists(tbl)) { invalidateMeta(name); false }
    else {
      val row = metaRow(spark, name)
      val have = pinnedValues(row, name, op, pinned.map(_._1))
      val want = pinned.map(_._2)
      require(have == want,
        s"$op('$name'): existing index has " +
        s"(${pinned.map(_._1).mkString(", ")}) = (${have.mkString(", ")}) " +
        s"!= requested (${want.mkString(", ")}); drop the index tables or " +
        "land under another name")
      true
    }
  }

  /** Write the single-row meta table: pinned parameters plus any derived
    * stats, in the given column order. */
  def writeMeta(spark: SparkSession, name: String, path: Option[String],
                cols: Seq[(String, Any)]): Unit = {
    val schema = StructType(cols.map { case (c, v) =>
      StructField(c, typeOf(c, v), nullable = false) })
    val df = spark.createDataFrame(
      java.util.Collections.singletonList(Row.fromSeq(cols.map(_._2))),
      schema)
    val w = df.write.mode("overwrite").format("parquet")
    path.fold(w)(p => w.option("path", s"${p}_meta"))
      .saveAsTable(metaTable(name))
    invalidateMeta(name)
  }

  /** Meta-FIRST land-or-refuse — the default lifecycle for families whose
    * meta is pure parameters. Returns true when the meta already existed
    * (and matched). */
  def pinMeta(spark: SparkSession, name: String, op: String,
              path: Option[String], pinned: Seq[(String, Any)],
              derived: Seq[(String, Any)] = Nil): Boolean =
    // per-name lock: two same-JVM landers of one name serialize here, so
    // the loser of the race sees the winner's meta and takes the normal
    // existed/drift path instead of double-writing (scaladoc contract)
    lockFor(name).synchronized {
      val existed = checkPinned(spark, name, op, pinned)
      if (!existed) writeMeta(spark, name, path, pinned ++ derived)
      existed
    }

  /** The landed-index existence gate, with the family's land-first hint.
    * Returns the meta row for typed reads. */
  def requireMeta(spark: SparkSession, name: String, hint: String): Row = {
    if (!spark.catalog.tableExists(metaTable(name))) {
      invalidateMeta(name)
      require(false, hint)
    }
    metaRow(spark, name)
  }

  /** Existence gate + pinned-parameter check in ONE meta read (probe-path
    * form: requireMeta followed by checkPinned would scan the meta table
    * twice per query). Returns the meta row for typed reads. */
  def requirePinned(spark: SparkSession, name: String, hint: String,
                    op: String, pinned: Seq[(String, Any)]): Row = {
    val row = requireMeta(spark, name, hint)
    val have = pinnedValues(row, name, op, pinned.map(_._1))
    val want = pinned.map(_._2)
    require(have == want,
      s"$op('$name'): existing index has " +
      s"(${pinned.map(_._1).mkString(", ")}) = (${have.mkString(", ")}) " +
      s"!= requested (${want.mkString(", ")}); drop the index tables or " +
      "land under another name")
    row
  }
}
