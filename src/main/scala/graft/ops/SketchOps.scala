package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * COUNT-MIN SKETCH (Cormode & Muthukrishnan 2005, "An improved data stream
 * summary: the count-min sketch and its applications"): a `depth x width`
 * counter table answering "how often did key x occur?" with a one-sided
 * error — the estimate is NEVER below the true count, and exceeds it by
 * more than `2N/width` with probability at most `(1/2)^depth`. The sketch
 * is the frequency summary a 100 TB corpus ships with: `depth*width`
 * counters regardless of corpus size or vocabulary, mergeable across
 * shards/days by plain counter addition, queryable later without touching
 * the corpus.
 *
 * Spark-first shape: the counter table IS a DataFrame aggregation —
 * explode each occurrence into its `depth` (row, bucket) cells and run one
 * two-phase hash agg. The map-side partial aggregation clamps the shuffle
 * at `depth * width` rows PER TASK no matter how many occurrences flow
 * through, which is the whole point of the sketch — the shuffle cost is a
 * function of the sketch dims, not the data. No custom
 * TypedImperativeAggregate needed; Catalyst's HashAggregate already is the
 * sketch builder.
 *
 * Hashing: row `r` buckets key `k` at `md5_31("<salt><r>:<k>") % width` —
 * the engine-portable md5-31 family every sampling/split path here uses,
 * so any engine (the DuckDB oracle included) can rebuild the identical
 * sketch bit for bit. md5's 31-bit slices are pairwise-independent-enough
 * across the `<r>:` prefixes for the CM guarantee in practice.
 */
object SketchOps {

  private def md5_31(c: Column): Column =
    org.apache.spark.sql.catalyst.expressions.graftdedup
      .HashSketchExpressions.md5Hash31(c)

  private def bucketOf(key: Column, row: Column, width: Int,
                       salt: String): Column =
    pmod(md5_31(concat(lit(salt), row.cast("string"), lit(":"),
      key.cast("string"))), lit(width)).cast("int")

  /**
   * Build the counter table over `items` (ONE ROW PER OCCURRENCE — explode
   * token arrays upstream): `(cms_row, cms_bucket, cnt)`, at most
   * `depth * width` rows, zero-count cells absent. Null keys carry no
   * frequency and are skipped. Merging two sketches of the same
   * (depth, width, salt) is `union.groupBy(row, bucket).sum(cnt)`.
   */
  def cmsSketch(items: DataFrame, keyCol: String, depth: Int, width: Int,
                salt: String = "graft-cms"): DataFrame = {
    require(depth > 0 && width > 0,
      s"cmsSketch: depth and width must be positive, got $depth x $width")
    items.filter(col(keyCol).isNotNull)
      .select(col(keyCol).as("__k"),
        explode(sequence(lit(0), lit(depth - 1))).as("cms_row"))
      .select(col("cms_row"),
        bucketOf(col("__k"), col("cms_row"), width, salt).as("cms_bucket"))
      .groupBy(col("cms_row"), col("cms_bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /**
   * Point-query the sketch: append `est` (long) to every `probes` row —
   * the minimum over the key's `depth` counters, with absent cells read
   * as zero. `est >= true count` always; collisions only ever inflate it.
   *
   * The sketch side is `depth * width` rows — broadcast-size by
   * construction — so the lookup join is a map-side broadcast hash join:
   * probing costs the probe scan, nothing corpus-shaped. (depth, width,
   * salt) must match the building call; there is no way to detect a
   * mismatch from the counters, so wrap them in a meta row when landing a
   * sketch to disk (the q75/q76 param-pinning pattern).
   */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame, keyCol: String,
                  depth: Int, width: Int,
                  salt: String = "graft-cms"): DataFrame = {
    require(depth > 0 && width > 0,
      s"cmsEstimate: depth and width must be positive, got $depth x $width")
    val probeCols = probes.columns.map(col)
    probes
      .withColumn("__cms_row",
        explode(sequence(lit(0), lit(depth - 1))))
      .withColumn("__cms_bucket",
        bucketOf(col(keyCol), col("__cms_row"), width, salt))
      .join(broadcast(sketch.select(col("cms_row").as("__cms_row"),
          col("cms_bucket").as("__cms_bucket"), col("cnt"))),
        Seq("__cms_row", "__cms_bucket"), "left")
      .groupBy(probeCols: _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  // --- landed sketch: land once, append segments, estimate many ----------

  /**
   * Land a CMS as catalog tables — the steady-state shape for a corpus
   * that grows by ingest batches:
   *
   *  - `<name>_meta` `(depth, width, salt)`: parameter pinning — a probe
   *    or append under different params reads garbage with no way to
   *    detect it from the counters, so every later call takes its params
   *    from here (the q75/q76 meta-table rule);
   *  - `<name>_counters` `(segment, cms_row, cms_bucket, cnt)`:
   *    LOG-STRUCTURED — each landing/append writes its own `segment`'s
   *    rows and never rewrites existing ones. A cell's total is the SUM
   *    across segments (CMS counters are additive), so appends are
   *    pure inserts: crash-safe, and idempotent because a segment that
   *    is already present is skipped (counters carry no key identity, so
   *    segment tags are the ONLY way to make re-delivery harmless).
   *
   * Meta lands first (the crash-retry rule: a retry with different
   * params hits the check, not half-landed tables).
   */
  def landCmsSketch(items: DataFrame, keyCol: String, name: String,
                    depth: Int, width: Int, salt: String = "graft-cms",
                    segment: String = "base",
                    path: Option[String] = None): Unit = {
    val spark = items.sparkSession
    graft.sources.IndexCatalog.pinMeta(spark, name, "landCmsSketch", path,
      Seq("depth" -> depth, "width" -> width, "salt" -> salt)): Unit
    if (!spark.catalog.tableExists(s"${name}_counters")) {
      val seg = cmsSketch(items, keyCol, depth, width, salt)
        .select(lit(segment).as("segment"), col("cms_row"),
          col("cms_bucket"), col("cnt"))
      val w = seg.write.mode("overwrite").format("parquet")
      path.fold(w)(p => w.option("path", s"${p}_counters"))
        .saveAsTable(s"${name}_counters")
    }
  }

  /**
   * Fold an ingest batch into a landed sketch as a new counter SEGMENT —
   * a pure insert (no rewrite of landed cells, so a crash mid-append
   * leaves the sketch readable and the retry completes the same
   * segment). A `segmentId` already present is skipped and the call
   * returns false: re-delivered batches cannot double-count, which
   * matters precisely because CMS counters carry no key identity to
   * dedup on. Params come from the meta table, never the call site.
   */
  def appendToCmsSketch(items: DataFrame, keyCol: String, name: String,
                        segmentId: String): Boolean = {
    val spark = items.sparkSession
    val m = graft.sources.IndexCatalog.requireMeta(spark, name,
      s"no CMS sketch '$name' in the session catalog — run landCmsSketch first")
    val (depth, width, salt) = (m.getAs[Int]("depth"), m.getAs[Int]("width"),
      m.getAs[String]("salt"))
    // cross-application writer lease: the seen-check + append must be
    // one unit or two drivers ingesting the same segment double-count
    // (r15; see DedupOps.appendNearDupIndex)
    graft.sources.WriterLease.withWriterLease(spark, name) {
      val seen = spark.table(s"${name}_counters")
        .filter(col("segment") === segmentId).limit(1).count() > 0
      if (seen) false
      else {
        cmsSketch(items, keyCol, depth, width, salt)
          .select(lit(segmentId).as("segment"), col("cms_row"),
            col("cms_bucket"), col("cnt"))
          .write.mode("append").format("parquet")
          .saveAsTable(s"${name}_counters")
        true
      }
    }
  }

  /**
   * Point-query a landed sketch: params from the meta table, cell totals
   * summed across segments, then the usual min over the key's `depth`
   * cells. The counters table is `depth * width * segments` rows —
   * broadcast-size — so probing stays a map-side broadcast join at any
   * corpus size. Identical to [[cmsEstimate]] over the sketch of the
   * concatenated corpus (counter addition IS sketch merging).
   */
  def cmsEstimateAgainstSketch(probes: DataFrame, keyCol: String,
                               name: String): DataFrame = {
    val spark = probes.sparkSession
    val m = graft.sources.IndexCatalog.requireMeta(spark, name,
      s"no CMS sketch '$name' in the session catalog — run landCmsSketch first")
    val merged = spark.table(s"${name}_counters")
      .groupBy(col("cms_row"), col("cms_bucket"))
      .agg(sum(col("cnt")).as("cnt"))
    cmsEstimate(merged, probes, keyCol, m.getAs[Int]("depth"),
      m.getAs[Int]("width"), m.getAs[String]("salt"))
  }

  // --- KLL quantile sketches: mergeable percentiles -----------------------

  private def Kll = org.apache.spark.sql.catalyst.expressions.graftsketch
    .KllExpressions

  /**
   * One KLL quantile sketch per group over `valueCol` — the quantile
   * sibling of the HLL distinct-token sketches: per-batch/per-shard rows
   * `(group, qsketch: binary)` land as bytes and later answer ANY-rank
   * percentile queries over arbitrary unions of batches with no data
   * re-scan ([[mergedQuantiles]]). One two-phase hash aggregation; the
   * sketch object rides the agg buffer and serializes only at the
   * shuffle (Spark's own approx_percentile machinery). `k` trades state
   * (~KBs) for rank error (~1.65/k at one sigma: k=200 ≈ 0.8%).
   *
   * Where [[graft.ops.TextOps.groupStats]] answers exact or approx
   * percentiles in ONE query, this persists the reusable intermediate —
   * the "p99 doc length over any month x source slice from kilobytes of
   * summaries" capability. Estimates carry RANK error, not value error.
   */
  def quantileSketches(df: DataFrame, groupCol: String, valueCol: String,
                       k: Int = 200): DataFrame =
    df.groupBy(col(groupCol))
      .agg(Kll.kllSketchAgg(col(valueCol), k).as("qsketch"))

  /**
   * Union landed [[quantileSketches]] rows (any number of batches) back
   * to per-group percentile estimates: one `p<rank>` column per entry of
   * `percentiles`. Sketch union answers within the same rank-error bound
   * as a single pass over the concatenated data (spec-pinned); all-null
   * groups yield null estimates.
   */
  def mergedQuantiles(sketches: DataFrame, groupCol: String,
                      percentiles: Seq[Double]): DataFrame = {
    require(percentiles.nonEmpty &&
      percentiles.forall(p => p >= 0 && p <= 1),
      s"percentiles must be in [0,1]: $percentiles")
    def label(p: Double): String = "p" + BigDecimal(p * 100)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .bigDecimal.stripTrailingZeros.toPlainString
      .replace(".", "_")
    val merged = sketches.groupBy(col(groupCol))
      .agg(Kll.kllMergeAgg(col("qsketch")).as("__merged"))
    // one projection; a label listed twice is one column, at its first
    // position with its last percentile
    val labels = percentiles.map(label).distinct
    val rank = percentiles.map(p => label(p) -> p).toMap
    merged.select(col("*") +: labels.map(l =>
      Kll.kllQuantile(col("__merged"), rank(l)).as(l)): _*).drop("__merged")
  }

  /**
   * Land per-group KLL quantile sketches as a persisted SEGMENT table —
   * the "land-once" shape [[quantileSketches]] advertises, with the same
   * lifecycle contract as the CMS family ([[landCmsSketch]]): sketches
   * land as bytes keyed by `(segment, group)`, ingest batches append NEW
   * segments only ([[appendQuantileSketches]] — pure inserts, so a crash
   * mid-append leaves the store readable and the retry completes the
   * same segment), and any-rank percentile queries read the merged union
   * with no data re-scan ([[quantilesAgainstSketches]]). Meta pins `k`
   * and the group/value column names (the q75 drift rule: a re-land
   * under different params refuses rather than silently mixing
   * rank-error envelopes — DataSketches keeps the SMALLEST k among
   * merged sketches, so one drifted segment would degrade every answer).
   */
  def landQuantileSketches(df: DataFrame, groupCol: String,
                           valueCol: String, name: String, k: Int = 200,
                           segment: String = "base",
                           path: Option[String] = None): Unit = {
    val spark = df.sparkSession
    graft.sources.IndexCatalog.pinMeta(spark, name, "landQuantileSketches",
      path, Seq("k" -> k, "group_col" -> groupCol,
        "value_col" -> valueCol)): Unit
    if (!spark.catalog.tableExists(s"${name}_qsketches")) {
      val seg = quantileSketches(df, groupCol, valueCol, k)
        .select(lit(segment).as("segment"), col(groupCol).as("grp"),
          col("qsketch"))
      val w = seg.write.mode("overwrite").format("parquet")
      path.fold(w)(p => w.option("path", s"${p}_qsketches"))
        .saveAsTable(s"${name}_qsketches")
    }
  }

  /**
   * Fold an ingest batch into a landed quantile-sketch store as a new
   * SEGMENT. A `segmentId` already present is skipped and the call
   * returns false — re-delivered batches cannot double-weight a rank
   * distribution, the same idempotency-by-segment-id contract the CMS
   * appends carry. Params (`k`, the column names) come from the meta
   * table, never the call site. The seen-check + append runs under the
   * cross-application [[graft.sources.WriterLease]] so two drivers
   * ingesting the same segment cannot both insert it.
   */
  def appendQuantileSketches(df: DataFrame, name: String,
                             segmentId: String): Boolean = {
    val spark = df.sparkSession
    val m = graft.sources.IndexCatalog.requireMeta(spark, name,
      s"no quantile-sketch store '$name' in the session catalog — run " +
      "landQuantileSketches first")
    val (k, groupCol, valueCol) = (m.getAs[Int]("k"),
      m.getAs[String]("group_col"), m.getAs[String]("value_col"))
    graft.sources.WriterLease.withWriterLease(spark, name) {
      val seen = spark.table(s"${name}_qsketches")
        .filter(col("segment") === segmentId).limit(1).count() > 0
      if (seen) false
      else {
        quantileSketches(df, groupCol, valueCol, k)
          .select(lit(segmentId).as("segment"), col(groupCol).as("grp"),
            col("qsketch"))
          .write.mode("append").format("parquet")
          .saveAsTable(s"${name}_qsketches")
        true
      }
    }
  }

  /**
   * Answer per-group percentiles from a landed store: union ALL landed
   * segments' sketches through [[mergedQuantiles]] — kilobytes per
   * (segment, group) reach the merge whatever the corpus size, and the
   * answer reflects every fully-committed segment within the single-pass
   * rank-error bound. Output group column carries the landed name from
   * the meta table.
   */
  def quantilesAgainstSketches(spark: org.apache.spark.sql.SparkSession,
                               name: String,
                               percentiles: Seq[Double]): DataFrame = {
    val m = graft.sources.IndexCatalog.requireMeta(spark, name,
      s"no quantile-sketch store '$name' in the session catalog — run " +
      "landQuantileSketches first")
    val groupCol = m.getAs[String]("group_col")
    mergedQuantiles(spark.table(s"${name}_qsketches")
      .select(col("grp").as(groupCol), col("qsketch")),
      groupCol, percentiles)
  }

  // --- Misra-Gries heavy hitters: sketch narrows, exact verifies ----------

  private def Mg = org.apache.spark.sql.catalyst.expressions.graftsketch
    .MisraGriesExpressions

  /**
   * GUARANTEED heavy hitters of `keyCol`: every key whose exact count
   * strictly exceeds `n / k` (n = non-null rows), with its EXACT count
   * and integer-ppm share — no false positives, no false negatives, at
   * any corpus size, in two passes neither of which shuffles more than
   * O(k) state:
   *
   *  1. one [[MisraGriesExpressions.mgCandidatesAgg]] pass — ≤ k-1
   *     candidate keys per task ride the agg buffers (the MG superset
   *     guarantee: no true heavy hitter can be missing), collected with
   *     the total count in the same job;
   *  2. one exact recount of the candidate keys alone — a broadcast
   *     membership filter at scan speed, then a tiny groupBy bounded by
   *     k, filtered by the exact `count * k > n` rule.
   *
   * The MG summary content is partition-order-dependent; the FINAL result
   * is not (the exact filter decides membership). This is the engine's
   * standard sketch-narrows/exact-verifies move (bloom decontamination,
   * line-dedup exactVerify) applied to frequency. The driver holds ≤ k-1
   * candidate strings — bounded by the parameter, never by the corpus.
   */
  def heavyHitters(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k >= 2, s"heavyHitters: k must be >= 2, got $k")
    // profile the STRING form: the MG aggregate is string-typed, and the
    // cast is value-injective for the int/long/string keys this serves
    // (the recount below compares in the same cast space)
    val key = col(keyCol).cast("string")
    val first = df.agg(
      Mg.mgCandidatesAgg(key, k).as("__cands"),
      count(key).as("__n")).head()
    val cands = first.getSeq[String](0)
    val n = first.getLong(1)
    if (cands.isEmpty || n == 0L)
      return df.sparkSession.emptyDataFrame
        .withColumn(keyCol, lit(null).cast("string"))
        .withColumn("n_rows", lit(null).cast("long"))
        .withColumn("share_ppm", lit(null).cast("long"))
        .limit(0)
    df.filter(key.isInCollection(cands))
      .groupBy(key.as(keyCol))
      .agg(count(lit(1)).as("n_rows"))
      .filter(col("n_rows") * k > n)
      .withColumn("share_ppm", expr(s"n_rows * 1000000 DIV ${n}L"))
  }
}
