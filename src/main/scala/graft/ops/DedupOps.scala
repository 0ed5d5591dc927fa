package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Deduplication operators, designed for the 100 TB shape:
 *
 *  - EXACT dedup shuffles a 32-byte sha2 digest, never the document body
 *    (a raw-text shuffle key is the classic scale-killer — VERDICT r1 §4).
 *  - NEAR dedup is MinHash + banded LSH: candidates come from equi-joins on
 *    (band, band_hash) — all-pairs comparison never happens; the exact
 *    Jaccard verification runs only inside buckets.
 *  - SimHash gives a 64-bit per-doc sketch for Hamming-distance near-dup.
 *
 * Shuffle-byte accounting at 100 TB (1e9 docs, 100 KB avg): exact dedup
 * moves 1e9 * (8B id + 32B digest) ≈ 40 GB; MinHash with k=128, b=16 bands
 * moves 1e9 * 16 * 16B ≈ 256 GB — vs 100 TB of bodies for text-keyed
 * shuffles. Signatures are computed map-side with codegen'd expressions.
 */
object DedupOps {

  /**
   * WINNOWING fingerprints (Schleimer/Wilkerson/Aiken 2003, the MOSS
   * algorithm): from every window of `w` consecutive k-gram hashes, select
   * the RIGHTMOST MINIMUM — the classic local fingerprinting scheme whose
   * guarantee is positional: any shared token run of at least `w + k - 1`
   * tokens between two documents shares at least one selected fingerprint,
   * so an equi-join on `gram_hash` detects partial overlap (plagiarism,
   * quotation, template reuse) that whole-document sketches dilute away.
   * Complements [[duplicateSpans]]: spans need corpus-frequency evidence,
   * winnowing needs only the two documents.
   *
   * Output: `(<idCol>, pos, gram_hash)` — distinct selected fingerprints,
   * `pos` the 0-based token position of the gram, ~1/w of the grams per
   * doc (density 2/(w+1) in expectation).
   *
   * Shape: one posexplode + per-doc windows over ONE exchange (lead-built
   * k-grams, then a rolling `min(struct(hash, -pos))` whose struct order
   * encodes the rightmost-min tie rule), distinct on the selected rows.
   * Hashes are the engine-portable md5-31 family, so the selection replays
   * exactly in SQL.
   */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(w >= 2, s"w must be >= 2, got $w")
    val W = org.apache.spark.sql.expressions.Window
    val K = org.apache.spark.sql.catalyst.expressions.graftdedup
      .HashSketchExpressions
    val pos = df.select(col(idCol),
      posexplode(graft.ops.TextOps.tokens(col(textCol)))
        .as(Seq("__p", "__t")))
    val wOrd = W.partitionBy(col(idCol)).orderBy(col("__p"))
    val gramCols = (0 until k).map(j =>
      if (j == 0) col("__t") else lead(col("__t"), j).over(wOrd))
    // concat_ws skips nulls, so a truncated tail gram would silently
    // shorten — gate on the FINAL lead instead (lead(j) null implies
    // lead(k-1) null for j < k-1)
    val lastTok = if (k == 1) col("__t") else lead(col("__t"), k - 1).over(wOrd)
    val grams = pos
      .withColumn("__g", concat_ws(" ", gramCols: _*))
      .withColumn("__gate", lastTok)
      .filter(col("__gate").isNotNull)
      .withColumn("__h", K.md5Hash31(col("__g")))
    val winWin = W.partitionBy(col(idCol)).orderBy(col("__p"))
      .rowsBetween(-(w - 1), 0)
    grams
      .withColumn("__m",
        min(struct(col("__h").as("h"), (-col("__p")).as("np"))).over(winWin))
      .withColumn("__cnt", count(lit(1)).over(winWin))
      .filter(col("__cnt") === w) // full windows only, the paper's scheme
      .select(col(idCol), (-col("__m.np")).cast(LongType).as("pos"),
        col("__m.h").as("gram_hash"))
      .distinct()
  }

  /**
   * Cross-corpus OVERLAP PAIRS from [[winnowFingerprints]]: for every
   * (left doc, right doc) sharing at least `minShared` distinct selected
   * gram hashes, the shared-fingerprint count — the MOSS match step.
   * By the winnowing guarantee a shared run of `w + k - 1` tokens always
   * surfaces, so `minShared = 1` catches every such run; higher values
   * trade recall for noise suppression on hash collisions.
   *
   * Shape: fingerprints on both sides (per-doc windows over one exchange
   * each), then an equi-join ON THE HASH — candidates are bounded by
   * fingerprint collisions (~2/(w+1) of grams per doc, never all-pairs) —
   * and a count agg per pair. A boilerplate gram shared by B docs per
   * side fans out B² pair rows; `maxHashDocs` caps the per-hash fan-out
   * (0 = uncapped), dropping hashes that appear in more docs than the cap
   * on either side — the near-dup family's hot-bucket rule.
   */
  def winnowOverlapPairs(left: DataFrame, right: DataFrame,
                         leftId: String, rightId: String,
                         leftText: String, rightText: String,
                         k: Int = 3, w: Int = 4, minShared: Long = 1,
                         maxHashDocs: Int = 0): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    def fps(df: DataFrame, id: String, text: String, as: String) = {
      val f = winnowFingerprints(df, id, text, k, w)
        .select(col(id).as(as), col("gram_hash")).distinct()
      if (maxHashDocs <= 0) f
      else {
        val wCnt = org.apache.spark.sql.expressions.Window
          .partitionBy(col("gram_hash"))
        f.withColumn("__n", count(lit(1)).over(wCnt))
          .filter(col("__n") <= maxHashDocs).drop("__n")
      }
    }
    fps(left, leftId, leftText, "id_a")
      .join(fps(right, rightId, rightText, "id_b"), "gram_hash")
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Word n-gram shingles (distinct, first-occurrence order), the unit of
    * Jaccard similarity. Native codegen expression over the token array's
    * raw `UTF8String`s (graftdedup.ShinglesExpr) — per-element Catalyst
    * lambdas (`transform`+`slice`+`array_join`) are interpreted and
    * dominated q25's runtime, and the intermediate Scala-UDF version still
    * paid a Seq[String] round-trip per row. Null text yields a null array
    * (call sites' size()/explode()/when() guards treat it like the empty
    * set, matching the oracle). */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesFromTokens(TextOps.tokens(text), n)

  /** Shingles over a pre-tokenized column. */
  def shinglesFromTokens(tok: Column, n: Int): Column =
    org.apache.spark.sql.catalyst.expressions.graftdedup.HashSketchExpressions
      .wordShingles(tok, n)

  /** Keep one row per identical `textCol` (lowest `idCol` wins), comparing
    * sha2-256 digests. Digest-keyed: partial-aggregable, tiny shuffle keys.
    * Null texts form ONE group (null-safe join keys) — a plain equi-join on
    * the null digest would silently drop EVERY null-text row, where SQL
    * window/group semantics (and the DuckDB oracle) keep the group's
    * minimum id. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // collision-proofed internal names (shared tempName helper — a user
    // column literally named __digest was silently clobbered before)
    val dg = TextOps.tempName(df, "__digest")
    val keepId = TextOps.tempName(df, "__keep_id")
    val keepDg = TextOps.tempName(df, "__keep_digest")
    val withDigest = df.withColumn(dg, sha2(col(textCol), 256))
    val keep = withDigest.groupBy(col(dg))
      .agg(min(col(idCol)).as(keepId))
      .withColumnRenamed(dg, keepDg)
    withDigest.join(keep,
        col(dg) <=> col(keepDg) && col(idCol) === col(keepId),
        "left_semi")
      .drop(dg)
  }

  /**
   * Incremental-ingest exact dedup: keep only the rows of `df` whose text
   * does not already exist in `reference` (the previously-landed corpus) —
   * the "new data vs existing index" step of a rolling ingest. The LANDED
   * side never ships bodies: it reduces to DISTINCT 32-byte sha2 digests
   * first (at a steady state that digest table is the thing you persist
   * and bucket). The INCOMING side broadcasts against a small digest set;
   * past the broadcast threshold it shuffles on the digest key carrying
   * its own rows — acceptable because in a rolling ingest the increment is
   * the small side, and the alternative (shuffling the multi-TB landed
   * corpus) is what this shape avoids. Null-text rows pass through — they
   * match nothing.
   */
  def exactDedupAgainst(df: DataFrame, textCol: String,
                        reference: DataFrame, refTextCol: String): DataFrame = {
    // collision-proof internal name (a prior stage may well have produced
    // a column of the same name — ADVICE r3 convention); unlike tempName
    // this must be absent from BOTH frames (it appears in the join
    // condition, where either side could capture it)
    var dg = "__ref_digest"
    while (df.columns.contains(dg) || reference.columns.contains(dg)) dg += "_"
    val refDigests = reference
      .select(sha2(col(refTextCol), 256).as(dg))
      .where(col(dg).isNotNull)
      .distinct()
    df.join(refDigests, sha2(col(textCol), 256) === col(dg), "left_anti")
  }

  /** Runtime-metric observation names are suffixed with a per-call counter:
    * Spark requires CollectMetrics names to be unique within one query, and
    * a query composing two LSH calls (union of two pair sets) would
    * otherwise fail analysis. Consumers match on the prefix (see
    * [[ObservedMetrics]]). */
  private val obsCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  private[ops] def obsName(prefix: String): String =
    s"$prefix#${obsCounter.incrementAndGet()}"

  /** Prefixes of the `Dataset.observe` metrics the LSH paths emit, so the
    * scale behavior that decides whether a run was linear is RECORDED, not
    * narrated (VERDICT r7 §wrong-1). Read them from a
    * `QueryExecutionListener` via `qe.observedMetrics` (keys start with one
    * of these prefixes) or in the Spark UI's SQL tab:
    *
    *  - [[LshBucketMetrics]]: `max_bucket_width` (widest band bucket BEFORE
    *    the cap) and `band_rows_capped` (band rows a `maxBucket` cap
    *    removed) — emitted whenever a bucket cap is active;
    *  - [[NearDupCandidateMetrics]]: `candidate_pairs` (distinct colliding
    *    pairs entering the Jaccard verify) — emitted by the pairwise AND
    *    the two-sided against/indexed paths;
    *  - [[NearDupVerifiedMetrics]]: `verified_pairs` (pairs at/above the
    *    threshold; pairwise paths) or `verified_ids` (distinct incoming
    *    ids with a verified landed match; against paths).
    *
    * A healthy banded run keeps candidate_pairs ~linear in the corpus; a
    * super-linear candidate count with a growing max_bucket_width is the
    * hot-band signature that `maxBucket` exists to cap.
    *
    * The counts are per EXECUTED query and only meaningful for full
    * executions: under a limited execution (e.g. the
    * [[nearDedupConnected]] `localPairLimit` probe, or any `.limit(n)` a
    * caller adds) the accumulators see only the rows the early-out pulled
    * through, so a prefix-matching listener would read partial counts.
    * Scale adjudication must key off an un-limited run — the bench queries
    * and [[graft.ScalingProbe]] qualify; ad-hoc probes do not.
    *
    * Conversely a metric in the query's TOPMOST stage can over-count: a
    * downstream global `orderBy` plans a range exchange whose boundary
    * sampling re-executes the final narrow stage, flowing those rows
    * through the observe twice (seen as verified_pairs > candidate_pairs
    * on the ordered q25 at 10×). Metrics below any shuffle boundary are
    * exact (map outputs are computed once and reused); consumers wanting
    * exact top-of-plan counts should execute the op's result WITHOUT a
    * global sort, as [[graft.ScalingProbe]] does. */
  object ObservedMetrics {
    val LshBucketMetrics = "graft.lsh.buckets"
    val NearDupCandidateMetrics = "graft.neardup.candidates"
    val NearDupVerifiedMetrics = "graft.neardup.verified"
    /** [[duplicateSpans]]: `dup_grams` (distinct gram hashes at/above
      * minDf) and `dup_positions` (doc positions covered by them — the
      * window-merge input, the count that must stay ~linear in the
      * corpus). */
    val SpanMetrics = "graft.spans"
    /** [[paragraphDedupAgainstStore]]: `instances` (non-whitespace
      * paragraph instances in the batch — the probe's input size) and
      * `store_hits` (instances the store already owned — the excision
      * rate a steady-state ingest dashboard watches). Both ~linear in
      * batch bytes by construction. */
    val ParagraphMetrics = "graft.paragraphs"
  }

  /** Band-bucket skew cap shared by every LSH path (pairwise, direct
    * two-sided, indexed): buckets wider than `maxBucket` leave candidate
    * generation. One window count on the keys the join shuffles on anyway;
    * over a band_hash-bucketed scan the clustering is already satisfied,
    * so it costs a sort, not an exchange. Emits [[ObservedMetrics]] bucket
    * stats (pre-cap max width, capped row count) as free accumulator
    * aggregates on the rows already flowing. */
  private def capBandBuckets(bandsDf: DataFrame, maxBucket: Int): DataFrame =
    if (maxBucket <= 0) bandsDf
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("band_id"), col("band_hash"))
      bandsDf.withColumn("__bn", count(lit(1)).over(w))
        .observe(obsName(ObservedMetrics.LshBucketMetrics),
          max(col("__bn")).as("max_bucket_width"),
          sum(when(col("__bn") > maxBucket, 1L).otherwise(0L))
            .as("band_rows_capped"))
        .filter(col("__bn") <= maxBucket).drop("__bn")
    }

  /** First half of the MinHash-LSH sketch every near-dup path shares:
    * `(id, __sh)` over NON-EMPTY shingle sets. Docs with an empty set
    * (null text) cannot near-duplicate anything, and banding their
    * all-MaxValue signature would overflow the mod-P31 band fold (the
    * oracle emits no band rows for them — ADVICE r3). */
  private def shingleSets(df: DataFrame, id: Column, textCol: String,
                          shingleSize: Int): DataFrame =
    df.select(id, shingles(col(textCol), shingleSize).as("__sh"))
      .filter(size(col("__sh")) > 0)

  /** The landed side's shingle sets: the internal identity
    * `__ref_id = xxhash64(text)` (no id column required of the corpus,
    * deterministic under task retries, unlike a `monotonically_
    * increasing_id`), exact duplicates collapsed before banding. */
  private def refShingleSets(df: DataFrame, textCol: String,
                             shingleSize: Int): DataFrame =
    shingleSets(df, xxhash64(col(textCol)).as("__ref_id"), textCol, shingleSize)
      .dropDuplicates("__ref_id")

  /** Second half of the sketch: `(id, band_id, band_hash)` rows of a
    * shingle-set table. */
  private def bandRows(sh: DataFrame, idCol: String, numHashes: Int,
                       bands: Int): DataFrame =
    lshBands(sh.select(col(idCol),
      minHashFromShingles(col("__sh"), numHashes).as("__sig")),
      idCol, "__sig", bands)

  /** Exact shingle Jaccard, round(6) — the convention every near-dup
    * oracle replays. */
  private def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast(DoubleType)
    val union = size(array_union(a, b)).cast(DoubleType)
    round(when(union > 0, inter / union).otherwise(lit(0.0)), 6)
  }

  /** The sketch parameters `(num_hashes, bands, shingle_size)` a landed
    * near-dup index was built with, from its `<name>_meta` row — every
    * index consumer reads them here, never from its own arguments. */
  private[graft] def nearDupParams(spark: org.apache.spark.sql.SparkSession,
                                   name: String): (Int, Int, Int) = {
    val m = graft.sources.IndexCatalog.requireMeta(spark, name,
      s"no near-dup index '$name' in the session catalog — run " +
      "landNearDupIndex first")
    (m.getAs[Int]("num_hashes"), m.getAs[Int]("bands"),
      m.getAs[Int]("shingle_size"))
  }

  /** The ONE two-sided near-dup probe, run by the direct, indexed and
    * audit paths — so q74 ≡ q75, and "matches reported ⇔ rows dropped",
    * hold by construction. Incoming shingle sets band and equi-join the
    * reference's `(band_id, band_hash, __ref_id)` rows carrying band keys
    * and ids only, never shingle payloads (the r2 scale lesson); shingle
    * arrays join in for the distinct candidate pairs only; the exact
    * Jaccard verifies. Returns `(idCol, __ref_id, __jac)` at/above
    * `threshold`. `observed` emits the candidate count
    * ([[ObservedMetrics]]) on the drop paths. */
  private def nearDupMatches(incSh: DataFrame, idCol: String,
      refBands: DataFrame, refSh: DataFrame, numHashes: Int, bands: Int,
      threshold: Double, observed: Boolean): DataFrame = {
    val distinctPairs = bandRows(incSh, idCol, numHashes, bands)
      .join(refBands, Seq("band_id", "band_hash"))
      .select(col(idCol), col("__ref_id")).distinct()
    val candidates =
      if (!observed) distinctPairs
      else distinctPairs.observe(obsName(ObservedMetrics.NearDupCandidateMetrics),
        count(lit(1)).as("candidate_pairs"))
    candidates
      .join(incSh.select(col(idCol), col("__sh").as("__sh_i")), Seq(idCol))
      .join(refSh.select(col("__ref_id"), col("__sh").as("__sh_r")), Seq("__ref_id"))
      .withColumn("__jac", jaccard(col("__sh_i"), col("__sh_r")))
      .filter(col("__jac") >= threshold)
  }

  /** Drop the rows of `df` with any verified match. */
  private def dropMatched(df: DataFrame, idCol: String,
                          matches: DataFrame): DataFrame = {
    val contaminated = matches.select(col(idCol)).distinct()
      .observe(obsName(ObservedMetrics.NearDupVerifiedMetrics),
        count(lit(1)).as("verified_ids"))
    df.join(contaminated, Seq(idCol), "left_anti")
  }

  /** [[nearDupMatches]] of `df`, sketched with the index's parameters,
    * against the bucketed `_bands`/`_shingles` scans (unstaged). */
  private def indexMatches(df: DataFrame, idCol: String, textCol: String,
      name: String, threshold: Double, maxRefBucket: Int,
      observed: Boolean): DataFrame = {
    val spark = df.sparkSession
    requireIdColFree(idCol)
    val (numHashes, bands, shingleSize) = nearDupParams(spark, name)
    nearDupMatches(shingleSets(df, col(idCol), textCol, shingleSize), idCol,
      capBandBuckets(spark.table(s"${name}_bands"), maxRefBucket),
      spark.table(s"${name}_shingles"), numHashes, bands, threshold, observed)
  }

  /** The band/shingle machinery's internal column names; a user id column
    * with one of these names would resolve ambiguously deep in the plan —
    * refuse it loudly up front (ADVICE r3 convention). */
  private def requireIdColFree(idCol: String): Unit =
    require(!Set("band_id", "band_hash", "__sh", "__sh_i", "__sh_r",
        "__sig", "__ref_id").contains(idCol),
      s"idCol '$idCol' collides with an LSH-internal column — rename it first")

  /**
   * Incremental-ingest NEAR dedup: keep only the rows of `df` whose text is
   * not a near-duplicate (shingle Jaccard >= `threshold`) of ANY document
   * in `reference` (the previously-landed corpus) — [[exactDedupAgainst]]'s
   * radius-positive sibling, the "new crawl vs existing corpus" step that
   * exact digests miss (boilerplate re-renders, trailing-token edits).
   *
   * Same MinHash/LSH machinery as [[nearDuplicatePairs]], shaped for the
   * asymmetric case:
   *  - both sides band on (band_id, band_hash); the equi-join shuffles band
   *    keys + ids only, never shingle payloads (the r2 scale lesson);
   *  - the landed side gets an internal identity `xxhash64(text)` — no id
   *    column required of it, exact duplicates collapse before banding, and
   *    the id is deterministic under task retries (a `monotonically_
   *    increasing_id` would not be);
   *  - verification joins shingle arrays in for CANDIDATE ids only; with a
   *    small increment the candidate list broadcasts and the landed corpus
   *    is touched map-side;
   *  - `maxRefBucket > 0` caps landed-side bucket width (boilerplate fans),
   *    the same skew guard as [[nearDuplicatePairs]]' `maxBucket`.
   *
   * This operator recomputes the landed side's shingles and bands from raw
   * text on every call — one full corpus scan. At steady state land them
   * once with [[landNearDupIndex]] and probe with [[nearDedupAgainstIndex]],
   * which runs this same probe over bucketed scans.
   *
   * Only NULL-text rows pass through (null shingle array — they cannot
   * near-duplicate anything). Token-less non-null text (empty or
   * punctuation-only) shingles to the one-element [""] set, so all such
   * docs are mutual near-dups at Jaccard 1.0: a token-less doc in the
   * landed corpus drops every token-less incoming doc, matching the q74
   * oracle's replay of the same shingle arithmetic.
   */
  def nearDedupAgainst(df: DataFrame, idCol: String, textCol: String,
                       reference: DataFrame, refTextCol: String,
                       numHashes: Int = 64, bands: Int = 16,
                       shingleSize: Int = 3, threshold: Double = 0.7,
                       maxRefBucket: Int = 0): DataFrame = {
    requireIdColFree(idCol)
    val incSh = Snapshots.stage(shingleSets(df, col(idCol), textCol, shingleSize))
    val refSh = Snapshots.stage(refShingleSets(reference, refTextCol, shingleSize))
    val refBands = capBandBuckets(
      bandRows(refSh, "__ref_id", numHashes, bands), maxRefBucket)
    dropMatched(df, idCol, nearDupMatches(incSh, idCol,
      refBands, refSh, numHashes, bands, threshold, observed = true))
  }

  /**
   * Land the near-dup INDEX of a corpus once, so every subsequent
   * [[nearDedupAgainstIndex]] ingest skips the full-corpus shingle +
   * MinHash recompute that [[nearDedupAgainst]] pays per call — the
   * steady-state shape its scaladoc promises. Three tables:
   *
   *  - `<name>_bands` (band_id, band_hash, __ref_id), BUCKETED BY
   *    band_hash: the candidate equi-join reads a scan that already
   *    satisfies the join's clustered distribution, so the multi-TB landed
   *    side never re-shuffles — only the (small) increment exchanges;
   *  - `<name>_shingles` (__ref_id, __sh), BUCKETED BY __ref_id: the
   *    verify join pulls shingle arrays for candidate ref ids from a
   *    co-located scan;
   *  - `<name>_meta` (num_hashes, bands, shingle_size): the sketch
   *    parameters ride WITH the index and the query side reads them from
   *    here — landing with k=64 and probing with k=128 is a silent
   *    correctness hole, so the parameters are not even accepted at query
   *    time.
   *
   * Landing is land-once per session ([[graft.sources.BucketedLand]]
   * semantics, including the stale-spec guards); identical ref texts
   * collapse to one `xxhash64(text)` identity before banding.
   */
  def landNearDupIndex(reference: DataFrame, refTextCol: String, name: String,
                       numHashes: Int = 64, bands: Int = 16,
                       shingleSize: Int = 3, buckets: Int = 8,
                       path: Option[String] = None): Unit = {
    val spark = reference.sparkSession
    // meta FIRST: if landing then dies midway, a retry with different
    // parameters must hit the parameter check, not find no meta and stamp
    // its own values over tables landed with the old ones (the landOnce
    // spec guards can't catch that — bucket spec and schema are identical
    // for any k)
    graft.sources.IndexCatalog.pinMeta(spark, name, "landNearDupIndex",
      path, Seq("num_hashes" -> numHashes, "bands" -> bands,
        "shingle_size" -> shingleSize)): Unit
    val staged = Snapshots.stage(refShingleSets(reference, refTextCol, shingleSize))
    graft.sources.BucketedLand.landOnce(staged, s"${name}_shingles",
      "__ref_id", Seq("__ref_id"), buckets, path.map(p => s"${p}_shingles"))
    graft.sources.BucketedLand.landOnce(
      bandRows(staged, "__ref_id", numHashes, bands), s"${name}_bands",
      "band_hash", Seq("band_hash"), buckets, path.map(p => s"${p}_bands"))
  }

  /**
   * [[nearDedupAgainst]] against a PERSISTED index ([[landNearDupIndex]]):
   * keep only rows of `df` that near-duplicate no indexed document. The
   * landed corpus contributes two bucketed scans and zero text processing;
   * sketch parameters come from the index's meta table, so land/query
   * parameter drift cannot happen. Result is row-identical to
   * [[nearDedupAgainst]] over the same corpus and parameters.
   */
  def nearDedupAgainstIndex(df: DataFrame, idCol: String, textCol: String,
                            name: String, threshold: Double = 0.7,
                            maxRefBucket: Int = 0): DataFrame =
    dropMatched(df, idCol, indexMatches(df, idCol, textCol, name, threshold,
      maxRefBucket, observed = true))

  /**
   * The AUDIT companion of [[nearDedupAgainstIndex]]: instead of silently
   * dropping matched rows, report per matched document HOW it matched —
   * `n_matched_refs` (distinct landed documents over the threshold; the
   * index's text-keyed identity, so two landed copies of one text count
   * once) and `best_jaccard` (the strongest match, rounded 6). Documents
   * with no match emit NO row — at steady state matches are the rare
   * case and the report stays sparse. This is what a rejected-crawl
   * triage or a dedup-quality dashboard reads; the drop path stays the
   * cheap one.
   *
   * The drop path's own probe ([[nearDupMatches]]), so the ids reported
   * are exactly the ids [[nearDedupAgainstIndex]] drops; the per-doc
   * rollup is a hash agg on the doc id.
   */
  def nearDupMatchesAgainstIndex(df: DataFrame, idCol: String,
                                 textCol: String, name: String,
                                 threshold: Double = 0.7,
                                 maxRefBucket: Int = 0): DataFrame =
    indexMatches(df, idCol, textCol, name, threshold, maxRefBucket,
        observed = false)
      .groupBy(col(idCol))
      .agg(count_distinct(col("__ref_id")).as("n_matched_refs"),
        max(col("__jac")).as("best_jaccard"))

  /**
   * Fold accepted ingest rows back into a landed near-dup index
   * ([[landNearDupIndex]]), so a day-N ingest catches near-duplicates of
   * day-1 ACCEPTED documents — without this, the index only ever knows the
   * original corpus and each ingest batch is blind to every batch before
   * it (the exact failure the index exists to prevent).
   *
   * Shape: the batch's shingles + band rows (computed once, with the
   * parameters pinned in `<name>_meta` — drift is impossible by
   * construction) are APPENDED to the two bucketed tables under the landed
   * bucket spec, so the zero-shuffle probe property survives: each append
   * adds per-bucket files, and bucketed scans union files per bucket id
   * (per-bucket sort degrades to per-file, which no index consumer relies
   * on — the probe is a hash join on band keys). Only the batch is
   * processed; the landed corpus is never read or rewritten.
   *
   * Idempotent per document: rows whose `xxhash64(text)` identity is
   * already indexed are skipped (anti-join on the shingle table's id
   * column), so re-appending a batch — or appending a batch that contains
   * texts already in the corpus — adds nothing. Returns the number of new
   * documents indexed.
   */
  def appendNearDupIndex(accepted: DataFrame, textCol: String,
                         name: String): Long = {
    val spark = accepted.sparkSession
    val (numHashes, bands, shingleSize) = nearDupParams(spark, name)
    // cross-application writer lease on the index family (r15): two
    // drivers appending this name, or an append racing another driver's
    // compaction, serialize at the warehouse filesystem — the JVM-local
    // land locks cannot see a second application
    graft.sources.WriterLease.withWriterLease(spark, name) {
    // append under the EXACT landed bucket spec (saveAsTable rejects a
    // mismatch, but reading it from the catalog makes drift unrepresentable)
    val spec = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        s"${name}_shingles"))
      .bucketSpec.getOrElse(throw new IllegalStateException(
        s"appendNearDupIndex('$name'): shingle table is not bucketed"))
    // SNAPSHOT the new-doc batch with an eager localCheckpoint: the staged
    // plan anti-joins the very table the appends below write into, and an
    // insert invalidates + recomputes cached plans that reference the
    // target table — a merely-persisted frame would re-evaluate to EMPTY
    // for the second write and the count. Checkpointing truncates the
    // lineage so the batch is pinned before any table changes. (Batch-sized
    // data only — the landed corpus is never materialized here.)
    val staged = refShingleSets(accepted, textCol, shingleSize)
      .join(spark.table(s"${name}_shingles").select("__ref_id"),
        Seq("__ref_id"), "left_anti")
      .localCheckpoint()
    val n = staged.count()
    if (n > 0) {
      // bands FIRST, shingles LAST: a doc is "committed" once its shingle
      // row lands (the anti-join key). A failure between the writes leaves
      // orphan band rows whose retry re-appends bands (duplicate band rows
      // only widen the pre-DISTINCT candidate set) and then lands the
      // shingle rows — the index converges. The reverse order would make
      // the retry skip the doc with its band rows missing forever.
      // repartition to the bucket hash before each append so every append
      // adds at most numBuckets files (not numPartitions x numBuckets) —
      // a steady-state stream appends every micro-batch, and the per-batch
      // file constant is what the probe scans pay for until the next
      // [[graft.sources.BucketedLand.compactTable]]
      bandRows(staged, "__ref_id", numHashes, bands)
        .repartition(spec.numBuckets, col("band_hash"))
        .write.mode("append")
        .bucketBy(spec.numBuckets, "band_hash").sortBy("band_hash")
        .format("parquet").saveAsTable(s"${name}_bands")
      staged.repartition(spec.numBuckets, col("__ref_id"))
        .write.mode("append")
        .bucketBy(spec.numBuckets, "__ref_id").sortBy("__ref_id")
        .format("parquet").saveAsTable(s"${name}_shingles")
    }
    n
    }
  }

  /**
   * Collapse a near-dup index's accumulated append files back to one file
   * per bucket ([[graft.sources.BucketedLand.compactTable]] per table) —
   * the maintenance step a steady-state streaming ingest
   * ([[graft.streaming.StreamOps.dedupAgainstIndexBatch]]) schedules
   * between batches: appends add files every micro-batch, probes pay a
   * per-file open per bucket until compaction. Row-preserving; the meta
   * table is a single row and never needs it. Returns per-table
   * (filesBefore, filesAfter).
   */
  def compactNearDupIndex(spark: org.apache.spark.sql.SparkSession,
                          name: String): Map[String, (Long, Long)] =
    // FAMILY lease first (append/compaction cross-application exclusion),
    // then compactTable's own per-table lease nests inside — the
    // family -> table order every family helper uses (WriterLease
    // scaladoc), so the acquisition graph stays acyclic
    graft.sources.WriterLease.withWriterLease(spark, name) {
      Seq(s"${name}_shingles", s"${name}_bands").map { t =>
        t -> graft.sources.BucketedLand.compactTable(spark, t)
      }.toMap
    }

  /** Mersenne prime 2^31 - 1: the MinHash permutation modulus. Keeping every
    * operand under 2^31 makes `a*h + b` fit in 63 bits, so the identical
    * integer arithmetic runs in any engine's BIGINT (DuckDB oracle included)
    * with no overflow semantics to reconcile. */
  val P31: Long = 2147483647L

  /** Deterministic permutation parameters (a_i in [1, p-1], b_i in [0, p-1])
    * from a fixed-seed java.util.Random (spec-defined LCG — identical on any
    * JVM). The oracle SQL embeds these same values as literals. */
  def permConstants(k: Int): Array[(Long, Long)] = {
    val rng = new java.util.Random(0x5EED)
    Array.fill(k)((rng.nextInt((P31 - 1).toInt).toLong + 1L,
                   rng.nextInt(P31.toInt).toLong))
  }

  /** First 8 md5 bytes big-endian of the UTF-8 string — the engine-portable
    * 64-bit token hash (same value as DuckDB's '0x'||substr(md5(t),1,16)).
    * ONE implementation: delegates to the native-expression kernel so the
    * oracle-critical hash family can never silently diverge between the
    * sketch expressions and driver-side helpers. */
  private[ops] def md5Hash64(s: String): Long =
    org.apache.spark.sql.catalyst.expressions.graftdedup.GraftHashKernels
      .md5Hash64(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** The 64-bit hash masked to 31 bits — the MinHash shingle hash. */
  private[ops] def md5Hash31(s: String): Long = md5Hash64(s) & 0x7fffffffL

  /**
   * MinHash signature over the shingle set: `min_i (a_i*h31(s) + b_i) mod p`
   * with h31 the md5-31-bit shingle hash. Each shingle is hashed ONCE, then
   * k minima accumulate in a single compiled pass — a per-element Catalyst
   * lambda (`transform`/`array_min` k times) is interpreted, which
   * benchmarked ~100x slower at k=64. The md5 + mod-p family (instead of
   * murmur double-hashing) is deliberately engine-portable: the DuckDB
   * oracle reproduces the exact signatures, making near-dup results
   * hash-checkable rather than rows-only.
   */
  def minHashSignature(text: Column, numHashes: Int = 64, shingleSize: Int = 3): Column =
    minHashFromShingles(shingles(text, shingleSize), numHashes)

  /** MinHash signature over a pre-computed shingle-array column (lets one
    * shingling pass feed both the signature and the Jaccard verify).
    * Native codegen expression over the raw `UTF8String` bytes — a Scala
    * UDF here re-materialized every shingle as a `String` per row only to
    * take its UTF-8 bytes back for md5 (graftdedup.MinHashSigExpr). */
  def minHashFromShingles(sh: Column, numHashes: Int = 64): Column = {
    val perms = permConstants(numHashes)
    org.apache.spark.sql.catalyst.expressions.graftdedup.HashSketchExpressions
      .minhashSig(sh, perms.map(_._1).toSeq, perms.map(_._2).toSeq)
  }

  /** Banded LSH: split the signature into `bands` slices and fold each to a
    * portable band key `b := (b*31 + v) mod p` (reproducible in the oracle,
    * unlike Spark's internal `hash`); emit one (band_id, band_hash) row per
    * band via posexplode. Native codegen fold (graftdedup.LshBandKeysExpr). */
  def lshBands(df: DataFrame, idCol: String, sigCol: String, bands: Int): DataFrame = {
    val bandKeys = org.apache.spark.sql.catalyst.expressions.graftdedup
      .HashSketchExpressions.lshBandKeys(col(sigCol), bands)
    df.select(col(idCol), posexplode(bandKeys))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "band_hash")
  }

  /**
   * Candidate near-duplicate pairs (a < b) from shared LSH buckets, verified
   * with exact shingle Jaccard >= `threshold`.
   *
   * Candidate generation carries ONLY (band keys, id): the bucket self-join
   * and the distinct() shuffle two ints + an id per row. Shingle arrays join
   * in afterwards, once per side, for colliding pairs only — carrying them
   * through the band explosion (x bands) and deduplicating array payloads
   * was a 345 s scale bug in the r2 bench at a mere 5k docs.
   */
  /** `maxBucket > 0` drops LSH buckets holding more than that many docs
    * from candidate generation — the standard skew guard: a bucket of
    * boilerplate (B identical headers) produces B^2/2 candidate pairs, and
    * one hot key would otherwise dominate the join. Capped buckets are
    * boilerplate by construction, exactly the content near-dedup pipelines
    * drop via other means anyway; AQE's skew split handles the moderate
    * cases below the cap. */
  def nearDuplicatePairs(df: DataFrame, idCol: String, textCol: String,
                         numHashes: Int = 64, bands: Int = 16,
                         shingleSize: Int = 3, threshold: Double = 0.7,
                         maxBucket: Int = 0): DataFrame = {
    requireIdColFree(idCol)
    // Stage the shingling ONCE: without it the self-join sides, plus both
    // jaccard sides, each re-derive shingles from the raw text — four corpus
    // scans + tokenizations of the 100 TB table instead of one. The staged
    // (id, shingles) table is the only thing every later stage needs; at
    // cluster scale this is the classic signature-table materialization.
    val sh = Snapshots.stage(shingleSets(df, col(idCol), textCol, shingleSize))
    val bandsDf = capBandBuckets(bandRows(sh, idCol, numHashes, bands),
      maxBucket)
    val a = bandsDf.select(col("band_id"), col("band_hash"), col(idCol).as("id_a"))
    val b = bandsDf.select(col("band_id"), col("band_hash"), col(idCol).as("id_b"))
    // candidate/verified counts ride out as observe() metrics — the scale
    // adjudication data ("were candidates linear in the corpus?") costs
    // accumulator updates on rows already flowing, no extra job
    val candidates = a.join(b, Seq("band_id", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
      .observe(obsName(ObservedMetrics.NearDupCandidateMetrics),
        count(lit(1)).as("candidate_pairs"))
    jaccardForShingledPairs(sh, candidates, idCol)
      .filter(col("jaccard") >= threshold)
      .observe(obsName(ObservedMetrics.NearDupVerifiedMetrics),
        count(lit(1)).as("verified_pairs"))
  }

  /** Near-dedup: drop every doc that near-duplicates a lower-id doc (one
    * LSH round — transitive chains collapse to their local minimum, not a
    * full connected-components pass; documented approximation — see
    * [[nearDedupConnected]] for the exact component semantics). */
  def nearDedup(df: DataFrame, idCol: String, textCol: String,
                numHashes: Int = 64, bands: Int = 16,
                shingleSize: Int = 3, threshold: Double = 0.7,
                maxBucket: Int = 0): DataFrame = {
    val losers = nearDuplicatePairs(df, idCol, textCol, numHashes, bands,
      shingleSize, threshold, maxBucket)
      .select(col("id_b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /**
   * Minimum-id component label for every node of the undirected pair graph:
   * iterated min-label propagation to fixpoint. Returns (id, comp) for the
   * ids that appear in `pairs` only (isolated docs keep their own id
   * implicitly).
   *
   * Cost model: each round is one shuffle over the EDGE set (the verified
   * near-dup pairs — proportional to the duplicate count, orders of
   * magnitude smaller than the corpus) and runs until labels stop changing
   * or `maxIter` rounds, i.e. O(component diameter) rounds. Lineage is cut
   * per round with `Snapshots.truncateLineage` (reliable checkpoint when a
   * checkpoint dir is set, local otherwise) so the plan doesn't grow
   * exponentially.
   * Duplicate clusters in real corpora are shallow (boilerplate fans, not
   * long chains), so this converges in a handful of rounds; for
   * pathological chain diameters use [[connectedStars]] — identical labels
   * in O(log d) rounds.
   */
  def connectedMinLabels(pairs: DataFrame, maxIter: Int = 20): DataFrame =
    connectedMinLabelsOpt(pairs, maxIter).getOrElse {
      // silent non-convergence would return WRONG component labels (callers
      // advertise exact semantics) — fail loudly; diameter beyond maxIter
      // means pathological chains: raise maxIter or use [[connectedStars]]
      // (nearDedupConnected's "auto" mode escalates there itself)
      throw new IllegalStateException(
        s"connectedMinLabels did not reach a fixpoint in $maxIter rounds — " +
          "a near-duplicate chain is longer than maxIter; raise maxIter " +
          "or use connectedStars (O(log d) rounds)")
    }

  /** [[connectedMinLabels]] that reports non-convergence as None instead of
    * throwing — the hook "auto" escalation builds on. */
  private def connectedMinLabelsOpt(pairs: DataFrame, maxIter: Int): Option[DataFrame] = {
    // both directions once: neighbor-min is a plain groupBy over edges
    val edges = Snapshots.truncateLineage(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))))
    var labels = Snapshots.truncateLineage(
      edges.select(col("src").as("id")).distinct()
        .withColumn("comp", col("id")))
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // candidate label of a node = min over neighbors' current labels
      val nbrMin = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id")).agg(min(col("comp")).as("nbr_comp"))
      // the convergence flag rides the SAME materialization the round
      // snapshots anyway (prev comp is right there in the join) — the old
      // shape paid a second labels-join + count job per round just to
      // re-derive it
      val nextFlagged = Snapshots.truncateLineage(
        labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"),
            least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"),
            (coalesce(col("nbr_comp"), col("comp")) < col("comp")).as("__changed")))
      val changed = nextFlagged.filter(col("__changed")).limit(1).count()
      labels = nextFlagged.drop("__changed")
      converged = changed == 0
      iter += 1
    }
    if (converged) Some(labels) else None
  }

  /**
   * Alternating large-star/small-star connected components (Kiveris et al.,
   * "Connected Components in MapReduce and Beyond", SoCC 2014): same
   * (id, comp) contract as [[connectedMinLabels]], but O(log d) rounds in
   * the component diameter d instead of O(d) — the variant to reach for
   * when near-duplicate chains are pathologically long (a 2^20-node path
   * converges in ~20 star rounds vs 2^20 min-label rounds).
   *
   * Each round is two groupBy-min + join passes over the current edge set
   * (which only ever references ids, never payloads); lineage is cut per
   * round with `Snapshots.truncateLineage`. At the fixpoint the edge set is a union
   * of stars whose centers are the component minima, so the label of a
   * non-center node is its single remaining neighbor.
   */
  def connectedStars(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    val nodes = Snapshots.truncateLineage(
      pairs.select(col("id_a").as("id"))
        .union(pairs.select(col("id_b").as("id")))
        .distinct())
    var edges = Snapshots.truncateLineage(pairs
      .select(col("id_a").as("u"), col("id_b").as("v"))
      .filter(col("u") =!= col("v")).distinct())
    // convergence probe = ONE aggregation per round over the (distinct)
    // edge set: (count, sum of xxhash64(u,v) as decimal — ANSI-safe, no
    // wrap — and bit_xor of the same hashes). Two independent 64-bit
    // digests + the cardinality make a cross-round set-equality check with
    // astronomically small collision odds, replacing the r5 shape's two
    // count() jobs + exceptAll() job per round (VERDICT r6 #7).
    def checksum(e: DataFrame): (Long, Option[java.math.BigDecimal], Option[Long]) = {
      val h = xxhash64(col("u"), col("v"))
      val r = e.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0))),
        expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDecimal(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))
    }
    var prevSum = checksum(edges)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // large-star: every neighbor v > u links to m = min(N(u) + {u}).
      // Not checkpointed: `next` is, which truncates this round's lineage —
      // an eager checkpoint here would cost a third job per round.
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val minsL = sym.groupBy("u").agg(min(col("v")).as("nmin"))
        .select(col("u"), least(col("u"), col("nmin")).as("m"))
      val large = sym.join(minsL, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
      // small-star on larger->smaller oriented edges: u and every smaller
      // neighbor link to the smallest neighbor m
      val oriented = large.select(
        greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val minsS = oriented.groupBy("u").agg(min(col("v")).as("m"))
      val next = Snapshots.truncateLineage(oriented.join(minsS, "u")
        .select(explode(array(col("u"), col("v"))).as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct())
      val nextSum = checksum(next)
      converged = nextSum == prevSum
      edges = next
      prevSum = nextSum
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedStars did not reach a fixpoint in $maxIter rounds — " +
          "raise maxIter (rounds needed ~ log2 of the longest chain)")
    // star fixpoint: non-centers have exactly the center as neighbor; the
    // min() is belt-and-braces for ties mid-star
    val lbl = edges.groupBy(col("u").as("id")).agg(min(col("v")).as("comp"))
    nodes.join(lbl, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /**
   * Near-dedup with EXACT connected-component semantics: keep one doc (the
   * minimum id) per component of the near-duplicate pair graph. Differs
   * from [[nearDedup]] on components whose pairs don't all name the global
   * minimum — e.g. pairs (5,10), (3,10): one-round dedup keeps {3, 5}
   * (each is the min of its own pairs) while the component {3, 5, 10}
   * collapses to {3} here. The extra cost is the propagation loop of
   * [[connectedMinLabels]] over the pair set.
   */
  def nearDedupConnected(df: DataFrame, idCol: String, textCol: String,
                         numHashes: Int = 64, bands: Int = 16,
                         shingleSize: Int = 3, threshold: Double = 0.7,
                         maxBucket: Int = 0, maxIter: Int = 20,
                         localPairLimit: Int = 1 << 20,
                         ccAlgorithm: String = "auto"): DataFrame = {
    require(Set("auto", "minlabel", "stars")(ccAlgorithm),
      s"ccAlgorithm must be 'auto', 'minlabel' or 'stars', got '$ccAlgorithm'")
    val pairs = nearDuplicatePairs(df, idCol, textCol,
      numHashes, bands, shingleSize, threshold, maxBucket)
    // Scale-adaptive closure (the broadcast-vs-shuffle-join pattern): the
    // verified pair set is proportional to the DUPLICATE count, usually
    // orders of magnitude below the corpus — when it fits on the driver
    // (<= localPairLimit edges), a local union-find replaces the
    // multi-round distributed propagation (each round is several jobs; the
    // whole local pass is one collect). Oversized pair sets fall back to
    // [[connectedMinLabels]].
    val spark = df.sparkSession
    val idIsIntegral = df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType => true
      case _ => false
    }
    val probe: Array[org.apache.spark.sql.Row] =
      if (idIsIntegral)
        pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
          .limit(localPairLimit + 1).collect()
      else Array.empty // non-integral ids: `<` on the driver won't mirror
                       // the column ordering reliably — always distribute
    val useLocal = idIsIntegral && probe.length <= localPairLimit
    val losers: DataFrame =
      if (useLocal) {
        val parent = collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        probe.foreach { row =>
          val (a, b) = (find(row.getLong(0)), find(row.getLong(1)))
          if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
        }
        val lost = parent.keys.filter(id => find(id) != id).toSeq
        import spark.implicits._
        // broadcast: the loser list is bounded by the local pair limit
        broadcast(lost.toDF(idCol)
          .select(col(idCol).cast(df.schema(idCol).dataType)))
      } else {
        // materialize the edge set ONCE: the probe collect above already ran
        // the candidate-join + jaccard pipeline, and connectedMinLabels
        // reads its input twice (both edge directions) — without this the
        // verify pipeline would execute three times on the fallback path
        val materialized = pairs.localCheckpoint()
        // "auto" (the default): min-label converges in O(diameter) rounds —
        // a handful for the shallow boilerplate fans real corpora produce —
        // and on the pathological chains where it times out, escalate to
        // the O(log d) star rounds instead of throwing (VERDICT r5 #5);
        // both produce identical (id, comp) labels, so the escalation is
        // invisible to results
        val labels = ccAlgorithm match {
          case "stars"    => connectedStars(materialized, maxIter.max(30))
          case "minlabel" => connectedMinLabels(materialized, maxIter)
          case _ =>
            connectedMinLabelsOpt(materialized, maxIter).getOrElse(
              connectedStars(materialized, maxIter.max(30)))
        }
        labels.filter(col("comp") =!= col("id")).select(col("id").as(idCol))
      }
    df.join(losers, Seq(idCol), "left_anti")
  }

  /**
   * CANONICAL MAPPING — the provenance table a dedup pass should ship
   * with: one row `(id, canonical_id)` for every document that belongs to
   * a duplicate cluster, mapping it to the cluster's surviving minimum id
   * (canonicals map to themselves). Downstream consumers need this to
   * re-attribute citations, merge metadata, or explain "where did my doc
   * go" after [[nearDedupConnected]] dropped it — the mapping is exactly
   * the information the drop discards.
   *
   * Scale shape: [[nearDuplicatePairs]]' banded candidates +
   * verified edges (never all-pairs), then the same min-label/star
   * closure as [[nearDedupConnected]] — everything after the pair step is
   * bounded by the DUPLICATE count, not the corpus. Docs in no cluster
   * emit no row (the mapping is sparse by construction; left-join it back
   * and coalesce to the doc's own id for a total function).
   */
  def canonicalMapping(df: DataFrame, idCol: String, textCol: String,
                       numHashes: Int = 64, bands: Int = 16,
                       shingleSize: Int = 3, threshold: Double = 0.7,
                       maxBucket: Int = 0, maxIter: Int = 20,
                       localPairLimit: Int = 1 << 20): DataFrame = {
    val pairs = nearDuplicatePairs(df, idCol, textCol,
      numHashes, bands, shingleSize, threshold, maxBucket)
    // r16 opt: the same scale-adaptive closure nearDedupConnected /
    // nearDedupKeepBest already use — the verified edge set is bounded by
    // the DUPLICATE count, so when it fits on the driver a single collect
    // + local min-union-find replaces the multi-round distributed
    // min-label propagation (several jobs per round) AND makes the
    // returned mapping a broadcast local relation, so consumers that read
    // it more than once (the dedup-impact report) or join it (the
    // leakage-free split) pay no recompute and no shuffle. The (id, comp)
    // pair set is identical on both paths: min-union locally == min-label
    // closure distributed (CanonicalMappingLocalSpec pins it).
    val spark = df.sparkSession
    val idType = df.schema(idCol).dataType
    val idIsIntegral = idType match {
      case LongType | IntegerType => true
      case _ => false
    }
    val probe: Array[org.apache.spark.sql.Row] =
      if (idIsIntegral)
        pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
          .limit(localPairLimit + 1).collect()
      else Array.empty
    val useLocal = idIsIntegral && probe.length <= localPairLimit
    val labels: DataFrame =
      if (useLocal) {
        val parent = collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        val members = collection.mutable.Set.empty[Long]
        probe.foreach { row =>
          val (x, y) = (row.getLong(0), row.getLong(1))
          members += x; members += y
          val (a, b) = (find(x), find(y))
          if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
        }
        import spark.implicits._
        // broadcast: bounded by 2 * localPairLimit members
        broadcast(members.toSeq.map(id => (id, find(id))).toDF("id", "comp")
          .select(col("id").cast(idType).as("id"),
            col("comp").cast(idType).as("comp")))
      } else {
        val materialized = pairs.localCheckpoint()
        connectedMinLabelsOpt(materialized, maxIter).getOrElse(
          connectedStars(materialized, maxIter.max(30)))
      }
    labels.select(col("id").as(idCol), col("comp").as("canonical_id"))
  }

  /**
   * CLUSTER-SIZE HISTOGRAM over a [[canonicalMapping]] (or any
   * `(id, canonical)` provenance table): one row per observed duplicate
   * cluster size with the number of clusters of that size. This is the
   * one-glance answer to "what did dedup actually find" — a corpus
   * dominated by size-2 clusters is organic duplication; a single
   * size-10^6 cluster is boilerplate (or a bug in the shingle rule), and
   * the difference decides whether the drop is safe to ship.
   *
   * Shape: two chained two-phase hash aggs, both partial-aggregable
   * map-side; the first shuffles only `(canonical, count)` pairs bounded
   * by the DUPLICATE-cluster count (the mapping is sparse — docs outside
   * any cluster have no row), the second shuffles distinct sizes only.
   * Nothing here touches document bodies.
   */
  def clusterSizeHistogram(mapping: DataFrame,
                           canonicalCol: String = "canonical_id"): DataFrame =
    mapping
      .groupBy(col(canonicalCol))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))

  /**
   * Canonical-selection near-dedup: like [[nearDedupConnected]] (exact
   * component semantics over the verified near-dup graph) but the survivor
   * of each duplicate cluster is chosen by QUALITY — highest `score`,
   * ties broken by lowest id — instead of lowest id. This is the curation
   * move real pipelines want: among near-identical crawls of a page, keep
   * the longest / highest-quality capture, not whichever arrived first.
   *
   * Scale shape: identical to [[nearDedupConnected]] up through the
   * component labels (banded candidates, verified edges only, scale-adaptive
   * local-union-find vs distributed closure). The added selection runs on
   * the LABELED docs only — bounded by the duplicate count, not the corpus
   * — via one join to fetch their scores and one per-component window.
   *
   * @param score quality expression evaluated against `df`'s columns
   *              (e.g. `length(col("text"))`); must be deterministic and
   *              non-null for a total survivor order.
   */
  def nearDedupKeepBest(df: DataFrame, idCol: String, textCol: String,
                        score: Column,
                        numHashes: Int = 64, bands: Int = 16,
                        shingleSize: Int = 3, threshold: Double = 0.7,
                        maxBucket: Int = 0, maxIter: Int = 20,
                        localPairLimit: Int = 1 << 20): DataFrame = {
    val pairs = nearDuplicatePairs(df, idCol, textCol,
      numHashes, bands, shingleSize, threshold, maxBucket)
    val spark = df.sparkSession
    val idType = df.schema(idCol).dataType
    val idIsIntegral = idType match {
      case LongType | IntegerType => true
      case _ => false
    }
    val probe: Array[org.apache.spark.sql.Row] =
      if (idIsIntegral)
        pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
          .limit(localPairLimit + 1).collect()
      else Array.empty
    val useLocal = idIsIntegral && probe.length <= localPairLimit
    // (id, comp) labels for every doc that appears in a verified edge;
    // comp = the component's minimum id on both paths (min-union locally,
    // min-label closure distributed), so the two are interchangeable
    val labels: DataFrame =
      if (useLocal) {
        val parent = collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        val members = collection.mutable.Set.empty[Long]
        probe.foreach { row =>
          val (x, y) = (row.getLong(0), row.getLong(1))
          members += x; members += y
          val (a, b) = (find(x), find(y))
          if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
        }
        import spark.implicits._
        // broadcast: bounded by 2 * localPairLimit members
        broadcast(members.toSeq.map(id => (id, find(id))).toDF("id", "comp")
          .select(col("id").cast(idType).as("id"), col("comp")))
      } else {
        val materialized = pairs.localCheckpoint()
        connectedMinLabelsOpt(materialized, maxIter).getOrElse(
          connectedStars(materialized, maxIter.max(30)))
      }
    val scored = labels.join(
      df.select(col(idCol).as("id"), score.as("__sc")), Seq("id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("comp")).orderBy(col("__sc").desc, col("id"))
    val losers = scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1).select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Exact n-gram Jaccard for given id pairs — deterministic rational
    * arithmetic, DuckDB-oracle-able. `pairs` must have (id_a, id_b). */
  def jaccardForPairs(df: DataFrame, pairs: DataFrame, idCol: String,
                      textCol: String, shingleSize: Int = 3): DataFrame =
    jaccardForShingledPairs(
      df.select(col(idCol), shingles(col(textCol), shingleSize).as("__sh")),
      pairs, idCol)

  /** Jaccard over a pre-shingled (idCol, __sh) table. */
  private def jaccardForShingledPairs(sh: DataFrame, pairs: DataFrame,
                                      idCol: String): DataFrame =
    pairs
      .join(sh.select(col(idCol).as("id_a"), col("__sh").as("sh_a")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("__sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))

  /**
   * Benchmark decontamination: ids of documents sharing at least one
   * word n-gram with the probe set (e.g. an eval benchmark's questions).
   * The probe side is the SMALL side by construction — its distinct
   * shingles broadcast, and the corpus pass is a map-side semi-join at
   * scan speed; the corpus' shingle explosion never shuffles (the join key
   * arrives broadcast). Standard pre-training hygiene: drop or flag these
   * before a training run, with n high enough (13 in the wild) that chance
   * collisions vanish.
   */
  def contaminatedIds(docs: DataFrame, idCol: String, textCol: String,
                      probes: DataFrame, probeTextCol: String,
                      shingleSize: Int = 13): DataFrame = {
    val probeSh = probes
      .select(explode(shingles(col(probeTextCol), shingleSize)).as("__sh"))
      .distinct()
    docs.select(col(idCol), explode(shingles(col(textCol), shingleSize)).as("__sh"))
      .join(broadcast(probeSh), Seq("__sh"), "left_semi")
      .select(col(idCol)).distinct()
  }

  /**
   * SET-SIMILARITY JOIN with PREFIX FILTERING (the SSJoin/AllPairs move,
   * Bayardo et al. 2007): all cross-side pairs whose Jaccard similarity
   * over an array column meets `thresholdMilli/1000`, WITHOUT the
   * all-pairs cross product. The filter is the classic prefix principle:
   * order every set by GLOBAL token frequency (rarest first — the
   * canonical order that makes prefixes selective), keep each record's
   * first `n - ceil(t·n) + 1` tokens, and only pairs sharing a PREFIX
   * token can possibly reach the threshold — everything else is pruned
   * before any join. Survivors get an exact integer Jaccard verify, so
   * the result is EXACT (the filter only over-generates, never drops).
   *
   * This is the generic-array sibling of the MinHash text machinery: use
   * it on tag sets, category arrays, shingle sets — any array column —
   * when you want exact Jaccard semantics rather than LSH recall. All
   * integer arithmetic (`inter·1000 ≥ t·union`), exactly oracle-able.
   *
   * Scale shape: one global frequency agg (token keys), one rank window
   * per side (both windows of a side share one exchange on the id), a
   * candidate equi-join on prefix tokens carrying IDS ONLY, and the
   * verify join fetches the two sets for surviving candidates only. The
   * rarest-first order is what keeps prefix-token buckets small — a
   * frequency-descending order would put every record in the same
   * stopword bucket.
   */
  def setSimilarityJoin(left: DataFrame, leftId: String,
                        right: DataFrame, rightId: String,
                        setCol: String, thresholdMilli: Int): DataFrame = {
    require(thresholdMilli >= 1 && thresholdMilli <= 1000,
      s"setSimilarityJoin: thresholdMilli in [1, 1000], got $thresholdMilli")
    // ids keep their NATIVE type (string keys join/group/window exactly as
    // well as numeric ones — an earlier Long cast silently nulled-and-
    // dropped string-keyed inputs); null ids drop here explicitly — they
    // would otherwise merge into one bogus record in the window stage and
    // silently vanish in the candidate join
    val l = left.select(col(leftId).as("id_a"),
      array_distinct(col(setCol)).as("__sa"))
      .filter(col("id_a").isNotNull &&
        col("__sa").isNotNull && size(col("__sa")) > 0)
    val r = right.select(col(rightId).as("id_b"),
      array_distinct(col(setCol)).as("__sb"))
      .filter(col("id_b").isNotNull &&
        col("__sb").isNotNull && size(col("__sb")) > 0)
    val freq = l.select(explode(col("__sa")).as("__t"))
      .unionAll(r.select(explode(col("__sb")).as("__t")))
      .groupBy(col("__t")).agg(count(lit(1)).as("__f"))
    def prefixTokens(df: DataFrame, idc: String, setc: String) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(idc)).orderBy(col("__f"), col("__t"))
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy(col(idc))
      df.select(col(idc), explode(col(setc)).as("__t"))
        .join(freq, Seq("__t"))
        .withColumn("__rn", row_number().over(w))
        .withColumn("__n", count(lit(1)).over(wAll))
        // prefix length n - ceil(t*n) + 1, ceil in integer arithmetic
        .filter(col("__rn") <=
          col("__n") - expr(s"(__n * $thresholdMilli + 999) DIV 1000") + 1)
        .select(col(idc), col("__t"))
    }
    val cand = prefixTokens(l, "id_a", "__sa")
      .join(prefixTokens(r, "id_b", "__sb"), Seq("__t"))
      .select(col("id_a"), col("id_b")).distinct()
    val verified = cand.join(l, Seq("id_a")).join(r, Seq("id_b"))
      .withColumn("inter_size",
        size(array_intersect(col("__sa"), col("__sb"))).cast(LongType))
      .withColumn("union_size",
        (size(col("__sa")) + size(col("__sb"))).cast(LongType) - col("inter_size"))
      .filter(col("inter_size") * 1000 >= col("union_size") * thresholdMilli)
    verified.select(col("id_a"), col("id_b"), col("inter_size"),
      col("union_size"),
      expr("inter_size * 1000 DIV union_size").as("jaccard_milli"))
  }

  /**
   * CONTAMINATION REPORT — [[contaminatedIds]] upgraded from a boolean to
   * evidence: for every flagged document, how many of its DISTINCT word
   * n-grams hit the probe set (`n_contaminated`), out of how many
   * (`n_shingles`), with the ratio as integer ppm. A boolean can't
   * distinguish one incidental 13-gram from a wholesale benchmark paste;
   * the ppm decides drop-vs-keep and the counts are what a data audit
   * ships. Only contaminated docs emit a row (the report stays sparse at
   * corpus scale — clean docs are the overwhelming majority).
   *
   * Scale shape: identical to [[contaminatedIds]] — probe shingles
   * broadcast (the small side by construction), the corpus explosion is
   * map-side into a broadcast-hash left join, and the only shuffle is the
   * per-doc count aggregation keyed on the id. Integer floor-division ppm
   * — exactly replayable on any engine.
   */
  def contaminationReport(docs: DataFrame, idCol: String, textCol: String,
                          probes: DataFrame, probeTextCol: String,
                          shingleSize: Int = 13): DataFrame = {
    val probeSh = probes
      .select(explode(shingles(col(probeTextCol), shingleSize)).as("__sh"))
      .distinct()
      .withColumn("__hit", lit(1))
    docs
      .select(col(idCol),
        explode(array_distinct(shingles(col(textCol), shingleSize))).as("__sh"))
      .join(broadcast(probeSh), Seq("__sh"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        count(col("__hit")).as("n_contaminated"))
      .filter(col("n_contaminated") > 0)
      .withColumn("contamination_ppm",
        expr("n_contaminated * 1000000 DIV n_shingles"))
  }

  /**
   * Corpus-frequency segment dedup (the RefinedWeb / CCNet line-dedup rule):
   * drop every line whose EXACT text appears in more than `maxDocFreq`
   * distinct documents — boilerplate headers, navigation chrome, cookie
   * banners — and reassemble each document from its surviving lines in
   * order. `delimiter` is a LITERAL separator (default newline); pass " "
   * for token-level corpus stopword removal. Whitespace-only segments are
   * never blocklisted (removing blank lines would mangle layout), and the
   * split/join round-trip on a literal delimiter is exact, so an untouched
   * document reassembles byte-identically.
   *
   * 100 TB shape: the only shuffle is the frequency aggregation, and it
   * carries (8-byte xxhash64(segment), doc id) — never segment text, never
   * bodies — with partial distinct aggregation map-side. Counting and
   * membership are hash-keyed, so a 64-bit collision (expected a handful
   * at ~1e10 distinct lines, birthday bound) can over-count a rare line or
   * strip an innocent collider of blocked boilerplate — the standard
   * hash-keyed-dedup trade; `exactVerify = true` buys that tail back with
   * a second, hash-prefiltered corpus pass that recounts the blocklisted
   * segments by TEXT. Lines frequent in
   * > maxDocFreq docs are RARE by construction (they're the boilerplate
   * tail), so the blocklist collects to the driver (`maxBlocklist` guards
   * the assumption loudly) and membership runs map-side inside a native
   * codegen segment filter over each document's split array (sorted
   * blocklist as a reference object, binary-search probe): the corpus is
   * never exploded into a shuffle, never reassembled via groupBy. Adds
   * `out` (deduped text) and `n_removed` (dropped segment count).
   */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                maxDocFreq: Int, delimiter: String = "\n",
                out: String = "text_dedup",
                maxBlocklist: Int = 2000000,
                exactVerify: Boolean = false): DataFrame =
    lineDedupImpl(df, idCol, textCol, maxDocFreq, delimiter, out,
      maxBlocklist, exactVerify, hashFn = None)

  /** [[lineDedup]] with the segment hash injectable — the production hash
    * is xxhash64 (`hashFn = None`), whose 64-bit collisions cannot be
    * planted in a test; the exact-verify spec passes a deliberately weak
    * hash instead. `None` additionally unlocks the native codegen rebuild
    * (the injected-hash path keeps the interpreted lambda — it only runs
    * in tests). */
  private[graft] def lineDedupImpl(df: DataFrame, idCol: String, textCol: String,
                maxDocFreq: Int, delimiter: String,
                out: String, maxBlocklist: Int, exactVerify: Boolean,
                hashFn: Option[Column => Column]): DataFrame = {
    // maxBlocklist bounds what ships inside the membership expression
    // (~16 MB of longs at the 2e6 default — serialized once per executor
    // with the task binary); a corpus needing more ultra-frequent lines
    // than that should pre-filter its worst boilerplate first
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    require(delimiter.nonEmpty, "delimiter must be non-empty")
    val delimLit = java.util.regex.Pattern.quote(delimiter)
    val segArr = split(col(textCol), delimLit)
    val hf: Column => Column = hashFn.getOrElse(xxhash64(_))
    val X = org.apache.spark.sql.catalyst.expressions.graftdedup
      .HashSketchExpressions
    val freq = df
      .select(col(idCol), explode(segArr).as("__seg"))
      .where(trim(col("__seg")) =!= "")
      .groupBy(hf(col("__seg")).as("__lh"))
      .agg(count_distinct(col(idCol)).as("__nd"))
      .where(col("__nd") > maxDocFreq)
      .select(col("__lh"))
    val probe = freq.limit(maxBlocklist + 1).collect().map(_.getLong(0))
    if (probe.length > maxBlocklist)
      throw new IllegalStateException(
        s"lineDedup blocklist exceeds maxBlocklist=$maxBlocklist segments — " +
          "the corpus has more ultra-frequent lines than fits a broadcast " +
          "membership set; raise maxBlocklist or pre-filter the worst " +
          "boilerplate with a coarser pass")
    val blockSet = probe.toSeq
    // rebuild = segments array -> surviving segments, map-side; an empty
    // blocklist short-circuits to identity (untouched docs reassemble
    // byte-identically either way)
    val keep: Column => Column =
      if (blockSet.isEmpty) identity
      else if (!exactVerify) hashFn match {
        case None =>
          // native codegen rebuild (VERDICT r6 §wrong-3): the xxhash64
          // membership probe stays inside whole-stage codegen instead of
          // an interpreted ArrayFilter lambda; the blocklist rides sorted
          // as a reference object, probed by binary search
          arr => X.segmentsNotInHash(arr, blockSet)
        case Some(h) =>
          // injected-hash (test-only) path keeps the interpreted lambda
          arr => filter(arr, s => !h(s).isInCollection(blockSet))
      }
      else {
        // EXACT-VERIFY second pass: resolve the blocklisted HASHES back to
        // segment TEXTS with their true distinct-doc frequencies, so a rare
        // line that merely collides with blocked boilerplate keeps its
        // (low) own count and survives. The pass is hash-prefiltered
        // map-side, so the regrouped set is only true boilerplate plus the
        // collision trickle — blocklist-sized, not corpus-sized. Costs one
        // extra corpus scan and a string (not long) membership set; buys
        // removal of the documented 64-bit collision tail.
        val textProbe = df
          .select(col(idCol), explode(segArr).as("__seg"))
          .where(trim(col("__seg")) =!= "" &&
            hf(col("__seg")).isInCollection(blockSet))
          .groupBy(col("__seg"))
          .agg(count_distinct(col(idCol)).as("__nd"))
          .where(col("__nd") > maxDocFreq)
          .select(col("__seg"))
          .limit(maxBlocklist + 1).collect().map(_.getString(0))
        if (textProbe.length > maxBlocklist)
          throw new IllegalStateException(
            s"lineDedup exact-verify blocklist exceeds maxBlocklist=" +
              s"$maxBlocklist segments; raise maxBlocklist or pre-filter")
        val textSet = textProbe.toSeq
        if (textSet.isEmpty) identity
        // text membership is exact regardless of which hash prefiltered,
        // so the native rebuild serves the injected-hash path too
        else arr => X.segmentsNotInText(arr, textSet)
      }
    val segCol  = TextOps.tempName(df, "__segs")
    val keptCol = TextOps.tempName(df, "__kept")
    df.withColumn(segCol, segArr)
      .withColumn(keptCol, keep(col(segCol)))
      .withColumn(out, array_join(col(keptCol), delimiter))
      .withColumn("n_removed",
        (size(col(segCol)) - size(col(keptCol))).cast(LongType))
      .drop(segCol, keptCol)
  }

  /**
   * FIRST-OCCURRENCE paragraph dedup (the Dolma-style sub-document exact
   * dedup, complementing [[lineDedup]]'s frequency rule): every distinct
   * non-whitespace paragraph keeps exactly ONE instance corpus-wide — the
   * lexicographically smallest `(id, position)` — and every later
   * instance is excised from its document, including repeats WITHIN one
   * document. Where lineDedup drops only boilerplate frequent enough for
   * a driver blocklist, this removes ALL cross-document paragraph
   * duplication (syndicated articles, quoted reposts, mirrored sections),
   * so the winner set is corpus-sized and nothing ever collects to the
   * driver. Whitespace-only segments are never candidates (dropping blank
   * paragraphs would mangle layout), and an untouched document
   * reassembles byte-identically (its rebuild is skipped entirely).
   *
   * 100 TB shape: bodies never shuffle. The instance table carries
   * `(xxhash64(paragraph), id, position)` — 24-ish bytes/paragraph —
   * through ONE exchange on the hash into a per-hash `row_number`
   * window (ordered `(id, pos)` — rank 1 is the keeper, everything else
   * drops); the per-document drop LIST (positions only, ints) is the
   * only thing grouped to the document, then the rebuild is a map-side
   * native codegen positional filter over the original text
   * ([[org.apache.spark.sql.catalyst.expressions.graftdedup.HashSketchExpressions.dropSegmentsByIndex]]
   * — no interpreted lambda, no body regroup). Hash-keyed like exact
   * dedup's digests: a 64-bit collision (birthday-bounded at ~1e10
   * distinct paragraphs) can wrongly drop a collider — the standard
   * trade; key by a wider digest before the corpus outgrows it.
   *
   * Adds `out` (deduped text) and `n_removed` (excised paragraph count).
   */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     delimiter: String = "\n\n",
                     out: String = "text_dedup"): DataFrame = {
    require(delimiter.nonEmpty, "delimiter must be non-empty")
    val inst = paragraphInstances(df, idCol, textCol, delimiter)
    // rank instances within their paragraph: rank 1 = the keeper. A
    // window over the hash beats the earlier min-struct-agg + self-join
    // (review r10): same single exchange on para_hash, no join back
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("para_hash")).orderBy(col(idCol), col("__pos"))
    val dropInst = inst
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") > 1)
      .select(col(idCol), col("__pos"))
    excisePositions(df, idCol, textCol, delimiter, out, dropInst)
  }

  /** The paragraph-dedup family's internal column names — refuse an id
    * column that would resolve ambiguously deep in the plan (the
    * [[requireIdColFree]] convention). */
  private def requireParaIdColFree(idCol: String): Unit =
    require(!Set("para_hash", "__pos", "__seg", "__rn", "__seen",
        "src_batch").contains(idCol),
      s"idCol '$idCol' collides with a paragraph-dedup internal column — " +
        "rename it first")

  /** The paragraph-instance table shared by the dedup-family heads:
    * `(idCol, __pos, para_hash)` — hash + coordinates only, paragraph
    * text stays in the scan and never enters a shuffle. Whitespace-only
    * segments are excluded (never dedup candidates). */
  private def paragraphInstances(df: DataFrame, idCol: String,
                                 textCol: String,
                                 delimiter: String): DataFrame = {
    requireParaIdColFree(idCol)
    val delimLit = java.util.regex.Pattern.quote(delimiter)
    df.select(col(idCol),
        posexplode(split(col(textCol), delimLit)).as(Seq("__pos", "__seg")))
      .where(trim(col("__seg")) =!= "")
      .select(col(idCol), col("__pos"),
        xxhash64(col("__seg")).as("para_hash"))
  }

  /** Distinct paragraph hashes of a corpus/batch — the land/append
    * staging shared with [[paragraphInstances]]'s rule (same split, same
    * whitespace exclusion, same hash: the store's identity definition
    * lives in ONE place). */
  private def paragraphHashes(df: DataFrame, textCol: String,
                              delimiter: String): DataFrame = {
    val delimLit = java.util.regex.Pattern.quote(delimiter)
    df.select(explode(split(col(textCol), delimLit)).as("__seg"))
      .where(trim(col("__seg")) =!= "")
      .select(xxhash64(col("__seg")).as("para_hash"))
      .distinct()
  }

  /** Shared rebuild tail of the paragraph-dedup family: fold the dropped
    * instances `(idCol, __pos)` into one sorted int list per affected
    * document, then excise those positions from the original text
    * map-side through the native positional filter — the only thing
    * grouped to a document is its drop-position ints, and untouched
    * documents (no drop row) skip the rebuild entirely. */
  private def excisePositions(df: DataFrame, idCol: String, textCol: String,
                              delimiter: String, out: String,
                              dropInst: DataFrame): DataFrame = {
    val delimLit = java.util.regex.Pattern.quote(delimiter)
    val segArr = split(col(textCol), delimLit)
    val dropCol = TextOps.tempName(df, "__drop")
    val drops = dropInst
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__pos"))).as(dropCol))
    val X = org.apache.spark.sql.catalyst.expressions.graftdedup
      .HashSketchExpressions
    val segCol = TextOps.tempName(df, "__segs")
    df.join(drops, Seq(idCol), "left")
      .withColumn(segCol, segArr)
      .withColumn(out, when(col(dropCol).isNull, col(textCol))
        .otherwise(array_join(
          X.dropSegmentsByIndex(col(segCol), col(dropCol)), delimiter)))
      .withColumn("n_removed",
        coalesce(size(col(dropCol)).cast(LongType), lit(0L)))
      .drop(segCol, dropCol)
  }

  /**
   * Land the distinct-paragraph-hash STORE that makes [[paragraphDedup]]
   * incremental — the Dolma operating shape: yesterday's corpus owns its
   * paragraphs, and today's batch only needs to know WHICH hashes exist,
   * not where. The store is a bucketed table of `(para_hash: xxhash64
   * long, src_batch: long)` — ~16 B/distinct paragraph, still ~0.1% of
   * text bytes — so probes are a bucketed equi-join that never rereads
   * or reshuffles the landed corpus. `src_batch` records WHICH append
   * introduced each hash (-1 for the land): probing with `excludeBatch`
   * masks a batch's own appends, which is what makes a streaming replay
   * re-deliver byte-identical documents (see
   * [[graft.streaming.StreamOps.paragraphDedupBatch]]). The delimiter is
   * pinned in a meta table (the [[landNearDupIndex]] rule: probes accept
   * no parameter the store already owns). Idempotent per session via
   * [[graft.sources.BucketedLand.landOnce]];
   * [[graft.sources.BucketedLand.compactTable]] on `<name>_paras`
   * collapses append history.
   */
  def landParagraphStore(reference: DataFrame, refTextCol: String,
                         name: String, delimiter: String = "\n\n",
                         buckets: Int = 8,
                         path: Option[String] = None): Unit = {
    val spark = reference.sparkSession
    graft.sources.IndexCatalog.pinMeta(spark, name, "landParagraphStore",
      path, Seq("delimiter" -> delimiter)): Unit
    val hashes = paragraphHashes(reference, refTextCol, delimiter)
      .withColumn("src_batch", lit(-1L))
    graft.sources.BucketedLand.landOnce(hashes, s"${name}_paras",
      "para_hash", Seq("para_hash"), buckets, path.map(p => s"${p}_paras"))
    ()
  }

  /**
   * [[paragraphDedup]] against a landed [[landParagraphStore]]: excise
   * every paragraph the STORE already owns, and apply the first-
   * occurrence rule WITHIN the incoming batch to the rest. This is
   * ARRIVAL-ORDER first occurrence — the store wins over any batch
   * instance regardless of id values (the landed corpus arrived first),
   * and equals one-shot [[paragraphDedup]] over (landed ++ batch)
   * exactly when the landed ids sort before the batch's (the spec pins
   * that case); with interleaved ids the one-shot op would instead
   * crown the smallest id, which is NOT the incremental semantics.
   *
   * One left join of the instance table (ints only) against the
   * bucketed hash store — the store side never shuffles — then a single
   * per-hash `row_number` window ranks batch-fresh instances in the
   * same pass (store-seen instances drop outright; fresh rank > 1
   * drop), feeding the shared rebuild tail. Adds `out` + `n_removed`.
   *
   * `excludeBatch`: ignore store rows whose `src_batch` equals the
   * given id — the replay mask ([[appendParagraphStore]]'s tag): a
   * re-run of micro-batch n probes the store AS IT WAS before n's own
   * append, so its delivery is byte-identical across retries.
   */
  def paragraphDedupAgainstStore(df: DataFrame, idCol: String,
                                 textCol: String, name: String,
                                 out: String = "text_dedup",
                                 excludeBatch: Option[Long] = None): DataFrame = {
    val spark = df.sparkSession
    val delimiter = graft.sources.IndexCatalog.requireMeta(spark, name,
      s"no paragraph store '$name' in the session catalog — run " +
        "landParagraphStore first")
      .getAs[String]("delimiter")
    val inst = paragraphInstances(df, idCol, textCol, delimiter)
    val store0 = spark.table(s"${name}_paras")
    val store = excludeBatch.fold(store0)(b =>
      store0.where(col("src_batch") =!= lit(b)))
    val marked = inst.join(
        store.select(col("para_hash"), lit(true).as("__seen")),
        Seq("para_hash"), "left")
      .observe(obsName(ObservedMetrics.ParagraphMetrics),
        count(lit(1)).as("instances"),
        count(col("__seen")).as("store_hits"))
    // one pass: all instances of a hash share the same __seen (it is a
    // property of the hash), so store-owned hashes drop every instance
    // and fresh hashes drop everything past their rank-1 keeper — no
    // keeper aggregation, no self-join, no triple re-derivation of the
    // probe subtree (review r10)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("para_hash")).orderBy(col(idCol), col("__pos"))
    val dropInst = marked
      .withColumn("__rn", row_number().over(w))
      .where(col("__seen") || col("__rn") > 1)
      .select(col(idCol), col("__pos"))
    excisePositions(df, idCol, textCol, delimiter, out, dropInst)
  }

  /**
   * Fold a deduped batch's surviving paragraphs into the store — the
   * steady-state ingest move ([[graft.ops.DedupOps.appendNearDupIndex]]
   * applied to paragraph identity). `textCol` should be the DEDUPED text
   * ([[paragraphDedupAgainstStore]]'s `out` column), so only paragraphs
   * that actually shipped gain ownership. Anti-join idempotent: hashes
   * already stored append nothing, so a crashed-and-retried batch
   * converges — and because the retry's inserts carry the SAME
   * `batchId` tag, a replayed probe excluding that tag sees the store
   * exactly as the first attempt did, partial crash or not. The batch's
   * new hashes pin via `localCheckpoint` BEFORE the mutating append
   * (the append-protocol rule: inserts invalidate cached plans over the
   * target). Returns the number of new distinct paragraphs stored.
   */
  def appendParagraphStore(accepted: DataFrame, textCol: String,
                           name: String, batchId: Long = -1L): Long = {
    val spark = accepted.sparkSession
    require(spark.catalog.tableExists(s"${name}_paras"),
      s"no paragraph store '$name' in the session catalog — run " +
        "landParagraphStore first")
    val delimiter = graft.sources.IndexCatalog.requireMeta(spark, name,
      s"no paragraph store '$name' in the session catalog — run " +
        "landParagraphStore first")
      .getAs[String]("delimiter")
    // cross-application writer lease on the store family (r15; see
    // appendNearDupIndex)
    graft.sources.WriterLease.withWriterLease(spark, name) {
    val spec = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        s"${name}_paras"))
      .bucketSpec.getOrElse(throw new IllegalStateException(
        s"appendParagraphStore('$name'): store table is not bucketed"))
    val fresh = paragraphHashes(accepted, textCol, delimiter)
      .join(spark.table(s"${name}_paras"), Seq("para_hash"), "left_anti")
      .withColumn("src_batch", lit(batchId))
      .localCheckpoint()
    val n = fresh.count()
    if (n > 0) {
      fresh.repartition(spec.numBuckets, col("para_hash"))
        .write.mode("append")
        .bucketBy(spec.numBuckets, "para_hash").sortBy("para_hash")
        .format("parquet").saveAsTable(s"${name}_paras")
    }
    n
    }
  }

  /**
   * CROSS-CORPUS CONTAINMENT — the corpus-level version of the
   * decontamination question: what fraction of corpus B's distinct word
   * n-grams already appear in corpus A? The number a dataset release
   * reads before claiming "v2 adds substantially new content", and the
   * symmetric complement of [[contaminationReport]]'s per-doc view. One
   * row out: `n_shingles_a`, `n_shingles_b`, `n_shared`, and
   * `containment_ppm` = shared/B in integer parts-per-million (floor
   * division — exactly replayable).
   *
   * Shape: each corpus' shingles explode ONCE, tagged by side, and the
   * whole audit is a single two-phase hash aggregate on the shingle key
   * (membership flags via max) followed by a one-row flag-count agg — one
   * scan per corpus, one shuffle, no join, no distinct-set recompute
   * (the earlier two-distinct + semi-join form scanned each side twice).
   * Map-side partials collapse a doc's repeated shingles before the
   * exchange. This EXACT form shuffles the shingle strings; at the 1e11+
   * distinct-shingle scale run [[corpusContainmentSketch]] instead
   * (kilobytes of state, mergeable, ±2% — and keep the exact form for
   * audits of bounded slices).
   */
  def corpusContainment(a: DataFrame, aTextCol: String,
                        b: DataFrame, bTextCol: String,
                        shingleSize: Int = 3): DataFrame = {
    val sa = a.select(explode(shingles(col(aTextCol), shingleSize)).as("__sh"),
      lit(1).as("__a"), lit(0).as("__b"))
    val sb = b.select(explode(shingles(col(bTextCol), shingleSize)).as("__sh"),
      lit(0).as("__a"), lit(1).as("__b"))
    sa.unionAll(sb)
      .groupBy(col("__sh"))
      .agg(max(col("__a")).as("__ina"), max(col("__b")).as("__inb"))
      .agg(
        coalesce(sum(col("__ina")), lit(0)).cast("long").as("n_shingles_a"),
        coalesce(sum(col("__inb")), lit(0)).cast("long").as("n_shingles_b"),
        coalesce(sum(when(col("__ina") === 1 && col("__inb") === 1, 1L)
          .otherwise(0L)), lit(0L)).as("n_shared"))
      .withColumn("containment_ppm",
        when(col("n_shingles_b") > 0,
          expr("n_shared * 1000000 DIV n_shingles_b")).otherwise(0L))
  }

  /**
   * [[corpusContainment]] at sketch scale: HLL sketches of A, B, and
   * A ∪ B (Spark's own `hll_sketch_agg`/union estimate), intersection by
   * inclusion–exclusion `|A| + |B| − |A∪B|`. State is kilobytes per
   * corpus regardless of size and the per-corpus sketches are landable/
   * mergeable (the profileSegment pattern), so "containment of any slice
   * pair" answers without re-scanning either corpus. Estimates carry
   * HLL's relative error (~2% at default lgK) AND the inclusion–exclusion
   * subtraction amplifies it when the intersection is small — clamped at
   * 0; the exact form is the audit path. Spec-pinned against the exact op
   * (no portable SQL oracle: sketch internals are library-defined).
   */
  def corpusContainmentSketch(a: DataFrame, aTextCol: String,
                              b: DataFrame, bTextCol: String,
                              shingleSize: Int = 3): DataFrame = {
    val sa = a.select(explode(shingles(col(aTextCol), shingleSize)).as("__sh"))
    val sb = b.select(explode(shingles(col(bTextCol), shingleSize)).as("__sh"))
    val ska = sa.agg(expr("hll_sketch_agg(__sh)").as("__ska"))
    val skb = sb.agg(expr("hll_sketch_agg(__sh)").as("__skb"))
    ska.crossJoin(skb)
      .withColumn("est_a", expr("hll_sketch_estimate(__ska)"))
      .withColumn("est_b", expr("hll_sketch_estimate(__skb)"))
      .withColumn("est_union",
        expr("hll_sketch_estimate(hll_union(__ska, __skb))"))
      .withColumn("est_shared",
        greatest(col("est_a") + col("est_b") - col("est_union"), lit(0L)))
      .withColumn("containment_ppm",
        when(col("est_b") > 0,
          expr("est_shared * 1000000 DIV est_b")).otherwise(0L))
      .select(col("est_a"), col("est_b"), col("est_shared"),
        col("containment_ppm"))
  }

  /**
   * [[contaminatedIds]] for probe sets too large to broadcast exactly
   * (a full eval-suite union can run to 1e8+ distinct n-grams — hundreds of
   * GB as broadcast strings). Three-phase, identical results:
   *
   *  1. BUILD: a distributed bloom filter over `xxhash64(probe shingle)`
   *     via Spark's own runtime-filter aggregate; the serialized sketch
   *     (`numBits/8` bytes — ~120 MB at 1e8 items / 1% fpp) collects to the
   *     driver and ships to executors as one plan constant.
   *  2. PREFILTER: the corpus' exploded shingles pass `might_contain`
   *     map-side at scan speed — no shuffle, no false negatives; survivors
   *     are the true matches plus an fpp-sized trickle.
   *  3. VERIFY: an exact shuffle semi-join of the SURVIVORS (tiny) against
   *     the distinct probe shingles removes the false positives, so the
   *     result equals [[contaminatedIds]] exactly — approximation never
   *     reaches the answer.
   *
   * `expectedDistinctProbes <= 0` derives the sizing with one
   * `approx_count_distinct` pass over the probe side (cheap: probe-sized).
   * Sizing is clamped by `spark.sql.optimizer.runtime.bloomFilter
   * .maxNumItems` / `.maxNumBits` — raise them for 1e8-item probe sets.
   */
  def contaminatedIdsBloom(docs: DataFrame, idCol: String, textCol: String,
                           probes: DataFrame, probeTextCol: String,
                           shingleSize: Int = 13, fpp: Double = 0.01,
                           expectedDistinctProbes: Long = 0L): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1), got $fpp")
    // stage the DISTINCT probe shingles once: sizing, the bloom build, and
    // the verify semi-join all read them — unstaged, the probe corpus would
    // be tokenized + shingled three times per call (same rationale as
    // nearDuplicatePairs' staged shingle table)
    val probeSh = Snapshots.stage(probes
      .select(explode(shingles(col(probeTextCol), shingleSize)).as("__sh"))
      .distinct())
    val nEst =
      if (expectedDistinctProbes > 0) expectedDistinctProbes
      // the count materializes the stage AND is exact (it runs over the
      // staged distinct set, so approx_count_distinct buys nothing)
      else probeSh.count().max(1L)
    // optimal bits for n items at fpp: -n ln(p) / (ln 2)^2
    val numBits = math.ceil(
      -nEst.toDouble * math.log(fpp) / (math.log(2) * math.log(2))).toLong.max(64L)
    val sketchExprs = org.apache.spark.sql.catalyst.expressions.graftdedup
      .HashSketchExpressions
    val bloom = probeSh
      .select(sketchExprs.bloomAggregate(xxhash64(col("__sh")), nEst, numBits))
      .head().getAs[Array[Byte]](0)
    val candidates = docs
      .select(col(idCol), explode(shingles(col(textCol), shingleSize)).as("__sh"))
      .where(sketchExprs.bloomMightContain(bloom, xxhash64(col("__sh"))))
    candidates.join(probeSh, Seq("__sh"), "left_semi")
      .select(col(idCol)).distinct()
  }

  /**
   * STREAMING-SAFE contamination flag: adds `out` (boolean) marking rows
   * sharing a word n-gram with the probe set, via a bloom filter built
   * ONCE from the (static) probe side at query-construction time. The
   * batch ops ([[contaminatedIds]]/[[contaminatedIdsBloom]]) end in
   * `.distinct()` — stateful, so they cannot run over a stream; this is
   * the per-row STATELESS form that `readStream` pipelines drop or route
   * on at ingest rate.
   *
   * Error model is ONE-SIDED the safe way around: a truly contaminated
   * row ALWAYS flags (bloom has no false negatives); an fpp-sized trickle
   * of clean rows flags spuriously — route flagged rows to the batch
   * exact verify (the [[contaminatedIdsBloom]] semi-join) instead of
   * dropping them blind if that trickle matters. The realized rate
   * tracks `fpp` at realistic probe-set sizes (measured ~0.9% at the 1%
   * setting over 100 items); Spark's sketch sizing distorts DEGENERATE
   * single-digit-item blooms (measured ~6% regardless of bits) — an eval
   * benchmark probe set is never that small, but don't unit-test fpp
   * with one shingle.
   *
   * The per-shingle membership probe runs inside an `exists` lambda
   * (interpreted per element — fine at ingest rate; the corpus-scan paths
   * keep the native explode+join shape). Null text flags false.
   */
  def streamingContaminationFlag(docs: DataFrame, textCol: String,
                                 probes: DataFrame, probeTextCol: String,
                                 shingleSize: Int = 13, fpp: Double = 0.01,
                                 expectedDistinctProbes: Long = 0L,
                                 out: String = "maybe_contaminated"): DataFrame = {
    val bloom = buildProbeBloom(probes, probeTextCol, shingleSize, fpp,
      expectedDistinctProbes)
    val sketchExprs = org.apache.spark.sql.catalyst.expressions.graftdedup
      .HashSketchExpressions
    docs.withColumn(out,
      coalesce(
        exists(shingles(col(textCol), shingleSize),
          sh => sketchExprs.bloomMightContain(bloom, xxhash64(sh))),
        lit(false)))
  }

  /** Build the probe-shingle bloom shared by the streaming flag and (in
    * spirit) the batch bloom path: distinct shingles staged ONCE so the
    * sizing count and the aggregate don't tokenize the probes twice,
    * optimal-bits sizing, one driver-held byte array. */
  private def buildProbeBloom(probes: DataFrame, probeTextCol: String,
                              shingleSize: Int, fpp: Double,
                              expectedDistinctProbes: Long): Array[Byte] = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1), got $fpp")
    val probeSh = Snapshots.stage(probes
      .select(explode(shingles(col(probeTextCol), shingleSize)).as("__sh"))
      .distinct())
    val nEst =
      if (expectedDistinctProbes > 0) expectedDistinctProbes
      else probeSh.count().max(1L)
    val numBits = math.ceil(
      -nEst.toDouble * math.log(fpp) / (math.log(2) * math.log(2)))
      .toLong.max(64L)
    probeSh
      .select(org.apache.spark.sql.catalyst.expressions.graftdedup
        .HashSketchExpressions
        .bloomAggregate(xxhash64(col("__sh")), nEst, numBits))
      .head().getAs[Array[Byte]](0)
  }

  /** 64-bit SimHash over tokens (term-frequency weighted). Native codegen
    * expression hashing the raw `UTF8String` bytes inside the whole-stage
    * span (graftdedup.SimHash64Expr — no UDF boundary, no per-token String
    * materialization). Token hash = first 8 bytes of MD5 (stable across
    * engines/versions); null input -> null, like the former UDF. */
  def simHash64(tokens: Column): Column =
    org.apache.spark.sql.catalyst.expressions.graftdedup.HashSketchExpressions
      .simhash64(tokens)

  /** Hamming distance between two 64-bit sketches. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /**
   * Batch banded near-dup pairs over ANY 64-bit sketch column (SimHash for
   * text, dHash for images — the sketch family is the caller's): split the
   * sketch into `bands` equal bit chunks, equi-join docs sharing a
   * (band_id, chunk), verify candidates at exact Hamming ≤ `radius`.
   * Output (id_a, id_b, hamming), id_a < id_b.
   *
   * The pigeonhole guarantee covers distance ≤ bands-1 (such a pair has an
   * untouched band); radius > bands-1 pairs surface only probabilistically
   * — same contract as the streaming twin
   * [[graft.streaming.StreamOps.streamingBandedNearDedup]], whose per-band
   * chunking this reproduces bit-for-bit. Candidate generation carries
   * (band keys, id) only, `maxBucket` caps hot buckets (all-zero sketches
   * from degenerate inputs are the classic one), and candidate/verified
   * counts ride out as [[ObservedMetrics]] — the nearDuplicatePairs scale
   * shape on a 3-int shuffle payload.
   */
  def hammingNearDupPairs(df: DataFrame, idCol: String, sketchCol: String,
                          bands: Int = 4, radius: Int = -1,
                          maxBucket: Int = 0): DataFrame = {
    require(bands >= 1 && 64 % bands == 0, s"bands must divide 64, got $bands")
    requireIdColFree(idCol)
    val r = if (radius < 0) bands - 1 else radius
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1L
    val chunks = array((0 until bands).map(b =>
      shiftrightunsigned(col(sketchCol), b * width).bitwiseAND(lit(mask))): _*)
    val bandsDf = capBandBuckets(
      df.select(col(idCol), posexplode(chunks))
        .withColumnRenamed("pos", "band_id")
        .withColumnRenamed("col", "band_hash"),
      maxBucket)
    val a = bandsDf.select(col("band_id"), col("band_hash"), col(idCol).as("id_a"))
    val b = bandsDf.select(col("band_id"), col("band_hash"), col(idCol).as("id_b"))
    val candidates = a.join(b, Seq("band_id", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
      .observe(obsName(ObservedMetrics.NearDupCandidateMetrics),
        count(lit(1)).as("candidate_pairs"))
    val sk = df.select(col(idCol), col(sketchCol))
    candidates
      .join(sk.select(col(idCol).as("id_a"), col(sketchCol).as("__sk_a")), Seq("id_a"))
      .join(sk.select(col(idCol).as("id_b"), col(sketchCol).as("__sk_b")), Seq("id_b"))
      .withColumn("hamming",
        hamming64(col("__sk_a"), col("__sk_b")).cast(org.apache.spark.sql.types.LongType))
      .filter(col("hamming") <= r)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .observe(obsName(ObservedMetrics.NearDupVerifiedMetrics),
        count(lit(1)).as("verified_pairs"))
  }

  /**
   * SUBSTRING-level duplicate detection (Lee et al. 2022, "Deduplicating
   * Training Data Makes Language Models Better", arXiv:2107.06499): find,
   * per document, the maximal token spans covered by word `k`-grams that
   * occur in at least `minDf` DISTINCT documents. Document-level dedup
   * ([[nearDedup]]) misses the boilerplate CASE — licenses, navigation
   * chrome, quoted paragraphs — where 95%-unique documents still share
   * verbatim regions; this is the operator that finds those regions, with
   * character provenance so callers can surgically excise them
   * ([[stripDuplicateSpans]]).
   *
   * Semantics: tokens are the standard lowercased alphanumeric runs
   * (`tokenize_with_offsets`, so each token carries its 1-based char span
   * in the ORIGINAL text). Gram `i` (1-based) = tokens `i..i+k-1` joined
   * with single spaces; a gram is duplicated iff >= `minDf` distinct
   * documents contain it. Consecutive duplicated positions whose token
   * coverage touches (`next - prev <= k`) merge into one span covering
   * tokens `[first, last + k - 1]`. Spans within a document never overlap
   * (runs are separated by coverage gaps).
   *
   * Scale shape (the suffix-array construction of the paper is a
   * single-node algorithm; this is its shuffle-bounded re-expression):
   * gram hashes are computed map-side from the per-doc token array
   * (`xxhash64` over the joined gram — an 8-byte shuffle key, never gram
   * text), the document-frequency aggregation and the semi-join back both
   * shuffle on that hash, and the run merge is one window over
   * (doc, position). Hot grams cost nothing extra: the df-aggregation
   * collapses them to one row before the semi-join. Identity is the
   * 64-bit hash, so two different grams colliding would conflate counts —
   * at 1e12 grams P(any collision) ~ 3% and a false span needs a
   * colliding gram to ALSO sit at `minDf` docs; the same accepted trade
   * as [[lineDedup]]'s hash blocklist.
   *
   * Output: (idCol, span_id (1-based per doc, in token order), tok_start,
   * tok_end, char_start, char_end, n_dup_grams) — `substring(text,
   * char_start, char_end - char_start + 1)` is the duplicated region.
   */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 8, minDf: Int = 2): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(minDf >= 2, s"minDf must be >= 2 (1 would flag every gram), got $minDf")
    requireIdColFree(idCol)
    require(!Set("span_id", "tok_start", "tok_end", "char_start", "char_end",
        "n_dup_grams", "__toff", "__pos", "__gh", "__prev", "__new", "__run",
        "__stext", "__cuts", "__rk").contains(idCol),
      s"idCol '$idCol' collides with a duplicateSpans internal/output column — rename it first")
    val X = org.apache.spark.sql.catalyst.expressions.grafttext.TextKernelExpressions
    val toks = col("__toff").getField("toks")
    val n = size(toks)
    // the tokenized+offset corpus is read THREE times (gram document
    // frequency, the semi-join back, the char-offset join): stage it once
    // instead of re-scanning and re-tokenizing the corpus per read
    val withT = Snapshots.stage(df
      .select(col(idCol), X.tokenizeWithOffsets(col(textCol)).as("__toff"))
      .filter(n >= k))
    // native positional k-gram hash kernel (graftdedup.GramXxHashesExpr):
    // the interpreted transform/slice/array_join lambda this replaced ran
    // per position per row (the DSIR-kernel lesson)
    val grams = withT.select(col(idCol),
        posexplode(org.apache.spark.sql.catalyst.expressions.graftdedup
          .HashSketchExpressions.gramXxHashes(toks, k))
          .as(Seq("__p0", "__gh")))
      .select(col(idCol), (col("__p0") + 1).as("__pos"), col("__gh"))
    val dupGrams = grams.groupBy(col("__gh"))
      .agg(count_distinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDf)
      .select(col("__gh"))
      .observe(obsName(ObservedMetrics.SpanMetrics),
        count(lit(1)).as("dup_grams"))
    val dupPos = grams.join(dupGrams, Seq("__gh"), "left_semi")
      .select(col(idCol), col("__pos"))
      .observe(obsName(ObservedMetrics.SpanMetrics),
        count(lit(1)).as("dup_positions"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__pos"))
    val runs = dupPos
      .withColumn("__prev", lag(col("__pos"), 1).over(wOrd))
      .withColumn("__new",
        when(col("__prev").isNull || col("__pos") - col("__prev") > k, 1L)
          .otherwise(0L))
      .withColumn("__run", sum(col("__new")).over(wOrd))
    runs.groupBy(col(idCol), col("__run"))
      .agg(min(col("__pos")).as("tok_start"),
        (max(col("__pos")) + lit(k - 1)).as("tok_end"),
        count(lit(1)).as("n_dup_grams"))
      .join(withT, Seq(idCol))
      .select(col(idCol), col("__run").as("span_id"),
        col("tok_start").cast(LongType).as("tok_start"),
        col("tok_end").cast(LongType).as("tok_end"),
        element_at(col("__toff").getField("starts"), col("tok_start").cast(IntegerType))
          .cast(LongType).as("char_start"),
        element_at(col("__toff").getField("ends"), col("tok_end").cast(IntegerType))
          .cast(LongType).as("char_end"),
        col("n_dup_grams"))
  }

  /**
   * Excise duplicated spans from the corpus, keeping ONE canonical
   * occurrence of each distinct span text: the occurrence with the lowest
   * (doc id, tok_start) keeps its characters, every other occurrence of
   * that exact span text is cut, and the surviving segments re-join. Docs
   * without duplicated spans pass through byte-identical. Span detection
   * = [[duplicateSpans]] (same `k` / `minDf`).
   *
   * The keeper rule operates on the span's TEXT (not its gram run):
   * maximal spans whose full text appears only once (e.g. partial
   * overlaps extending a shared core differently) are KEPT everywhere —
   * cutting them would destroy unique context around the shared core.
   * This is deliberately more conservative than the paper's
   * remove-every-repeat; it never removes characters that exist nowhere
   * else.
   *
   * Scale: one window over xxhash64(span text) ranks occurrences
   * (shuffle = spans, not docs), cuts collect per doc (spans per doc are
   * few and bounded by text length), and the rebuild is a map-side
   * `transform` splice over the sorted cut array. Output = input columns
   * + `out` (the cleaned text; equal to `textCol` where nothing was cut).
   */
  def stripDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                          k: Int = 8, minDf: Int = 2,
                          out: String = "clean_text"): DataFrame = {
    require(!df.columns.contains(out),
      s"output column '$out' already exists — rename it first")
    val spans = duplicateSpans(df, idCol, textCol, k, minDf)
    val spanText = df.select(col(idCol), col(textCol))
      .join(spans, Seq(idCol))
      .select(col(idCol), col("tok_start"), col("char_start"), col("char_end"),
        col(textCol).substr(col("char_start").cast(IntegerType),
          (col("char_end") - col("char_start") + 1).cast(IntegerType)).as("__stext"))
    // hash first for shuffle-key size, the text second for exactness: two
    // different span texts colliding on xxhash64 alone would share one
    // rank-1 keeper, excising every occurrence of the losing text — the
    // one collision class here that destroys data (unlike the gram-hash
    // trade, which also needs minDf agreement to matter)
    val wKeep = org.apache.spark.sql.expressions.Window
      .partitionBy(xxhash64(col("__stext")), col("__stext"))
      .orderBy(col(idCol), col("tok_start"))
    val cuts = spanText
      .withColumn("__rk", row_number().over(wKeep))
      .filter(col("__rk") > 1)
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("char_start").as("cs"),
        col("char_end").as("ce")))).as("__cuts"))
    val cutsC = col("__cuts")
    val text = col(textCol)
    // splice: piece i (0-based) = chars (prevEnd, cuts[i].cs), prevEnd =
    // cuts[i-1].ce (element_at is 1-based, so that is element_at(cuts, i));
    // tail = chars after the last cut. substring() with len <= 0 is empty.
    val pieces = transform(cutsC, (c, i) => text.substr(
      when(i === 0, lit(1))
        .otherwise(element_at(cutsC, i).getField("ce") + 1).cast(IntegerType),
      (c.getField("cs") - when(i === 0, lit(1))
        .otherwise(element_at(cutsC, i).getField("ce") + 1)).cast(IntegerType)))
    val tail = text.substr(
      (element_at(cutsC, -1).getField("ce") + 1).cast(IntegerType),
      (length(text) - element_at(cutsC, -1).getField("ce")).cast(IntegerType))
    df.join(cuts, Seq(idCol), "left")
      .withColumn(out,
        when(cutsC.isNull, text)
          .otherwise(concat(concat_ws("", pieces), tail)))
      .drop("__cuts")
  }
}
