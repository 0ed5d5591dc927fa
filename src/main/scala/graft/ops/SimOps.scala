package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Similarity search over an embedding column (`array<float>`).
 *
 *  - `cosineTopK` — brute-force baseline: broadcast the (small) query set,
 *    codegen'd dot products over every row, per-query top-k. Exact; cost is
 *    one scan per query batch. Shuffle = k rows per query.
 *  - `lshCosineTopK` — the scale path: random-hyperplane signatures bucket
 *    the corpus (signsketch equi-join), so each query compares against its
 *    bucket only. Approximate; planes are seeded-deterministic.
 *
 * All arithmetic is double-precision left-to-right folds over the array —
 * the exact same fold DuckDB's list_inner_product performs, which makes the
 * brute-force path oracle-able bit-for-bit.
 */
object SimOps {

  /**
   * The derived-parameter formulas, centralized (r14 — ClampEnvelopeSpec
   * pins the arithmetic and the documented operating envelopes; the
   * DuckDB oracles embed the same expressions via OracleSqlGen /
   * SparkEntry, so these constants are load-bearing on both sides).
   *
   * [[derivedCells]] — IVF cell count: `clamp(ceil(n/128), 16, 16384)`.
   * Tracks ~128-row occupancy so two-sided candidate volume stays linear
   * in the query count. The 16384 ceiling (binds above n = 2,097,152)
   * bounds the driver-side codebook collect AND the per-row argmax cost.
   * MEASURED envelope (BENCH_SCALING_r14.json clamp section):
   * candidates/query flat at ~nProbe*128 through n = 2.05M (518 -> 525),
   * then doubling per corpus doubling past the clamp (550 at 2.2M,
   * 1,043 at 4.2M) — beyond ~2M vectors, raise the ceiling only with a
   * trained/partitioned codebook (per-row assignment is n*nCells*dim,
   * the binding cost there), or accept the linear growth. r15 did
   * exactly that for the in-memory join/dedup paths: they derive via
   * [[derivedCellsHier]] and switch to two-level assignment past
   * [[FlatAssignMaxCells]]; THIS formula remains the landed-index
   * derivation (cell count = partition-directory layout there).
   *
   * [[derivedShortlist]] — projected-rerank shortlist:
   * `clamp(ceil(n/40), 50, 4096)`. A ~2.5% corpus slice; the 4096
   * ceiling (binds above n = 163,840) bounds the exact-rerank cost.
   * MEASURED: recall@10 holds 696k-782k ppm from 120k through 800k
   * vectors (5x past the clamp, slice fraction down to 0.5%) against
   * the 250k-ppm pinned floor — safe to at least n = 800k; re-measure
   * before relying on the point past 1M.
   */
  def derivedCells(n: Long): Int =
    math.min(16384, math.max(16, math.ceil(n / 128.0).toInt))

  /** See [[derivedCells]]. */
  def derivedShortlist(n: Long): Int =
    math.max(50, math.min(4096, math.ceil(n / 40.0).toInt))

  /**
   * Flat-assignment ceiling (r15). The r15 1000x third-decade run caught
   * the cliff the [[derivedCells]] scaladoc predicted: per-row argmax
   * assignment costs nCells*dim mult-adds, so with cells deriving as n/128
   * the TOTAL assignment cost is quadratic in n — at 2M vectors
   * (nCells ~ 15.8k) the skew ivf-join leg measured 27.6x wall for 10x
   * data, with 8 MiB codebook task binaries, while candidate volume
   * stayed linear as designed. Past this cell count the in-memory
   * join/dedup paths switch to [[resolveAssigner]]'s TWO-LEVEL product
   * assignment (inverted-multi-index structure, Babenko & Lempitsky:
   * two half-dimension codebooks of ~sqrt(nCells) centroids; cell id =
   * a1*k2 + a2), dropping per-row cost to ~sqrt(nCells)*dim and the
   * codebook footprint to KBs. 4096 cells * 128 occupancy = the flat
   * path binds exactly where r14's measured envelope was flat.
   */
  val FlatAssignMaxCells = 4096

  /**
   * Cell-count derivation for the two-level-capable in-memory paths
   * ([[ivfJoinTopK]], [[semanticDedupPairs]], [[ivfTopK]]): same
   * ~128-row-occupancy formula as [[derivedCells]], but the ceiling lifts
   * to 2^20 (binds above n = 134,217,728) because two-level assignment
   * keeps the per-row cost at ~sqrt(nCells)*dim and the codebook at
   * 2*sqrt(nCells)*dim/2 doubles. Identical to [[derivedCells]] for every
   * n <= 2,097,152; the landed-index family keeps the flat formula (its
   * cell count is a partition-directory layout, bounded on purpose).
   */
  def derivedCellsHier(n: Long): Int =
    math.min(1 << 20, math.max(16, math.ceil(n / 128.0).toInt))

  /** Double-precision dot product of two array columns. Native codegen
    * expression — the `aggregate(zip_with(...))` higher-order form is
    * interpreted per element (~100x slower at embedding dims) but folds in
    * the same left-to-right double order, so results are bit-identical. */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.catalyst.expressions.graftarray.ArrayMathExpressions.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Unit-norm normalization (codegen'd one-pass kernel): normalize ONCE at
    * ingest and every downstream `dot` IS a cosine — zero-norm vectors pass
    * through unchanged. */
  def l2Normalize(v: Column): Column =
    org.apache.spark.sql.catalyst.expressions.graftarray.ArrayMathExpressions
      .l2Normalize(v)

  /** Symmetric int8 quantization at ingest: `struct(scale, q)` with
    * `q_i = floor(v_i / maxAbs * 127 + 0.5)`, `scale = maxAbs / 127` —
    * the 4×-storage-cut form a 100 TB embedding corpus lands in, with
    * per-element reconstruction error ≤ scale/2 (dequantize at use as
    * `q * scale`). Codegen'd one-pass kernel, exactly oracle-able (the
    * floor-based half-up rounding is the one rule every engine replays). */
  def quantizeInt8(v: Column): Column =
    org.apache.spark.sql.catalyst.expressions.graftarray.ArrayMathExpressions
      .int8Quantize(v)

  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = norm(a) * norm(b)
    when(n > 0, d / n).otherwise(lit(0.0))
  }

  /** [[cosine]] with the norms PRE-FACTORED out of the pair loop: callers
    * compute `norm(v)` ONCE per row on each side BEFORE the join/cross and
    * pass the dot plus both norms here. Bit-identical to [[cosine]] — the
    * same dot fold, the same sqrt over the same self-dot, the same product
    * and zero-guard — but the per-PAIR arithmetic drops from three
    * dim-length dots (+2 sqrt) to one: at a candidate stage of C pairs over
    * corpus/query sides of n/q rows, norm work falls from 2C dots to n+q
    * (a ~3x cut of the scoring stage's mult-adds, the guide §2.3 "don't
    * recompute what a row already knows" shape). */
  private[graft] def cosinePre(a: Column, b: Column, na: Column,
                               nb: Column): Column = {
    val d = dot(a, b)
    val n = na * nb
    when(n > 0, d / n).otherwise(lit(0.0))
  }

  /**
   * Exact top-k cosine neighbors for each query row. `queries` should be
   * small (it is broadcast); ties break by neighbor id ascending. Self-match
   * excluded.
   */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int = 5): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn")))
    val scored = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
        norm(col(vecCol)).as("__cn"))
      .crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim", round(cosinePre(col("__qv"), col("__cv"),
        col("__qn"), col("__cn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
  }

  /**
   * Exact cosine top-k over a PRE-SHORTLISTED candidate set — the rerank
   * half of the project/quantize -> shortlist -> rerank ANN serving
   * pattern: the cheap space proposes candidates, the original space
   * disposes. `cands` carries (query_id, neighbor_id) ids only; vectors
   * join back by id (the nearDuplicatePairs rule), queries broadcast.
   * Same ranking contract as [[cosineTopK]] (rounded cosine desc, ties by
   * neighbor id), so recall of shortlist->rerank against brute force
   * measures the SHORTLIST's quality alone (q179's contract).
   */
  def rerankTopK(cands: DataFrame, corpus: DataFrame, queries: DataFrame,
                 idCol: String, vecCol: String, k: Int = 5): DataFrame = {
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"))
    val qv = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn")))
    // distinct: a proposer that emits the same (query, neighbor) pair
    // twice (multi-probe IVF, overlapping LSH bands) must not let the
    // duplicate occupy two of the k slots and crowd out a real neighbor
    val scored = cands.select(col("query_id"), col("neighbor_id")).distinct()
      .join(qv, "query_id").join(cv, "neighbor_id")
      .withColumn("cos_sim", round(cosinePre(col("__qv"), col("__cv"),
        col("__qn"), col("__cn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
  }

  /**
   * [[cosineTopK]] over the INT8-QUANTIZED corpus: cosines are computed on
   * the quantization codes directly — the symmetric per-vector scale
   * cancels in the cosine ratio, so no dequantization multiply is needed
   * and the integer dot products (≤ dim · 127² — exact in doubles at any
   * summation order) make the result exactly oracle-able. Scores differ
   * from full-precision cosines only by the int8 resolution (drift < 0.02
   * on random vectors, pinned in ExpressionSpec); ordering is over the
   * quantized scores, ties by neighbor id. In production the corpus side
   * is LANDED quantized once ([[quantizeInt8]] at ingest) and this scan
   * touches a quarter of the float32 bytes; here both sides quantize
   * inline for a self-contained contract.
   */
  def cosineTopKQuantized(corpus: DataFrame, queries: DataFrame, idCol: String,
                          vecCol: String, k: Int = 5): DataFrame = {
    def codes(c: Column) =
      quantizeInt8(c).getField("q").cast(ArrayType(DoubleType))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      codes(col(vecCol)).as("__qv")).withColumn("__qn", norm(col("__qv"))))
    val scored = corpus.select(col(idCol).as("neighbor_id"), codes(col(vecCol)).as("__cv"))
      .withColumn("__cn", norm(col("__cv")))
      .crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim", round(cosinePre(col("__qv"), col("__cv"),
        col("__qn"), col("__cn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
  }

  /** Deterministic random hyperplanes (Gaussian, fixed seed): `nPlanes` x
    * `dim`. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(nPlanes)(Array.fill(dim)(rng.nextGaussian()))
  }

  /** Deterministic Gaussian random-projection matrix (`outDim` x `dim`,
    * same seeded family as [[hyperplanes]]), rows PRE-SCALED by
    * `1/sqrt(outDim)` — the Johnson–Lindenstrauss normalization that keeps
    * expected norms (and with them dot products / cosines) approximately
    * invariant, baked into the row values so no post-fold multiply exists
    * to diverge between engines. */
  def projectionMatrix(outDim: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    require(outDim >= 1, s"outDim must be >= 1, got $outDim")
    val s = 1.0 / math.sqrt(outDim.toDouble)
    hyperplanes(outDim, dim, seed).map(_.map(_ * s))
  }

  /**
   * Random-projection dimensionality REDUCTION at ingest (JL transform):
   * `array<double>` of `matrix.length` elements, element j the
   * left-to-right dot fold of the vector with row j — a 64→16 reduction
   * cuts every downstream ANN/near-dup scan and shuffle to a quarter of
   * the bytes while approximately preserving cosines (distortion bound by
   * the JL lemma; recall pinned in SimSearchSpec). Native one-pass codegen
   * kernel; the matrix rides as a reference object. Land the projected
   * column once and query it many times — the same ingest-time shape as
   * [[l2Normalize]] / [[quantizeInt8]].
   */
  def randomProject(v: Column, matrix: Array[Array[Double]]): Column =
    org.apache.spark.sql.catalyst.expressions.graftarray.ArrayMathExpressions
      .matProject(v, matrix.toSeq)

  /** Sign-sketch bucket id: bit b = sign(v . plane_b). Native single-pass
    * expression; the planes ride as a codegen reference object instead of
    * per-plane literal arrays (at 48 planes x 1k dims the literal form was
    * megabytes of generated code — VERDICT r5 #6). Bit j accumulation and
    * the left-to-right double dot fold are unchanged, so bucket values are
    * bit-identical to the historical literal form (q30/q40 oracles). */
  def signSketch(vec: Column, planes: Array[Array[Double]]): Column =
    element_at(bandedSignSketch(vec, Seq(planes)), 1)

  /** One sketch per band in a single pass over the vector: `array<long>`,
    * element b = band-b bucket. Band 0 with the base seed reproduces
    * [[signSketch]] exactly. */
  def bandedSignSketch(vec: Column, planeSets: Seq[Array[Array[Double]]]): Column =
    org.apache.spark.sql.catalyst.expressions.graftarray.ArrayMathExpressions
      .bandedSignSketch(vec, planeSets)

  /**
   * Embedding-cosine near-duplicate pairs (a < b): random-hyperplane LSH
   * buckets the corpus, pairs form only within a bucket, and survive when
   * cosine >= `threshold`. The self-join key is the long sketch — at 1e9
   * rows this is a hash join on 8-byte keys carrying the vectors only for
   * colliding rows, the same candidates-first shape as MinHash near-dup.
   *
   * Scale knobs (the bucket self-join is quadratic in bucket OCCUPANCY, so
   * all three matter at corpus scale — VERDICT r3/r5):
   *  - `nPlanes`: 2^nPlanes buckets PER BAND. Default 8 preserves the
   *    recall long-standing callers rely on (a pair must agree on every
   *    sign bit within a band, so more planes = fewer candidates); it is
   *    only safe on small corpora. At corpus scale pass `nPlanes <= 0` to
   *    derive log2(count) + 6 from the corpus (one count() job) — 8 planes
   *    put ~4e6 rows per bucket at 1e9 rows, ~1e13 candidate pairs/bucket.
   *  - `bands`: independent hyperplane sets; candidates are the UNION of
   *    per-band bucket collisions (exactly `DedupOps.nearDuplicatePairs`'
   *    banding applied to sign-LSH). This is what reconciles recall with
   *    bounded candidate volume at corpus scale: a single band at the
   *    derived ~36 planes recovers only (1-θ/π)^36 ≈ 2% of cos-0.95 pairs,
   *    while b bands of r planes recover 1-(1-(1-θ/π)^r)^b — e.g. 8 bands
   *    x 12 planes ≈ 93% at the same per-band bucket occupancy guarantees
   *    (VERDICT r5 #1). Default 1 keeps the historical single-band
   *    behavior (and the q40 oracle) bit-exact; band b's planes derive
   *    from `seed + b`.
   *  - `maxBucket`: drop (band, bucket) cells holding more than this many
   *    vectors from candidate generation (0 = uncapped). Hot buckets are
   *    embedding-space boilerplate (zero vectors, templated content) —
   *    same skew guard as `DedupOps.nearDuplicatePairs`.
   */
  def embeddingNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                            threshold: Double = 0.95, nPlanes: Int = 8,
                            seed: Long = 42L, maxBucket: Int = 0,
                            bands: Int = 1): DataFrame = {
    require(bands >= 1, s"bands must be >= 1, got $bands")
    val dim = corpus.select(size(col(vecCol))).first().getInt(0)
    val r = resolvePlanes(nPlanes, corpus)
    // band 0 uses the base seed, so bands = 1 reproduces the historical
    // single-band buckets bit-for-bit (the q40 oracle embeds those planes)
    val planeSets = (0 until bands).map(b => hyperplanes(r, dim, seed + b))
    val vecs = corpus.select(col(idCol), col(vecCol))
    // candidate generation carries ONLY (band, bucket, id): one sketch pass
    // computes every band, posexplode fans each row into `bands` bucket
    // rows, and the self-join shuffles two longs + an id — the vectors join
    // back AFTER the distinct, once per side, for colliding pairs only
    // (the nearDuplicatePairs shape; carrying vectors through a x-bands
    // explosion was the r2 MinHash scale bug)
    val bandRows = vecs
      .select(col(idCol), posexplode(bandedSignSketch(col(vecCol), planeSets))
        .as(Seq("__band", "__bucket")))
    val capped =
      if (maxBucket <= 0) bandRows
      else {
        // per-(band, bucket) occupancy cap — same keys the join shuffles on
        val w = Window.partitionBy(col("__band"), col("__bucket"))
        bandRows.withColumn("__bn", count(lit(1)).over(w))
          .filter(col("__bn") <= maxBucket).drop("__bn")
      }
    val a = capped.select(col("__band"), col("__bucket"), col(idCol).as("id_a"))
    val b = capped.select(col("__band"), col("__bucket"), col(idCol).as("id_b"))
    val candidates = a.join(b, Seq("__band", "__bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct() // a pair colliding in k bands must verify once, not k times
    candidates
      .join(vecs.select(col(idCol).as("id_a"), col(vecCol).as("__va"),
        norm(col(vecCol)).as("__na")), "id_a")
      .join(vecs.select(col(idCol).as("id_b"), col(vecCol).as("__vb"),
        norm(col(vecCol)).as("__nb")), "id_b")
      .withColumn("cos_sim", round(cosinePre(col("__va"), col("__vb"),
        col("__na"), col("__nb")), 6))
      .filter(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }

  /** nPlanes <= 0 -> derive from the corpus size: log2(count) + 6 planes
    * targets ~1/64 expected occupancy per bucket (sign bits are roughly
    * balanced for centered embeddings), clamped to [8, 48]. */
  private def resolvePlanes(nPlanes: Int, corpus: DataFrame): Int =
    if (nPlanes > 0) nPlanes
    else {
      val n = corpus.count()
      val log2 = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n))
      math.min(48, math.max(8, log2.toInt + 6))
    }

  /** Embedding near-dedup: drop rows whose vector near-duplicates a
    * lower-id row (one LSH round, like DedupOps.nearDedup). */
  def embeddingNearDedup(corpus: DataFrame, idCol: String, vecCol: String,
                         threshold: Double = 0.95, nPlanes: Int = 8,
                         seed: Long = 42L, maxBucket: Int = 0,
                         bands: Int = 1): DataFrame = {
    val losers = embeddingNearDupPairs(corpus, idCol, vecCol, threshold,
        nPlanes, seed, maxBucket, bands)
      .select(col("id_b").as(idCol)).distinct()
    corpus.join(losers, Seq(idCol), "left_anti")
  }

  /**
   * IVF-style approximate top-k: a coarse quantizer assigns every corpus
   * vector to its nearest-centroid cell; a query probes only its `nProbe`
   * nearest cells and ranks candidates inside them.
   *
   * The default codebook is the deterministic "seed sample" variant (the
   * `nCells` lowest-id corpus vectors — no Lloyd refinement), which keeps
   * the whole operator exactly reproducible (the q42 oracle); pass
   * `trainCodebook = true` for the maximin-seeded sampled-Lloyd codebook
   * ([[trainIvfCodebook]]) — same determinism, much better recall on
   * clustered corpora. Either way the codebook is KB-scale and rides into
   * the native assignment expression as a codegen reference object, so
   * cell assignment runs map-side inside whole-stage codegen — at 1e9 rows
   * the corpus pass shuffles only (cell, id) pairs and the candidate join
   * is an equi-join on the cell id, the same candidates-first shape as
   * LSH. Ties (equal cosine) resolve to the lowest centroid id in both the
   * native argmax (first max) and the oracle's `ORDER BY score DESC,
   * cent_id`.
   */
  /** Bounded codebook shared by [[ivfTopK]] / [[landAnnIndex]] /
    * [[semanticDedupPairs]]: the nCells LOWEST-ID corpus vectors
    * (orderBy+limit, not `id < nCells` — sparse or offset id spaces would
    * silently shrink a predicate-based codebook; ADVICE r3), or the
    * maximin + Lloyd codebook with `trainCodebook = true` (deterministic;
    * better recall on clustered corpora — VERDICT r4 #2). */
  private def resolveCodebook(corpus: DataFrame, idCol: String, vecCol: String,
                              nCells: Int, trainCodebook: Boolean,
                              lloydIters: Int, trainSample: Int,
                              caller: String): Array[(Long, Array[Double])] = {
    val cents: Array[(Long, Array[Double])] =
      if (trainCodebook)
        trainIvfCodebook(corpus, idCol, vecCol, nCells, lloydIters, trainSample)
      else
        corpus.orderBy(col(idCol)).limit(nCells)
          .select(col(idCol).cast(LongType), col(vecCol)).collect()
          .map(r => (r.getLong(0), rowVec(r, 1))).sortBy(_._1)
    require(cents.nonEmpty, s"$caller: empty corpus — cannot build a codebook")
    cents
  }

  /** Row array element -> Array[Double] (float corpora widen). */
  private def rowVec(r: org.apache.spark.sql.Row, i: Int): Array[Double] =
    r.getSeq[Any](i).map {
      case f: java.lang.Float  => f.toDouble
      case d: java.lang.Double => d.doubleValue()
      case n: Number           => n.doubleValue()
    }.toArray

  /** Map-side cell machinery resolved once per operator call: `assign` is
    * the per-row cell column, `probes(vec, nProbe)` the ranked probe-cell
    * array column. */
  private final case class CellAssigner(assign: Column => Column,
                                        probes: (Column, Int) => Column)

  /**
   * Flat vs two-level cell assignment (r15, the 1000x-decade fix — see
   * [[FlatAssignMaxCells]]).
   *
   * `kCells <= FlatAssignMaxCells`: the historical flat path, bit-identical
   * to r14 — one codebook via [[resolveCodebook]], native argmax
   * ([[org.apache.spark.sql.catalyst.expressions.graftarray
   * .ArrayMathExpressions.ivfCell]]) and multi-probe kernel.
   *
   * Above it: TWO-LEVEL PRODUCT assignment. The vector splits into its
   * first `ceil(dim/2)` and remaining components; each half gets its own
   * codebook of `k1 = ceil(sqrt(kCells))` / `k2 = ceil(kCells/k1)`
   * centroids built by the SAME [[resolveCodebook]] rule on the sliced
   * column (lowest-id half-vectors, or maximin+Lloyd with
   * `trainCodebook`), and the composed cell id is `a1*k2 + a2` — the
   * existing native argmax runs twice over half-dim codebooks, so per-row
   * cost is `(k1+k2)*dim/2 ~ sqrt(kCells)*dim` and both codebooks
   * together are KBs where the flat codebook at 15.8k cells was 8 MiB of
   * task binary. Probing composes the per-half multi-probe kernels: the
   * top `p1 = ceil(sqrt(nProbe))` half-1 cells cross the top
   * `p2 = ceil(nProbe/p1)` half-2 cells in (rank1, rank2) lexicographic
   * order, sliced to exactly `nProbe` composed cells — a deterministic
   * approximation of additive-distance multi-sequence probing (candidate
   * volume per query is identical to the flat path's nProbe cells; the
   * 1000x skew leg measures the recall/volume behavior). Null vector
   * elements propagate to a null cell exactly as the flat path. Occupancy
   * of the product grid is less even than a trained flat codebook's —
   * `maxCell` and AQE's skew split remain the tail guards, measured by
   * the same observe metrics.
   *
   * The DuckDB oracles replay the FLAT path only; every oracle-checked
   * scale sits far below the threshold (driver SFs: n <= 2000). The
   * two-level path is pinned by HierAssignSpec (forced via explicit
   * nCells > FlatAssignMaxCells on a small corpus) and measured by the
   * BENCH_SCALING 1000x legs.
   */
  private def resolveAssigner(corpus: DataFrame, idCol: String,
                              vecCol: String, kCells: Int,
                              trainCodebook: Boolean, lloydIters: Int,
                              trainSample: Int, caller: String): CellAssigner = {
    val A = org.apache.spark.sql.catalyst.expressions.graftarray.ArrayMathExpressions
    if (kCells <= FlatAssignMaxCells) {
      val cents = resolveCodebook(corpus, idCol, vecCol, kCells,
        trainCodebook, lloydIters, trainSample, caller)
      CellAssigner(
        v => A.ivfCell(v, cents.toSeq),
        (v, nProbe) => A.ivfCells(v, cents.toSeq, nProbe))
    } else {
      val dim = corpus.select(size(col(vecCol))).first().getInt(0)
      require(dim >= 2,
        s"$caller: two-level assignment needs dim >= 2, got $dim")
      val h1 = (dim + 1) / 2
      val h2 = dim - h1
      val k1 = math.ceil(math.sqrt(kCells.toDouble)).toInt
      val k2 = math.ceil(kCells.toDouble / k1).toInt
      // half codebooks renumber to positions 0..k-1: the composed id is
      // positional arithmetic, not a corpus-id namespace
      def halfCodebook(from: Int, len: Int, k: Int): Seq[(Long, Array[Double])] = {
        val sliced = corpus.select(col(idCol),
          slice(col(vecCol), from, len).as(vecCol))
        resolveCodebook(sliced, idCol, vecCol, k, trainCodebook, lloydIters,
          trainSample, s"$caller(two-level)")
          .zipWithIndex.map { case ((_, c), i) => (i.toLong, c) }.toSeq
      }
      val cb1 = halfCodebook(1, h1, k1)
      val cb2 = halfCodebook(h1 + 1, h2, k2)
      def sliceA(v: Column) = slice(v, 1, h1)
      def sliceB(v: Column) = slice(v, h1 + 1, h2)
      CellAssigner(
        v => A.ivfCell(sliceA(v), cb1) * lit(k2.toLong) +
          A.ivfCell(sliceB(v), cb2),
        (v, nProbe) => {
          val p1 = math.ceil(math.sqrt(nProbe.toDouble)).toInt
          val p2 = math.ceil(nProbe.toDouble / p1).toInt
          // p1*p2 composed cells in (rank1, rank2) order; the lambda is
          // interpreted per element but runs over ~nProbe values per row,
          // not the codebook — negligible next to the half-dim argmaxes
          val composed = flatten(transform(A.ivfCells(sliceA(v), cb1, p1),
            x => transform(A.ivfCells(sliceB(v), cb2, p2),
              y => x * lit(k2.toLong) + y)))
          slice(composed, 1, nProbe)
        })
    }
  }

  /**
   * Deterministic sampled k-means codebook (VERDICT r4 #2 / r5 #2): a
   * hash-ordered sample of `trainSample` vectors collects to the driver
   * (bounded: trainSample x dim doubles, KB-MB scale), maximin-cosine
   * farthest-point seeding picks `nCells` well-spread initial centroids
   * (the k-means||-style remedy for the seed-sample codebook's blindness
   * to cluster structure), then `lloydIters` rounds of spherical Lloyd
   * refine them: each sample point goes to its argmax-cosine centroid
   * (first max on ties), each centroid becomes the elementwise mean of its
   * members (cosine is scale-invariant, so no renormalization needed);
   * empty cells keep their previous centroid. Fully order-deterministic:
   * the sample is xxhash64(id)-ordered and every tie resolves to the first
   * candidate. Cell ids are 0..nCells-1 (trained centroids are synthetic
   * points, not corpus rows).
   */
  def trainIvfCodebook(corpus: DataFrame, idCol: String, vecCol: String,
                       nCells: Int, lloydIters: Int = 5,
                       trainSample: Int = 4096): Array[(Long, Array[Double])] = {
    val sample: Array[Array[Double]] = corpus
      .select(col(vecCol), col(idCol))
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(math.max(trainSample, nCells))
      .collect().map(rowVec(_, 0))
    require(sample.nonEmpty, "trainIvfCodebook: empty corpus")
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      val nrm = math.sqrt(na) * math.sqrt(nb)
      if (nrm > 0) d / nrm else 0.0
    }
    val k = math.min(nCells, sample.length)
    val centroids = scala.collection.mutable.ArrayBuffer(sample(0))
    while (centroids.length < k) {
      // next seed = the point LEAST similar to its most-similar chosen
      // centroid (maximin); first such point on ties
      var bestIdx = 0
      var bestVal = Double.PositiveInfinity
      var i = 0
      while (i < sample.length) {
        var nearest = Double.NegativeInfinity
        centroids.foreach { c =>
          val s = cos(sample(i), c)
          if (s > nearest) nearest = s
        }
        if (nearest < bestVal) { bestVal = nearest; bestIdx = i }
        i += 1
      }
      centroids += sample(bestIdx)
    }
    var cents = centroids.toArray
    for (_ <- 1 to lloydIters) {
      val dim = sample(0).length
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      sample.foreach { p =>
        var best = 0
        var bestScore = Double.NegativeInfinity
        var c = 0
        while (c < k) {
          val s = cos(p, cents(c))
          if (s > bestScore) { best = c; bestScore = s }
          c += 1
        }
        val dst = sums(best)
        var i = 0
        val m = math.min(p.length, dim)
        while (i < m) { dst(i) += p(i); i += 1 }
        counts(best) += 1
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old else sums(c).map(_ / counts(c))
      }
    }
    cents.zipWithIndex.map { case (c, i) => (i.toLong, c) }
  }

  /**
   * DISTRIBUTED integer-exact Lloyd k-means over the FULL corpus — the
   * scale sibling of [[trainIvfCodebook]] (which trains on a bounded
   * driver sample): every iteration is one corpus-wide assignment map plus
   * one `(cluster, dim)`-keyed aggregation, so it trains on 10^9 vectors
   * with per-iteration shuffle bounded by `k x dim` rows, never by corpus
   * size. Returns the final `(vec_id, cluster_id)` assignment under the
   * trained centroids.
   *
   * Engine-portable determinism (the fixed-point PageRank rule applied to
   * k-means): vectors quantize to INTEGER-VALUED doubles
   * (`floor(x*scale + 0.5)` — exact in IEEE doubles up to 2^53, so sums
   * and products are exact integers and no summation order can drift),
   * distances are exact integers (`q.q - 2 q.c + c.c` via the native
   * codegen dot), argmin ties break to the lowest centroid id, and the
   * centroid update is `floor(sum/count)` per dimension — every step
   * replayable bit-for-bit by any engine, which is what makes the whole
   * iterative algorithm DuckDB-oracle-able. Init: the quantized vectors
   * of the `k` smallest ids (deterministic, sample-free); empty clusters
   * keep their previous centroid.
   *
   * Driver state per iteration: `k x dim` longs (the codebook pattern —
   * bounded by parameters, not data). The assignment expression compiles
   * the centroids as literals into whole-stage codegen.
   */
  def kmeansAssignInt(corpus: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int, scale: Int = 1000): DataFrame =
    kmeansAssignCore(corpus, idCol, vecCol, k, iters, scale,
      withDist = false)

  /** [[kmeansAssignInt]] plus the exact integer distance to the final
    * centroid (`dist` LONG) — the prototypicality signal
    * [[prototypeSelect]] ranks on. Same recurrence, same ties. */
  private def kmeansAssignCore(corpus: DataFrame, idCol: String,
                               vecCol: String, k: Int, iters: Int,
                               scale: Int, withDist: Boolean): DataFrame = {
    require(k >= 1, s"kmeansAssignInt: k must be >= 1, got $k")
    require(iters >= 0, s"kmeansAssignInt: iters must be >= 0, got $iters")
    require(scale >= 1 && scale <= 1000000,
      s"kmeansAssignInt: scale must be in [1, 1e6], got $scale")
    val q = Snapshots.stage(corpus
      .select(col(idCol).cast(LongType).as("vec_id"),
        intQuantCol(vecCol, scale).as("__q"))
      .filter(col("vec_id").isNotNull && col("__q").isNotNull))
    val maxAbs = intExactGuard(q, "__q", "kmeansAssignInt", scale)
    val cents = trainIntCentroids(q, "__q", k, iters, maxAbs,
      "kmeansAssignInt")
    val qd = q.withColumn("__da", intDistArr(col("__q"), cents))
    if (withDist)
      qd.select(col("vec_id"),
        argminCell(col("__da")).as("cluster_id"),
        array_min(col("__da")).cast(LongType).as("dist"))
    else qd.select(col("vec_id"),
      argminCell(col("__da")).as("cluster_id"))
  }

  /** `floor(x*scale + 0.5)` quantization to integer-valued doubles — the
    * engine-portable exactness trick every integer-Lloyd consumer shares.
    * Spark's floor(double) yields LONG; cast back — the values are the
    * same exact integers either way, doubles keep the native dot
    * applicable. r15 opt: native codegen expression instead of the
    * interpreted `transform` lambda (HOFs run per-element on the
    * interpreted path and break the surrounding whole-stage span); the
    * double→long→double chain is reproduced bit-for-bit. */
  private def intQuantCol(vecCol: String, scale: Int): Column =
    org.apache.spark.sql.catalyst.expressions.graftarray.ArrayMathExpressions
      .intQuantizeVec(col(vecCol).cast(ArrayType(DoubleType)), scale)

  /** Exactness guard: "bit-exact integer arithmetic in doubles" only
    * holds while every intermediate stays below 2^53. The largest dot
    * intermediate is bounded by maxAbs^2 * dim (q.q); check it from one
    * small agg on the already-staged quantized frame instead of
    * silently degrading to inexact doubles on large |x|*scale or dim.
    * Returns maxAbs for the per-cluster sum bound. */
  private def intExactGuard(q: DataFrame, qCol: String, caller: String,
                            scale: Int): Double =
    intExactGuardDims(q, qCol, caller, scale)._1

  /** [[intExactGuard]] plus dim uniformity (min(size) == max(size)) from
    * the SAME single agg job — the r16 top-M maximin needs it and a
    * second head() per training would defeat the job-count point. */
  private def intExactGuardDims(q: DataFrame, qCol: String, caller: String,
                                scale: Int): (Double, Boolean) = {
    val g = q.select(
      max(array_max(transform(col(qCol), x => abs(x)))).as("__m"),
      max(size(col(qCol))).as("__d"),
      min(size(col(qCol))).as("__dmin")).head()
    require(!g.isNullAt(0), s"$caller: empty corpus")
    val maxAbs = g.getDouble(0)
    val maxDim = g.getInt(1)
    require(maxAbs * maxAbs * maxDim < math.pow(2, 53),
      s"$caller: max|quantized value|^2 * dim = " +
        s"${maxAbs * maxAbs * maxDim} exceeds 2^53 — distances would " +
        s"lose integer exactness; lower `scale` (=$scale) or normalize " +
        s"the vectors first")
    (maxAbs, g.getInt(2) == maxDim)
  }

  /** Exact integer L2 distances `q.q - 2 q.c + c.c` to every centroid.
    * r15 opt: native reference-object expression instead of the
    * CreateArray-of-literal-folds form — identical arithmetic (same
    * left-to-right folds, same `(qq - 2d) + cc` operand order, same
    * null/dim-mismatch slots; IntLloydNativeSpec pins the parity), but
    * the generated code TEXT no longer embeds the centroid values, so
    * janino compiles the distance kernel ONCE per shape instead of
    * re-compiling k x dim literals at every Lloyd pass of every query. */
  private def intDistArr(qc: Column, cs: Array[Array[Double]]): Column =
    org.apache.spark.sql.catalyst.expressions.graftarray.ArrayMathExpressions
      .intL2Dists(qc, cs.toIndexedSeq)

  /** Argmin cell over a HOISTED distance-array column: first position of
    * the min -> lowest centroid id on ties (the oracle's ORDER BY dist,
    * cid). Call over a materialized `__da` column so the k-element array
    * is built once per row and the argmin is a cheap builtin scan. */
  private def argminCell(da: Column): Column =
    (array_position(da, array_min(da)) - 1).cast(LongType)

  /** The r15 incremental per-pass maximin seeding — k-1 sequential
    * TakeOrdered corpus passes over a cached min-distance column. Kept
    * verbatim as the semantics-defining path: [[maximinTopM]] must select
    * the exact same sequence or fall back to this. Each pass folds in
    * only the newest centroid: least(dm_prev, dist_new) builds the exact
    * same left-nested least(least(d0, d1), d2)... chain over the exact
    * same integer distances, so selection (and ties, via the identical
    * (dm desc, vec_id) order) is bit-identical to the original O(k^2)
    * form — IntLloydNativeSpec pins old-vs-new centroid equality. */
  private[graft] def maximinPerPass(q: DataFrame, qCol: String, k: Int,
                             seed0: Array[Double]): Array[Array[Double]] = {
    val chosen = scala.collection.mutable.ArrayBuffer(seed0)
    def distTo(c: Array[Double]): Column =
      element_at(intDistArr(col(qCol), Array(c)), 1)
    if (k > 1) {
      var dmF = q.select(col("vec_id"), col(qCol),
          distTo(chosen(0)).as("__dm"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var prevF: DataFrame = null
      try {
        while (chosen.length < k) {
          val next = dmF.orderBy(col("__dm").desc, col("vec_id")).limit(1)
            .select(col(qCol)).head()
          // dmF is fully materialized by the TakeOrdered above — its
          // parent can go now without triggering recompute
          if (prevF != null) { prevF.unpersist(); prevF = null }
          val c = next.getSeq[Double](0).toArray
          chosen += c
          if (chosen.length < k) {
            prevF = dmF
            dmF = dmF.select(col("vec_id"), col(qCol),
                least(col("__dm"), distTo(c)).as("__dm"))
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          }
        }
      } finally {
        if (prevF != null) prevF.unpersist()
        dmF.unpersist()
      }
    }
    chosen.toArray
  }

  /** r16 opt: BATCHED maximin seeding — selects as many centroids per
    * corpus pass as can be PROVEN exact, instead of exactly one. Each
    * pass is one TakeOrdered of the top-M rows by the current cached
    * min-distance `__dm` (desc, vec_id asc — the per-pass ordering);
    * the k-1 selections then refine driver-side over that candidate set
    * with bit-identical arithmetic ([[intDistDriver]] reproduces
    * IntL2DistsExpr.distArray's fold order operand for operand).
    *
    * Exactness: a row OUTSIDE the collected set had `__dm` <= the cut
    * value t (the M-th collected distance) at collection time, and
    * min-distances only shrink as the chosen set grows — so it can never
    * strictly beat a refined candidate whose min-distance exceeds t.
    * Within a pass the FIRST pick needs no guard (the refinement has not
    * touched dm yet, so the scan winner IS the TakeOrdered's own top row
    * — the true global argmax under the identical (dm desc, vec_id)
    * order); every later pick requires the winner's refined min-distance
    * STRICTLY > t (exact integers, so the comparison is reliable) or the
    * batch ends and the next pass re-collects against the enlarged
    * chosen set. >= 1 exact pick per pass means <= k-1 passes worst case
    * (the degenerate all-duplicates corpus), typically 1-3. When a pass
    * collects fewer than M usable rows the candidate set is COMPLETE
    * (every row with a non-null distance is present; null-distance rows
    * can never out-rank a non-null one under desc-nulls-last, and the
    * caller's uniform-dim guard plus the 2^53 exactness guard — which
    * rejects NaN/Inf corpora via maxAbs — mean no refinement distance
    * ever goes null driver-side), so the rest of the selection is
    * exhaustive-exact in this pass. If even the TOP row is null every
    * row is null and the per-pass recurrence degenerates to re-picking
    * that same lowest-id row; replicated directly.
    *
    * Per pass: 1 TakeOrdered job + one lazily-stacked dm update folding
    * in the whole batch (least over array_min(dists to batch) — the same
    * exact integers min-folded in a different, result-identical order).
    * Memory: M x dim doubles on the driver (parameter-bounded).
    * MaximinTopMSpec pins batched-vs-per-pass equality. */
  private[graft] def maximinBatched(q: DataFrame, qCol: String, k: Int,
                          seed0: Array[Double], caller: String)
      : Array[Array[Double]] = {
    val m = math.min(math.max(256 * k, 4096), 1 << 16)
    def distsTo(cs: Array[Array[Double]]): Column =
      array_min(intDistArr(col(qCol), cs))
    val chosen = scala.collection.mutable.ArrayBuffer(seed0)
    if (k <= 1) return chosen.toArray
    var dmF = q.select(col("vec_id"), col(qCol),
        distsTo(Array(seed0)).as("__dm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var prevF: DataFrame = null
    try {
      while (chosen.length < k) {
        val cand = dmF.orderBy(col("__dm").desc, col("vec_id")).limit(m)
          .collect()
        // dmF is fully materialized by the TakeOrdered; parent can go
        if (prevF != null) { prevF.unpersist(); prevF = null }
        require(cand.nonEmpty, s"$caller: empty corpus")
        if (cand(0).isNullAt(2)) {
          // every distance null (nulls sort last in desc): the per-pass
          // recurrence re-picks this same lowest-id row each remaining pass
          val v = cand(0).getSeq[Double](1).toArray
          while (chosen.length < k) chosen += v
        } else {
          val nAll = cand.length
          var n = nAll
          while (n > 0 && cand(n - 1).isNullAt(2)) n -= 1 // null tail
          val ids = new Array[Long](n)
          val vecs = new Array[Array[Double]](n)
          val dm = new Array[Double](n)
          var i = 0
          while (i < n) {
            ids(i) = cand(i).getLong(0)
            vecs(i) = cand(i).getSeq[Double](1).toArray
            dm(i) = cand(i).getDouble(2)
            i += 1
          }
          // complete: fewer than m rows collected, or a null made the cut —
          // either way every non-null-distance row is in the set
          val complete = nAll < m || n < nAll
          val t = dm(n - 1)
          val batch = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
          var open = true
          while (open && chosen.length < k) {
            var best = 0
            i = 1
            while (i < n) {
              if (dm(i) > dm(best) || (dm(i) == dm(best) && ids(i) < ids(best)))
                best = i
              i += 1
            }
            if (batch.nonEmpty && !complete && !(dm(best) > t)) {
              open = false // unprovable pick: close the batch, re-collect
            } else {
              val c = vecs(best)
              chosen += c
              batch += c
              if (chosen.length < k) {
                var cc = 0.0
                i = 0
                while (i < c.length) { cc += c(i) * c(i); i += 1 }
                i = 0
                while (i < n) {
                  val d = intDistDriver(vecs(i), c, cc)
                  if (d < dm(i)) dm(i) = d
                  i += 1
                }
              }
            }
          }
          if (chosen.length < k) {
            prevF = dmF
            dmF = dmF.select(col("vec_id"), col(qCol),
                least(col("__dm"), distsTo(batch.toArray)).as("__dm"))
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          }
        }
      }
    } finally {
      if (prevF != null) prevF.unpersist()
      dmF.unpersist()
    }
    chosen.toArray
  }

  /** Driver-side replica of IntL2DistsExpr.distArray's per-centroid
    * arithmetic — same left-to-right qq fold, same dot fold, same
    * `(qq - 2.0*d) + cc` operand order (cc folded like ccArr) — so the
    * top-M refinement sees the exact same doubles the per-pass column
    * would. MaximinTopMSpec pins the parity. */
  private def intDistDriver(v: Array[Double], cent: Array[Double],
                            cc: Double): Double = {
    var qq = 0.0
    var i = 0
    while (i < v.length) { qq += v(i) * v(i); i += 1 }
    var d = 0.0
    i = 0
    while (i < v.length) { d += v(i) * cent(i); i += 1 }
    (qq - 2.0 * d) + cc
  }

  /** The integer-exact Lloyd training loop over a staged quantized
    * frame `(vec_id, qCol)` — per-iteration one corpus-wide assignment
    * map + one (cluster, dim)-keyed agg (shuffle bounded by k x dim),
    * centroid update `floor(sum/count)`, empty clusters keep their
    * previous centroid. Shared op-for-op by [[kmeansAssignInt]] (the
    * q128 oracle chain, init = "lowid": quantized vectors of the k
    * smallest ids) and the trained-IVF codebook ([[ivfTopK]]
    * intLloydIters, init = "maximin": farthest-point seeding in the same
    * exact integer distances — seed = lowest id, then k-1 corpus passes
    * each taking the argmax of min-distance-to-chosen with ties to the
    * lowest id; each pass is a TakeOrdered over (dist desc, id), so no
    * global sort, but cost is k passes — the right init for COARSE
    * codebooks (k ~ tens), not for k in the thousands where the float
    * sampled trainer is the tool). Every init choice replays bit-for-bit
    * in the oracle (kmeansIntChain / kmeansIntChainMaximin). */
  private[graft] def trainIntCentroids(q: DataFrame, qCol: String, k: Int,
                                iters: Int, maxAbs: Double, caller: String,
                                init: String = "lowid",
                                uniformDim: Boolean = false)
      : Array[Array[Double]] = {
    var cents: Array[Array[Double]] = init match {
      case "lowid" =>
        q.orderBy(col("vec_id")).limit(k)
          .select(col(qCol)).collect().map(_.getSeq[Double](0).toArray)
      case "maximin" =>
        val first = q.orderBy(col("vec_id")).limit(1)
          .select(col(qCol)).collect()
        require(first.nonEmpty, s"$caller: empty corpus")
        val seed0 = first(0).getSeq[Double](0).toArray
        // r16 opt: proof-carrying BATCHED selection — each corpus pass
        // picks every centroid it can prove exact instead of one, so the
        // k-1 sequential TakeOrdered jobs collapse to typically 1-3 — see
        // [[maximinBatched]]. Ragged corpora (uniformDim false) stay on
        // the per-pass path, whose null-slot semantics define the op.
        if (uniformDim && k > 1) maximinBatched(q, qCol, k, seed0, caller)
        else maximinPerPass(q, qCol, k, seed0)
      case other => throw new IllegalArgumentException(
        s"$caller: unknown centroid init '$other'")
    }
    require(cents.nonEmpty, s"$caller: empty corpus")
    for (_ <- 1 to iters) {
      // r15 opt: one IntVecStatsAgg buffer update per row instead of
      // posexplode'ing every vector into `dim` aggregation-input rows —
      // the per-(cluster, dim) sums and counts are the exact same
      // integers slot for slot (order-free because exact), so the
      // recurrence and the oracle replay are untouched
      val stats = q.withColumn("__da", intDistArr(col(qCol), cents))
        .select(argminCell(col("__da")).as("__cl"), col(qCol).as("__vec"))
        .groupBy(col("__cl"))
        .agg(org.apache.spark.sql.catalyst.expressions.graftarray
          .ArrayMathExpressions.intVecStats(col("__vec")).as("__st"))
        .collect()
      val next = cents.map(_.clone())
      stats.foreach { r =>
        val cl = r.getLong(0).toInt
        val st = r.getStruct(1)
        val sums = st.getSeq[Double](0)
        val nRows = st.getSeq[Long](1)
        var d = 0
        while (d < sums.length) {
          if (nRows(d) > 0L) {
            // same 2^53 bound for the per-cluster dimension sums: |sum| <=
            // maxAbs * n members, detectable post-hoc from the exact count
            require(maxAbs * nRows(d) < math.pow(2, 53),
              s"$caller: cluster $cl dim-sum bound " +
                s"${maxAbs * nRows(d)} exceeds 2^53 — lower `scale`")
            next(cl)(d) = math.floor(sums(d) / nRows(d))
          }
          d += 1
        }
      }
      cents = next
    }
    cents
  }

  /**
   * PROTOTYPICALITY SELECTION (Sorscher et al. 2022 "Beyond neural
   * scaling laws" self-supervised pruning; D4's dedup-then-prune stage):
   * cluster the corpus with the integer-exact Lloyd recurrence
   * ([[kmeansAssignInt]]), rank every vector within its cluster by exact
   * integer distance to the final centroid, and keep the `perCluster`
   * most prototypical (`keepClosest = true` — cluster cores, the
   * curated-exemplar read) or least prototypical (`keepClosest = false` —
   * the paper's keep-HARD-examples rule for abundant data). Rank ties
   * break by id, so membership is a pure integer function of the corpus —
   * engine-replayable end to end through the q128 oracle chain.
   *
   * Shape: the kmeans passes (per-iteration shuffle = k × dim rows) + ONE
   * per-cluster top-k window over (id, cluster, dist) rows — Spark
   * rewrites the rank filter into WindowGroupLimit, so hot clusters
   * stream through per-partition heaps (the ANN top-k pushdown). Bodies/
   * vectors never enter the window.
   *
   * Output: (vec_id, cluster_id, dist, proto_rank), `proto_rank <=
   * perCluster`.
   */
  def prototypeSelect(corpus: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int, perCluster: Int,
                      keepClosest: Boolean = true,
                      scale: Int = 1000): DataFrame = {
    require(perCluster >= 1,
      s"prototypeSelect: perCluster must be >= 1, got $perCluster")
    val assigned = kmeansAssignCore(corpus, idCol, vecCol, k, iters, scale,
      withDist = true)
    val ord = if (keepClosest) col("dist").asc else col("dist").desc
    val w = Window.partitionBy(col("cluster_id")).orderBy(ord, col("vec_id"))
    assigned.withColumn("proto_rank", row_number().over(w).cast(LongType))
      .filter(col("proto_rank") <= perCluster)
  }

  /**
   * EMBEDDING OUTLIER FLAGS per label — the vector-space data-quality
   * check (mislabeled rows, corrupt encodes, off-distribution injections
   * surface as far-from-centroid points): squared L2 distance of every
   * vector to its OWN label's centroid, flagged when the distance exceeds
   * the label's `hiP` exact percentile. Integer-exact end to end (the
   * kmeansAssignInt rule): vectors quantize to milli-unit integer-valued
   * doubles, centroids are `floor(sum/count)` per dimension, distances
   * are exact integers via the native dot — so the only float in the
   * whole op is the percentile interpolation, computed identically from
   * identical integers on any engine.
   *
   * Shape: one (label, dim) partial agg for centroids (shuffle = labels ×
   * dim rows, corpus-independent), centroid arrays broadcast back, one
   * map-side distance pass, one labels-sized percentile agg broadcast
   * for the threshold. No window over the corpus.
   */
  def embeddingOutliers(corpus: DataFrame, idCol: String, labelCol: String,
                        vecCol: String, hiP: Double = 0.95,
                        scale: Int = 1000): DataFrame = {
    require(hiP > 0 && hiP < 1, s"embeddingOutliers: hiP in (0,1), got $hiP")
    require(scale >= 1 && scale <= 1000000,
      s"embeddingOutliers: scale must be in [1, 1e6], got $scale")
    val qcol = intQuantCol(vecCol, scale)
    val q = corpus.select(col(idCol), col(labelCol).as("__lbl"), qcol.as("__q"))
      .filter(col("__q").isNotNull)
    val cents = q
      .select(col("__lbl"), posexplode(col("__q")).as(Seq("__dim", "__v")))
      .groupBy(col("__lbl"), col("__dim"))
      .agg(sum(col("__v")).as("__s"), count(lit(1)).as("__n"))
      .withColumn("__c", floor(col("__s") / col("__n")).cast(DoubleType))
      .groupBy(col("__lbl"))
      .agg(transform(
        array_sort(collect_list(struct(col("__dim"), col("__c")))),
        s => s.getField("__c")).as("__cent"))
    val d2 = dot(col("__q"), col("__q")) -
      lit(2.0) * dot(col("__q"), col("__cent")) +
      dot(col("__cent"), col("__cent"))
    // materialize ONCE: the distance pass feeds both the threshold agg
    // and the output join, and the broadcast join leaves no Exchange for
    // ReuseExchange to dedup — without this the dominant corpus scan
    // runs twice
    val dists = q.join(broadcast(cents), Seq("__lbl"))
      .select(col(idCol), col("__lbl"), d2.cast(LongType).as("dist2"))
      .localCheckpoint()
    val thresholds = dists.groupBy(col("__lbl"))
      .agg(expr(s"percentile(dist2, $hiP)").as("__thr"))
    dists.join(broadcast(thresholds), Seq("__lbl"))
      .select(col(idCol), col("__lbl").as(labelCol), col("dist2"),
        col("__thr").as("dist2_threshold"),
        (col("dist2") > col("__thr")).as("is_outlier"))
  }

  /**
   * MARGIN-BASED MUTUAL-NEAREST matching between two embedding sets —
   * the parallel-corpus mining rule (Artetxe & Schwenk 2019's ratio
   * margin, the CCMatrix recipe): a pair `(x, y)` is emitted iff `y` is
   * `x`'s single best cosine match AND `x` is `y`'s, and the match
   * stands out above both local neighborhoods —
   * `margin = cos(x,y) / ((avg_topk(x) + avg_topk(y)) / 2)`, thresholded.
   * Mutual-best kills the hub problem (one vector matching everything);
   * the margin kills dense-region false positives where everything is
   * close to everything.
   *
   * Engine-portable determinism: ranking uses the raw double cosine
   * (identical IEEE fold on both engines), while every SUM crosses into
   * integer micro-units first (`floor(c*1e6 + 0.5)`) so neighborhood
   * sums are order-independent exact integers, and the margin itself is
   * one positive-integer floor division — the PMI/A-ES quantization rule.
   * Ties in ranking break by partner id.
   *
   * Scale shape: `right` broadcasts (pass the smaller side — query sets,
   * a day's ingest); the cross product never shuffles and all windows
   * partition by one side's id. For two 10^9-vector corpora, prefilter
   * candidates with the banded-LSH machinery ([[lshCosineTopK]] /
   * [[embeddingNearDupPairs]]) and apply the same mutual+margin tail.
   */
  def marginMutualMatches(left: DataFrame, right: DataFrame,
                          idCol: String, vecCol: String,
                          k: Int = 4, minMarginMicro: Long = 1000000L): DataFrame = {
    require(k >= 1, s"marginMutualMatches: k must be >= 1, got $k")
    val l = left.select(col(idCol).cast(LongType).as("src_id"),
      col(vecCol).cast(ArrayType(DoubleType)).as("__lv"))
      .filter(col("src_id").isNotNull && col("__lv").isNotNull)
      .withColumn("__ln", norm(col("__lv")))
    val r = right.select(col(idCol).cast(LongType).as("tgt_id"),
      col(vecCol).cast(ArrayType(DoubleType)).as("__rv"))
      .filter(col("tgt_id").isNotNull && col("__rv").isNotNull)
      .withColumn("__rn", norm(col("__rv")))
    val c = cosinePre(col("__lv"), col("__rv"), col("__ln"), col("__rn"))
    val pairs = l.crossJoin(broadcast(r))
      .select(col("src_id"), col("tgt_id"), c.as("__c"),
        floor(c * 1000000d + lit(0.5)).as("__cm"))
    mutualMarginTail(pairs, k, minMarginMicro)
  }

  /** The mutual-best + ratio-margin tail shared by [[marginMutualMatches]]
    * (all pairs) and [[marginMutualMatchesBanded]] (LSH candidates):
    * consumes `(src_id, tgt_id, __c, __cm)` scored pairs. */
  private def mutualMarginTail(pairs: DataFrame, k: Int,
                               minMarginMicro: Long): DataFrame = {
    val wF = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src_id")).orderBy(col("__c").desc, col("tgt_id"))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tgt_id")).orderBy(col("__c").desc, col("src_id"))
    val ranked = pairs
      .withColumn("__rf", row_number().over(wF))
      .withColumn("__rb", row_number().over(wB))
    // ACTUAL neighborhood sizes, not k: a side with fewer than k
    // partners must average over what exists, or small partitions
    // inflate every margin (review finding)
    val sl = ranked.filter(col("__rf") <= k)
      .groupBy(col("src_id")).agg(sum(col("__cm")).as("__sl"),
        count(lit(1)).as("__nl"))
    val sr = ranked.filter(col("__rb") <= k)
      .groupBy(col("tgt_id")).agg(sum(col("__cm")).as("__sr"),
        count(lit(1)).as("__nr"))
    // margin = 2c / (sl/nl + sr/nr) in integer arithmetic:
    // 2*c*nl*nr / (sl*nr + sr*nl); bounded: cm<=1e6, n<=k
    ranked.filter(col("__rf") === 1 && col("__rb") === 1)
      .join(sl, Seq("src_id")).join(sr, Seq("tgt_id"))
      .withColumn("margin_micro",
        when(col("__sl") * col("__nr") + col("__sr") * col("__nl") > 0,
          expr("__cm * 2L * __nl * __nr * 1000000L DIV " +
            "(__sl * __nr + __sr * __nl)"))
          .otherwise(lit(0L)))
      .filter(col("margin_micro") >= minMarginMicro)
      .select(col("src_id"), col("tgt_id"), col("__cm").as("cos_micro"),
        col("margin_micro"))
  }

  /**
   * The SCALE path of [[marginMutualMatches]] — two corpus-sized sides,
   * neither broadcastable: candidates come from the banded sign-sketch
   * machinery (both sides sketch map-side, ONE equi-join on the
   * (band, bucket) key — never a cross product), the mutual+margin tail
   * is the shared implementation, so candidate generation is the ONLY
   * difference from the brute op. This is the composition the q129
   * scaling adjudication names as the 10^9×10^9 design.
   *
   * Approximation is two-sided, and margins drift BOTH ways versus
   * brute: neighborhood averages run over recalled candidates, a SUBSET
   * of the true top-k — missing mid-cosine neighbors shrinks the
   * denominator (margin reads higher), while an under-FILLED
   * neighborhood that recalled only the best partner averages over
   * fewer, higher cosines (margin reads lower). Pairs whose true best
   * partner was not recalled can also pass mutual-best. Tune recall
   * with bands × planes exactly as in [[embeddingNearDupPairs]];
   * `maxBucket > 0` drops hot sketch buckets from BOTH sides (hub
   * regions, the observe-metrics cap).
   */
  def marginMutualMatchesBanded(left: DataFrame, right: DataFrame,
                                idCol: String, vecCol: String,
                                k: Int = 4, minMarginMicro: Long = 1000000L,
                                nPlanes: Int = 12, bands: Int = 8,
                                seed: Long = 42L,
                                maxBucket: Int = 0): DataFrame = {
    require(k >= 1, s"marginMutualMatchesBanded: k must be >= 1, got $k")
    require(bands >= 1 && nPlanes >= 1,
      s"need bands >= 1 and nPlanes >= 1, got ($bands, $nPlanes)")
    val A = org.apache.spark.sql.catalyst.expressions.graftarray.ArrayMathExpressions
    val l = left.select(col(idCol).cast(LongType).as("src_id"),
      col(vecCol).cast(ArrayType(DoubleType)).as("__lv"))
      .filter(col("src_id").isNotNull && col("__lv").isNotNull)
    val r = right.select(col(idCol).cast(LongType).as("tgt_id"),
      col(vecCol).cast(ArrayType(DoubleType)).as("__rv"))
      .filter(col("tgt_id").isNotNull && col("__rv").isNotNull)
    val dim = l.select(size(col("__lv"))).first().getInt(0)
    val planeSets = (0 until bands).map(b => hyperplanes(nPlanes, dim, seed + b))
    def sketchSide(df: DataFrame, id: String, vec: String) = {
      val s = df.select(col(id),
        posexplode(A.bandedSignSketch(col(vec), planeSets))
          .as(Seq("__band", "__bucket")))
      if (maxBucket <= 0) s
      else {
        val w = Window.partitionBy(col("__band"), col("__bucket"))
        s.withColumn("__bn", count(lit(1)).over(w))
          .filter(col("__bn") <= maxBucket).drop("__bn")
      }
    }
    // ids only through the explosion (the nearDuplicatePairs rule);
    // a pair colliding in several bands scores once
    val cand = sketchSide(l, "src_id", "__lv")
      .join(sketchSide(r, "tgt_id", "__rv"), Seq("__band", "__bucket"))
      .select(col("src_id"), col("tgt_id")).distinct()
      .observe(DedupOps.obsName(DedupOps.ObservedMetrics.NearDupCandidateMetrics),
        count(lit(1)).as("candidate_pairs"))
    val c = cosinePre(col("__lv"), col("__rv"), col("__ln"), col("__rn"))
    val pairs = cand
      .join(l.withColumn("__ln", norm(col("__lv"))), "src_id")
      .join(r.withColumn("__rn", norm(col("__rv"))), "tgt_id")
      .select(col("src_id"), col("tgt_id"), c.as("__c"),
        floor(c * 1000000d + lit(0.5)).as("__cm"))
    mutualMarginTail(pairs, k, minMarginMicro)
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int = 5, nCells: Int = 16,
              nProbe: Int = 4, trainCodebook: Boolean = false,
              lloydIters: Int = 5, trainSample: Int = 4096,
              intLloydIters: Int = 0, intScale: Int = 1000): DataFrame = {
    val spark = corpus.sparkSession
    // TRAINED integer-Lloyd codebook (r15, VERDICT r14 #3): the q128
    // integer-exact recurrence (shared trainIntCentroids — quantized
    // vectors, exact L2 argmin, floor-mean updates) trains the cells over
    // the FULL corpus, and cell assignment + probe selection use the same
    // exact integer distances, so the whole codebook path is replayable
    // bit-for-bit by the DuckDB oracle (OracleSqlGen.annRecallIvfTrainedSql
    // unrolls the iterations as CTEs). Candidate RANKING stays cosine on
    // the original vectors — unchanged tail, unchanged output shape.
    // Measured on the recall contract (q177, 16 cells, 4 probes):
    // ~0.56-0.60 recall@10 vs the seed codebook's ~0.48-0.50.
    if (intLloydIters > 0) {
      require(!trainCodebook,
        "ivfTopK: pick ONE codebook mode (trainCodebook OR intLloydIters)")
      return ivfTopKIntLloyd(corpus, queries, idCol, vecCol, k, nCells,
        nProbe, intLloydIters, intScale)
    }
    // r15: past FlatAssignMaxCells the flat corpus assignment
    // (nCells*dim per row) and the queries x nCells probe crossJoin both
    // stop scaling — route through the two-level assigner with map-side
    // probe selection (same join tail, same tie-breaks)
    if (nCells > FlatAssignMaxCells) {
      val asg = resolveAssigner(corpus, idCol, vecCol, nCells,
        trainCodebook, lloydIters, trainSample, "ivfTopK")
      val assigned = corpus
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
          norm(col(vecCol)).as("__cn"))
        .withColumn("__cell", asg.assign(col("__cv")))
      val probes = queries.select(col(idCol).as("query_id"),
        col(vecCol).as("__qv"), norm(col(vecCol)).as("__qn"),
        explode(asg.probes(col(vecCol), nProbe)).as("__cell"))
      val scored = assigned.join(broadcast(probes), "__cell")
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("cos_sim", round(cosinePre(col("__qv"), col("__cv"),
          col("__qn"), col("__cn")), 6))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("neighbor_id"))
      return scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
    }
    val cents = resolveCodebook(corpus, idCol, vecCol, nCells, trainCodebook,
      lloydIters, trainSample, "ivfTopK")

    // native argmax-cosine assignment: the codebook rides as codegen
    // reference objects (nCells x dim literal arrays bloated the plan —
    // VERDICT r5 #6); first-max tie-break = lowest centroid id, matching
    // the oracle's ORDER BY score DESC, cent_id, and every fold is the
    // same left-to-right double order as before, so q42 stays bit-exact
    val assigned = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
        norm(col(vecCol)).as("__cn"))
      .withColumn("__cell",
        org.apache.spark.sql.catalyst.expressions.graftarray.ArrayMathExpressions
          .ivfCell(col("__cv"), cents.toSeq))

    // probe list: small query set x small codebook
    val centsDf = spark.createDataFrame(cents.toSeq.map {
      case (cid, cv) => (cid, cv.toSeq)
    }).toDF("__cent_id", "__centv")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("__pscore").desc, col("__cent_id"))
    val probes = q.crossJoin(broadcast(centsDf))
      .withColumn("__pscore", cosine(col("__qv"), col("__centv")))
      .withColumn("__prn", row_number().over(wProbe))
      .filter(col("__prn") <= nProbe)
      .select(col("query_id"), col("__qv"), col("__qn"),
        col("__cent_id").as("__cell"))

    val scored = assigned.join(broadcast(probes), "__cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim", round(cosinePre(col("__qv"), col("__cv"),
        col("__qn"), col("__cn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
  }

  /** [[ivfTopK]]'s trained-codebook body: integer-Lloyd cells, exact
    * integer L2 assignment/probing, cosine ranking (see the dispatch
    * comment in ivfTopK). */
  private def ivfTopKIntLloyd(corpus: DataFrame, queries: DataFrame,
                              idCol: String, vecCol: String, k: Int,
                              nCells: Int, nProbe: Int, iters: Int,
                              scale: Int): DataFrame = {
    val q = Snapshots.stage(corpus
      .select(col(idCol).cast(LongType).as("vec_id"),
        intQuantCol(vecCol, scale).as("__q"))
      .filter(col("vec_id").isNotNull && col("__q").isNotNull))
    val (maxAbs, uniform) =
      intExactGuardDims(q, "__q", "ivfTopK(intLloyd)", scale)
    val cents = trainIntCentroids(q, "__q", nCells, iters, maxAbs,
      "ivfTopK(intLloyd)", init = "maximin", uniformDim = uniform)
    // corpus side: map-side argmin-integer-distance cell (centroids ride
    // as codegen literals; first-min tie = lowest cell id, the oracle's
    // ORDER BY dist, cid)
    val assigned = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
        norm(col(vecCol)).as("__cn"))
      .withColumn("__da", intDistArr(intQuantCol("__cv", scale), cents))
      .withColumn("__cell", argminCell(col("__da")))
      .drop("__da")
    // probe list: the query's nProbe nearest cells by the SAME exact
    // integer distance — posexplode the per-cell distance array, rank
    // (dist asc, cell asc)
    val probesRanked = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .select(col("query_id"), col("__qv"),
        posexplode(intDistArr(intQuantCol("__qv", scale), cents))
          .as(Seq("__cell", "__pdist")))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("__pdist").asc, col("__cell").asc)
    val probeCells = probesRanked
      .withColumn("__prn", row_number().over(wProbe))
      .filter(col("__prn") <= nProbe)
      .select(col("query_id"), col("__qv"), norm(col("__qv")).as("__qn"),
        col("__cell").cast(LongType).as("__cell"))
    val scored = assigned.join(broadcast(probeCells), "__cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim", round(cosinePre(col("__qv"), col("__cv"),
        col("__qn"), col("__cn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
  }

  /**
   * TWO-SIDED IVF ANN join — top-k cosine neighbors from `corpus` for
   * EVERY row of a `queries` side that is itself corpus-scale, so neither
   * side can broadcast (the gap [[ivfTopK]] leaves: its probe list rides a
   * broadcast, capping the query side at driver memory). The retrieval
   * shape behind embedding-space corpus alignment, dataset-vs-dataset
   * contamination checks, and batch hard-negative mining over encoders.
   *
   * Plan: one shared codebook (from the corpus side); corpus rows get
   * their argmax cell map-side (`ivf_cell`), query rows get their
   * `nProbe` probe cells map-side via the MULTI-PROBE kernel
   * (`ivf_cells` — no crossJoin, no window: a constant nProbe-way
   * explode), and the only corpus-scale operation is ONE equi-join on the
   * int cell key — shuffle-partitionable on both sides, never a
   * broadcast, never all-pairs. Candidates per query ≈ nProbe · n/nCells;
   * `maxCell > 0` caps pathological hub cells (with the shared observe
   * metrics), and AQE's skew split handles moderate imbalance. The
   * per-query top-k window is bounded by that candidate count. Probe
   * rows carry their vector through the constant-factor explosion (the
   * ids-only rule targets data-dependent explosions; re-joining vectors
   * here would cost a second corpus-scale shuffle for a 4× dodge).
   *
   * `nCells <= 0` (the default) derives [[derivedCellsHier]]
   * (`clamp(ceil(n/128), 16, 2^20)`, two-level assignment past
   * [[FlatAssignMaxCells]]) from the corpus — the
   * [[semanticDedupPairs]] occupancy convention,
   * and here it is LOAD-BEARING, not a convenience: with BOTH sides
   * growing with the corpus, a fixed cell count makes candidate volume
   * quadratic (nProbe · q · n/nCells — the round-10 ScaleUp rerun
   * measured a fixed-16-cell setup at 137× wall for 10× data, the same
   * class as semantic dedup's round-9 35× bug); derived, per-query
   * candidates stay ≈ nProbe · 128 and total volume is linear in the
   * query count (re-measured 7.1× at 10× data). Fixed nCells remains
   * for pinned-parameter replays against a pre-agreed codebook. The
   * derive runs one count() job at CONSTRUCTION time (the
   * resolveCodebook-collect convention) — re-executing the corpus
   * lineage; persist an expensive corpus before calling.
   *
   * Row-identical to [[ivfTopK]] at equal parameters when the query side
   * happens to be small (probe position 0 of `ivf_cells` IS `ivf_cell`,
   * same fold, same tie-breaks) — spec-pinned.
   */
  def ivfJoinTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                  vecCol: String, k: Int = 5, nCells: Int = 0,
                  nProbe: Int = 4, trainCodebook: Boolean = false,
                  lloydIters: Int = 5, trainSample: Int = 4096,
                  maxCell: Int = 0): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    // r15: derive with the LIFTED ceiling (two-level assignment past
    // FlatAssignMaxCells keeps the per-row cost sqrt-bounded, so the
    // cell count can keep tracking n/128 where the flat 16384 ceiling
    // would have sent candidate volume quadratic — the 1000x-decade fix)
    val kCells =
      if (nCells > 0) nCells
      else derivedCellsHier(corpus.select(col(idCol)).count())
    val asg = resolveAssigner(corpus, idCol, vecCol, kCells, trainCodebook,
      lloydIters, trainSample, "ivfJoinTopK")
    val assigned = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
        norm(col(vecCol)).as("__cvn"))
      .withColumn("__cell", asg.assign(col("__cv")))
    val capped =
      if (maxCell <= 0) assigned
      else {
        val w = Window.partitionBy(col("__cell"))
        assigned.withColumn("__cn", count(lit(1)).over(w))
          .observe(DedupOps.obsName(DedupOps.ObservedMetrics.LshBucketMetrics),
            max(col("__cn")).as("max_bucket_width"),
            sum(when(col("__cn") > maxCell, 1L).otherwise(0L))
              .as("band_rows_capped"))
          .filter(col("__cn") <= maxCell).drop("__cn")
      }
    // PROBE-SALT (r14 skew finding): maxCell bounds the corpus side, but
    // the JOIN key can still run hot from the probe side — a hub of
    // near-identical queries all probes the SAME nProbe cells, so those
    // cell keys carry queries x cellWidth candidates in one shuffle
    // partition (measured on the 100x skew corpus: one 42.7 s task vs a
    // 0.97 s median, 44x, with the hub cell itself already capped). The
    // salt splits every cell key 8 ways: corpus rows key on
    // (cell, hash(id) % 8), probes replicate over all 8 salts — each
    // (query, neighbor) pair still meets exactly once, so the result is
    // row-identical; probe volume (queries x nProbe x 8) stays trivial
    // next to the candidate volume the join emits either way.
    val probeSalt = 8
    // EXPLICIT-COUNT repartition on the join key (r14 skew finding #2):
    // AQE coalesces the join's shuffle partitions by INPUT bytes — a few
    // hundred MB of packed vectors — blind to the candidate fan-out
    // (queries x cellWidth rows) and the per-candidate 64-dim cosine
    // that stage pays. Measured on the 10x skew corpus: the whole
    // join+cosine stage coalesced to 4 tasks of 8.5 s median while 28
    // cores idled. An explicit numPartitions is the one shape AQE never
    // coalesces below; sessionState's numShufflePartitions is the knob
    // the user already sizes to the cluster.
    val nOut = corpus.sparkSession.sessionState.conf.numShufflePartitions
    val cappedS = capped.withColumn("__psalt",
        pmod(xxhash64(col("neighbor_id")), lit(probeSalt.toLong)))
      .repartition(nOut, col("__cell"), col("__psalt"))
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        norm(col(vecCol)).as("__qvn"),
        explode(asg.probes(col(vecCol), nProbe)).as("__cell"))
      .withColumn("__psalt",
        explode(sequence(lit(0L), lit(probeSalt - 1L), lit(1L))))
    val scored = cappedS.join(probes, Seq("__cell", "__psalt"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .observe(DedupOps.obsName(DedupOps.ObservedMetrics.NearDupCandidateMetrics),
        count(lit(1)).as("candidate_pairs"))
      .withColumn("cos_sim", round(cosinePre(col("__qv"), col("__cv"),
        col("__qvn"), col("__cvn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
  }

  /**
   * LSH-bucketed approximate top-k: candidates share the query's bucket
   * (equi-join on the sketch — at 1e9 rows this is a hash join on a long,
   * never a cross join). Recall is tunable via plane count; with r planes
   * the corpus fans into 2^r buckets PER BAND. `bands > 1` unions
   * candidates over independent plane sets (seed + b), the same
   * recall-vs-candidate-volume reconciliation as
   * [[embeddingNearDupPairs]]'s banding — a (query, neighbor) pair
   * colliding in several bands scores once (distinct before the verify).
   * Default 1 preserves the historical single-band behavior (q30's
   * oracle).
   */
  def lshCosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int = 5, nPlanes: Int = 8,
                    seed: Long = 42L, bands: Int = 1): DataFrame = {
    require(bands >= 1, s"bands must be >= 1, got $bands")
    val dim = corpus.select(size(col(vecCol))).first().getInt(0)
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"))
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn"))
    val scored =
      if (bands == 1) {
        // historical single-band plan: one bucket column, no explosion,
        // no candidate dedup (a pair can collide at most once)
        val planes = hyperplanes(nPlanes, dim, seed)
        val c = cv.withColumn("__bucket", signSketch(col("__cv"), planes))
        val q = broadcast(qv.withColumn("__bucket", signSketch(col("__qv"), planes)))
        c.join(q, "__bucket")
          .filter(col("neighbor_id") =!= col("query_id"))
          .withColumn("cos_sim", round(cosinePre(col("__qv"), col("__cv"),
            col("__qn"), col("__cn")), 6))
      } else {
        // banded: candidates carry IDS ONLY through the x-bands explosion
        // (vectors join back after the distinct — the nearDuplicatePairs
        // shape; carrying payloads through an explosion was the r2 bug)
        val planeSets = (0 until bands).map(b => hyperplanes(nPlanes, dim, seed + b))
        val cb = cv.select(col("neighbor_id"),
          posexplode(bandedSignSketch(col("__cv"), planeSets))
            .as(Seq("__band", "__bucket")))
        val qb = broadcast(qv.select(col("query_id"),
          posexplode(bandedSignSketch(col("__qv"), planeSets))
            .as(Seq("__band", "__bucket"))))
        val cand = cb.join(qb, Seq("__band", "__bucket"))
          .filter(col("neighbor_id") =!= col("query_id"))
          .select(col("query_id"), col("neighbor_id"))
          .distinct() // a pair colliding in several bands scores once
        cand.join(broadcast(qv), "query_id").join(cv, "neighbor_id")
          .withColumn("cos_sim", round(cosinePre(col("__qv"), col("__cv"),
            col("__qn"), col("__cn")), 6))
      }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
  }

  /**
   * Land the IVF ANN index of an embedding corpus ONCE, so every subsequent
   * [[annTopKAgainstIndex]] query batch skips the codebook build and the
   * full-corpus cell assignment that [[ivfTopK]] pays per call — the same
   * land-once / probe-many move [[graft.ops.DedupOps.landNearDupIndex]]
   * made for near-dup ingest (VERDICT r7/r8 missing-#2: serving 10^9
   * vectors re-clusters nothing). Three tables:
   *
   *  - `<name>_cells` (__ann_id, __ann_vec), PARTITIONED BY `__cell`: every
   *    corpus vector under its coarse cell's directory, so a query batch
   *    reads ONLY its probed cells (static partition pruning via an IN
   *    filter over the collected probe set — `PartitionFilters` in the
   *    scan, not a post-scan filter). At 10^9 vectors × 4096 cells a
   *    4-probe batch touches ~0.1% of the corpus bytes;
   *  - `<name>_centroids` (cent_id, centroid): the codebook, nCells rows;
   *  - `<name>_meta` (n_cells, trained): parameter pinning — landing with
   *    one codebook and probing under another is a silent recall hole, so
   *    query time accepts NO sketch parameters (the q75 meta-table rule).
   *
   * Codebook choice matches [[ivfTopK]]: lowest-nCells-id vectors, or
   * maximin + Lloyd over a bounded sample with `trainCodebook = true`.
   * Cell assignment runs through the same native argmax-cosine expression
   * reading the STORED centroids, so an indexed query is row-identical to
   * the direct `ivfTopK` call with equal parameters (q76 ships q42's
   * oracle unchanged). Meta lands first: a mid-landing crash then retry
   * with different parameters hits the parameter check instead of stamping
   * new values over half-landed tables.
   */
  def landAnnIndex(corpus: DataFrame, idCol: String, vecCol: String,
                   name: String, nCells: Int = 16,
                   trainCodebook: Boolean = false, lloydIters: Int = 5,
                   trainSample: Int = 4096,
                   path: Option[String] = None): Unit = {
    val spark = corpus.sparkSession
    graft.sources.IndexCatalog.pinMeta(spark, name, "landAnnIndex", path,
      Seq("n_cells" -> nCells, "trained" -> trainCodebook)): Unit
    if (!spark.catalog.tableExists(s"${name}_centroids")) {
      val cents = resolveCodebook(corpus, idCol, vecCol, nCells, trainCodebook,
        lloydIters, trainSample, "landAnnIndex")
      val centsDf = spark.createDataFrame(cents.toSeq.map {
        case (cid, cv) => (cid, cv.toSeq)
      }).toDF("cent_id", "centroid")
      val w = centsDf.write.mode("overwrite").format("parquet")
      path.fold(w)(p => w.option("path", s"${p}_centroids"))
        .saveAsTable(s"${name}_centroids")
    }
    if (!spark.catalog.tableExists(s"${name}_cells")) {
      // assign from the STORED codebook (parquet double round-trip is
      // exact, and a later query reads these same rows — one source of
      // truth, the land/query symmetry the row-identity contract needs)
      val cents = readAnnCentroids(spark, name)
      val assigned = corpus
        .select(col(idCol).cast(LongType).as("__ann_id"),
          col(vecCol).as("__ann_vec"))
        .withColumn("__cell",
          org.apache.spark.sql.catalyst.expressions.graftarray
            .ArrayMathExpressions.ivfCell(col("__ann_vec"), cents.toSeq))
      val w = assigned.write.mode("overwrite").partitionBy("__cell")
        .format("parquet")
      path.fold(w)(p => w.option("path", s"${p}_cells"))
        .saveAsTable(s"${name}_cells")
    }
  }

  /**
   * Fold NEW vectors into a landed [[landAnnIndex]] index — the ingest
   * path a continuously-embedded crawl needs (the near-dup/search/CMS
   * index families' append rule, applied to ANN): assign each new vector
   * to its cell through the STORED codebook and append to the
   * cell-partitioned table, so the next query batch's partition prune
   * sees it with zero landed-side recompute and no re-land.
   *
   * The codebook is FROZEN: appended vectors join existing cells, which
   * keeps every indexed query row-identical to the direct IVF over
   * (landed + appended) under the landed codebook. A corpus that drifts
   * far from the codebook's distribution eventually wants a re-land —
   * the standard IVF operating contract, stated rather than hidden.
   *
   * Idempotent per vector id: an anti-join against the cells table
   * skips ids already indexed, so a crashed-and-retried batch converges
   * (the appendNearDupIndex protocol); the batch is pinned with a
   * `localCheckpoint` BEFORE the append mutates the table the anti-join
   * reads. Appends accrete one file per touched cell per batch — the
   * partitioned-table analog of the bucketed-index file history;
   * [[compactAnnIndex]] collapses it back to one file per cell. Returns
   * the number of new vectors folded in.
   */
  def appendAnnIndex(vectors: DataFrame, idCol: String, vecCol: String,
                     name: String): Long = {
    val spark = vectors.sparkSession
    graft.sources.IndexCatalog.requireMeta(spark, name,
      s"no ANN index '$name' in the session catalog — run landAnnIndex first"): Unit
    require(spark.catalog.tableExists(s"${name}_cells"),
      s"appendAnnIndex('$name'): cells table missing — the land did not " +
        "complete; re-run landAnnIndex")
    val cents = readAnnCentroids(spark, name)
    // cross-application writer lease on the index family (r15; see
    // DedupOps.appendNearDupIndex)
    graft.sources.WriterLease.withWriterLease(spark, name) {
    val staged = vectors
      .select(col(idCol).cast(LongType).as("__ann_id"),
        col(vecCol).as("__ann_vec"))
      .dropDuplicates("__ann_id")
      .join(spark.table(s"${name}_cells").select("__ann_id"),
        Seq("__ann_id"), "left_anti")
      .localCheckpoint()
    val n = staged.count()
    if (n > 0) {
      staged.withColumn("__cell",
          org.apache.spark.sql.catalyst.expressions.graftarray
            .ArrayMathExpressions.ivfCell(col("__ann_vec"), cents.toSeq))
        .write.mode("append").partitionBy("__cell").format("parquet")
        .saveAsTable(s"${name}_cells")
    }
    n
    }
  }

  /** Collapse the ANN cells table's append file history to one file per
    * cell ([[graft.sources.BucketedLand.compactPartitionedTable]]); the
    * centroids and meta tables are codebook-sized and never need it.
    * Row-preserving. Returns (filesBefore, filesAfter). */
  def compactAnnIndex(spark: org.apache.spark.sql.SparkSession,
                      name: String): (Long, Long) =
    // family lease outside, the table lease nests inside (family -> table
    // order; WriterLease scaladoc)
    graft.sources.WriterLease.withWriterLease(spark, name) {
      graft.sources.BucketedLand.compactPartitionedTable(spark, s"${name}_cells")
    }

  private def readAnnCentroids(spark: org.apache.spark.sql.SparkSession,
                               name: String): Array[(Long, Array[Double])] =
    spark.table(s"${name}_centroids")
      .select(col("cent_id"), col("centroid")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)

  /**
   * IVF top-k against a landed [[landAnnIndex]] index: nCells cosine
   * probes per query over the broadcast codebook, then candidate scoring
   * reads ONLY the probed cells' partitions. Sketch parameters come from
   * the index (see the meta-table rule above); `k`/`nProbe` are query-time
   * knobs. One bounded driver action collects the probed cell ids
   * (≤ |queries| × nProbe longs) so the cell filter is a STATIC partition
   * prune — a dynamic (join-driven) prune would still schedule the full
   * scan's tasks. Row-identical to [[ivfTopK]] with equal parameters.
   */
  def annTopKAgainstIndex(queries: DataFrame, idCol: String, vecCol: String,
                          name: String, k: Int = 5,
                          nProbe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    graft.sources.IndexCatalog.requireMeta(spark, name,
      s"no ANN index '$name' in the session catalog — run landAnnIndex first"): Unit
    val cents = readAnnCentroids(spark, name)
    val centsDf = spark.createDataFrame(cents.toSeq.map {
      case (cid, cv) => (cid, cv.toSeq)
    }).toDF("__cent_id", "__centv")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("__pscore").desc, col("__cent_id"))
    val probes = q.crossJoin(broadcast(centsDf))
      .withColumn("__pscore", cosine(col("__qv"), col("__centv")))
      .withColumn("__prn", row_number().over(wProbe))
      .filter(col("__prn") <= nProbe)
      .select(col("query_id"), col("__qv"), norm(col("__qv")).as("__qn"),
        col("__cent_id").as("__cell"))
    val probedCells = probes.select(col("__cell")).distinct()
      .collect().map(_.getLong(0)).sorted
    val cells = spark.table(s"${name}_cells")
      .filter(col("__cell").isin(probedCells: _*))
      .withColumn("__an", norm(col("__ann_vec")))
    val scored = cells.join(broadcast(probes), "__cell")
      .filter(col("__ann_id") =!= col("query_id"))
      .withColumn("cos_sim", round(cosinePre(col("__qv"), col("__ann_vec"),
        col("__qn"), col("__an")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("__ann_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"),
        col("__ann_id").as("neighbor_id"), col("cos_sim"))
  }

  /**
   * Per-group embedding centroids (class prototypes / cluster means —
   * the mean-pooling step of prototype classification, semantic dedup
   * cluster summaries, and codebook refreshes). Returns LONG rows
   * (label, dim, centroid, n_vectors) with `centroid` rounded to `decimals`
   * (absorbing the sub-ulp non-determinism of distributed float summation
   * order). `n_vectors` counts the NON-NULL elements at that dim — exactly
   * `avg`'s denominator, so weighted re-merging of partial centroids
   * (e.g. a Lloyd refresh) stays correct on vectors with null elements or
   * ragged lengths.
   *
   * Scale shape: the per-element explode runs map-side and PARTIAL
   * aggregation folds it to (label, dim) groups before the shuffle, so
   * shuffle volume is labels x dim partial sums per task — independent of
   * row count. This beats a driver-side or whole-array UDAF approach: no
   * vectors cross the wire, no group's rows need co-residence.
   */
  def groupCentroids(df: DataFrame, labelCol: String, vecCol: String,
                     decimals: Int = 6): DataFrame =
    df.select(col(labelCol), posexplode(col(vecCol)).as(Seq("dim", "__v")))
      .groupBy(col(labelCol), col("dim"))
      .agg(round(avg(col("__v")), decimals).as("centroid"),
        count(col("__v")).as("n_vectors"))

  /** [[groupCentroids]] reassembled to one `array<double>` row per label —
    * the shape downstream assignment expressions (e.g. [[ivfTopK]]'s
    * codebook) consume. The collect_list runs over the already-aggregated
    * (labels x dim) table, not the corpus. */
  def groupCentroidArrays(df: DataFrame, labelCol: String, vecCol: String,
                          decimals: Int = 6): DataFrame =
    groupCentroids(df, labelCol, vecCol, decimals)
      .groupBy(col(labelCol))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("centroid")))),
        s => s.getField("centroid")).as("centroid"))

  /**
   * Per-group Z-SCORE STANDARDIZATION of an embedding column: replace each
   * vector element with `(x - mean) / stddev` of its `(group, dim)` cell —
   * the feature-normalization step before mixing embedding sources whose
   * scales differ (two encoders, two snapshots, image vs text towers).
   * Constant dims (`stddev_pop = 0`, including single-vector groups) map
   * to `0.0` rather than NaN; z-scores land rounded to `decimals` (the
   * [[groupCentroids]] determinism rule — sub-ulp distributed-summation
   * drift is absorbed by the rounding).
   *
   * Shape: the same posexplode + two-phase (group, dim) aggregation as
   * [[groupCentroids]] — shuffle volume is groups x dim partial
   * aggregates, independent of row count — then the stats join BACK is
   * broadcast-size (groups x dim rows) onto the exploded stream, and the
   * reassembling collect_list groups each row's own elements (dim-bounded,
   * never a corpus-wide collect).
   *
   * Output: `(idCol, byCol, vec_std: array<double>)`, one row per input
   * row that carries a non-null vector.
   */
  def standardizeEmbeddings(df: DataFrame, idCol: String, byCol: String,
                            vecCol: String, decimals: Int = 6): DataFrame = {
    val ex = df.filter(col(vecCol).isNotNull)
      .select(col(idCol), col(byCol),
        posexplode(col(vecCol)).as(Seq("dim", "__v")))
      .withColumn("__v", col("__v").cast(DoubleType))
    val stats = ex.groupBy(col(byCol), col("dim"))
      .agg(avg(col("__v")).as("__mu"), stddev_pop(col("__v")).as("__sigma"))
    ex.join(broadcast(stats), Seq(byCol, "dim"))
      .withColumn("__z",
        when(col("__sigma").isNull || col("__sigma") === 0.0, lit(0.0))
          .otherwise(round((col("__v") - col("__mu")) / col("__sigma"),
            decimals)))
      .groupBy(col(idCol), col(byCol))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("__z")))),
        s => s.getField("__z")).as("vec_std"))
  }

  /**
   * SEMANTIC near-duplicate pairs, SemDeDup-style (Abbas et al. 2023,
   * arXiv:2303.09540): cluster the embedding corpus into IVF cells with
   * the same coarse quantizer as [[ivfTopK]], then compare ONLY
   * within-cell pairs and keep those with cosine >= `threshold`. Where
   * [[embeddingNearDupPairs]]' random-hyperplane buckets catch
   * NEAR-VERBATIM vectors (cos ~0.95+ at practical plane counts),
   * data-adaptive cells catch "same meaning, different words" redundancy
   * at lower thresholds — the dedup that measurably improves training
   * efficiency on web corpora.
   *
   * Scale shape: cell assignment is map-side native codegen (the codebook
   * rides as a reference object), the self-join is an equi-join on the
   * cell id carrying ids only, and vectors join back for colliding pairs
   * AFTER candidate generation — the candidates-first LSH shape. Candidate
   * volume is Σ_c n_c²/2, so `nCells` MUST scale with the corpus — a fixed
   * cell count turns this quadratic (measured: 35× wall at 10× data with
   * 16 cells). Pass `nCells <= 0` to derive `clamp(ceil(n/128), 16,
   * 2^20)` from the corpus ([[derivedCellsHier]]; one count() job, the
   * [[lshCosineTopK]] derive convention): expected occupancy ~128,
   * candidate volume ~64·n — linear. Past [[FlatAssignMaxCells]] cells
   * the assignment runs two-level (see [[resolveAssigner]]), so the
   * per-row cost stays sqrt-bounded; `trainCodebook = true` still buys
   * recall on clustered corpora, plus `maxCell` for the tail.
   * `maxCell` drops cells wider than the cap from candidate generation
   * (0 = uncapped) — oversized cells are embedding-space boilerplate, the
   * same skew guard as the LSH paths' `maxBucket`, emitting the same
   * [[graft.ops.DedupOps.ObservedMetrics]] bucket/candidate/verified
   * counters so a scale run records its candidate behavior.
   *
   * Output: (id_a, id_b, cell, cos_sim) with id_a < id_b — pairs never
   * cross a cell boundary (that miss is the approximation SemDeDup
   * accepts; raise nCells recall by training the codebook, not by
   * probing neighbor cells).
   */
  def semanticDedupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                         threshold: Double = 0.9, nCells: Int = 0,
                         trainCodebook: Boolean = false, lloydIters: Int = 5,
                         trainSample: Int = 4096, maxCell: Int = 0): DataFrame = {
    require(threshold >= -1.0 && threshold <= 1.0,
      s"threshold must be a cosine in [-1, 1], got $threshold")
    // internal/output names — an id column reusing one would resolve
    // ambiguously deep in the plan (the ADVICE r3 fail-loudly convention)
    require(!Set("id_a", "id_b", "cell", "cos_sim", "__cell", "__cn",
        "__va", "__vb").contains(idCol),
      s"idCol '$idCol' collides with a semanticDedup internal column — rename it first")
    // the (id, vector) projection is read up to five times (the derive
    // count, the codebook collect, the cell assignment, both verify
    // joins): stage it once instead of re-running the caller's upstream
    val vecs = Snapshots.stage(corpus.select(col(idCol), col(vecCol)))
    // r15: lifted-ceiling derive + two-level assignment past
    // FlatAssignMaxCells (see resolveAssigner — the 1000x-decade fix;
    // identical to the r14 flat path at every cell count <= 4096)
    val k =
      if (nCells > 0) nCells
      else derivedCellsHier(vecs.count())
    val asg = resolveAssigner(vecs, idCol, vecCol, k, trainCodebook,
      lloydIters, trainSample, "semanticDedupPairs")
    val assigned = vecs
      .select(col(idCol), asg.assign(col(vecCol)).as("__cell"))
    val capped =
      if (maxCell <= 0) assigned
      else {
        val w = Window.partitionBy(col("__cell"))
        assigned.withColumn("__cn", count(lit(1)).over(w))
          .observe(DedupOps.obsName(DedupOps.ObservedMetrics.LshBucketMetrics),
            max(col("__cn")).as("max_bucket_width"),
            sum(when(col("__cn") > maxCell, 1L).otherwise(0L))
              .as("band_rows_capped"))
          .filter(col("__cn") <= maxCell).drop("__cn")
      }
    val a = capped.select(col("__cell"), col(idCol).as("id_a"))
    val b = capped.select(col("__cell"), col(idCol).as("id_b"))
    // each id lives in exactly ONE cell, so a pair can collide at most
    // once — no candidate distinct needed (unlike the multi-band paths)
    val candidates = a.join(b, Seq("__cell"))
      .filter(col("id_a") < col("id_b"))
      .observe(DedupOps.obsName(DedupOps.ObservedMetrics.NearDupCandidateMetrics),
        count(lit(1)).as("candidate_pairs"))
      // EXPLICIT-COUNT repartition (r14, see ivfJoinTopK): the candidate
      // pairs are 16-byte rows, so AQE coalesces the downstream
      // cosine-verify stage to a handful of tasks by bytes while each
      // row pays a 64-dim cosine; the explicit width pins the verify
      // stage to the user-sized shuffle parallelism. Narrow-row shuffle,
      // negligible bytes.
      .repartition(vecs.sparkSession.sessionState.conf.numShufflePartitions,
        col("id_a"), col("id_b"))
    candidates
      .join(vecs.select(col(idCol).as("id_a"), col(vecCol).as("__va"),
        norm(col(vecCol)).as("__na")), "id_a")
      .join(vecs.select(col(idCol).as("id_b"), col(vecCol).as("__vb"),
        norm(col(vecCol)).as("__nb")), "id_b")
      .withColumn("cos_sim", round(cosinePre(col("__va"), col("__vb"),
        col("__na"), col("__nb")), 6))
      .filter(col("cos_sim") >= threshold)
      .observe(DedupOps.obsName(DedupOps.ObservedMetrics.NearDupVerifiedMetrics),
        count(lit(1)).as("verified_pairs"))
      .select(col("id_a"), col("id_b"), col("__cell").as("cell"), col("cos_sim"))
  }

  /** Semantic dedup: drop rows whose vector semantically duplicates a
    * lower-id row IN THE SAME CELL (one pass, like
    * [[embeddingNearDedup]]'s lower-id survivor rule). */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    threshold: Double = 0.9, nCells: Int = 0,
                    trainCodebook: Boolean = false, lloydIters: Int = 5,
                    trainSample: Int = 4096, maxCell: Int = 0): DataFrame = {
    val losers = semanticDedupPairs(corpus, idCol, vecCol, threshold, nCells,
        trainCodebook, lloydIters, trainSample, maxCell)
      .select(col("id_b").as(idCol)).distinct()
    corpus.join(losers, Seq(idCol), "left_anti")
  }
}
