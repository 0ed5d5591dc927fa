package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Text-analysis operators for large-scale training-data pipelines. All are
 * pure `org.apache.spark.sql.functions` expressions (codegen'd, no UDFs, no
 * shuffles) — at 100 TB these run map-side at scan speed.
 *
 * Every operator is deterministic arithmetic over the text, so each has an
 * exact DuckDB-SQL oracle.
 */
object TextOps {

  /** Identity of the [[tokens]] analyzer, pinned into every landed index
    * whose postings derive from it (BM25's `_meta`): an index landed
    * under one tokenizer version and probed under another is a silent
    * relevance hole, so the version is checked, not assumed. Bump this
    * when [[tokens]] semantics change. */
  val analyzerId: String = "lower-alnum-v1"

  /** Lowercased alphanumeric tokens. `regexp_extract_all` of the token runs
    * is fully codegen'd; the equivalent `filter(split(...))` form pays an
    * interpreted per-element lambda for the empty-string filter. */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  /** Whitespace-ish token count. */
  def tokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z0-9]+")).cast(LongType)

  /** BPE-ish token estimate: letter runs, digit runs, and punctuation runs
    * count separately (the pre-tokenization split most BPE vocabularies
    * apply), plus letter-count/8 extra for words that would fragment into
    * multiple subwords (~8 letters per merged subword). */
  def tokenCountBpe(text: Column): Column = {
    val pieces = regexp_count(text, lit("""\p{L}+|\p{N}+|[^\s\p{L}\p{N}]""")).cast(LongType)
    val longWordExtra =
      (length(regexp_replace(text, lit("""[^\p{L}]"""), lit(""))) / lit(8))
        .cast(LongType)
    pieces + longWordExtra
  }

  /** Marker stopwords per language for the n-gram/stopword language-ID
    * heuristic. Real corpora would use larger lists; the mechanism (arrays +
    * vectorized membership counting) is the scale-relevant part. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "por"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans"))

  /** Stopword-hit score over a pre-tokenized column. Native codegen
    * set-membership count (grafttext.MarkerHitsExpr) — the
    * `filter(tok, array_contains(...))` Catalyst form is interpreted per
    * element and dominated q31/q32's runtime; the intermediate Scala-UDF
    * version still paid a Seq[String] round-trip per row. */
  def langScoreFromTokens(tok: Column, markers: Seq[String]): Column =
    when(size(tok) > 0,
      org.apache.spark.sql.catalyst.expressions.grafttext.TextKernelExpressions
        .markerHits(tok, markers).cast(DoubleType) / size(tok).cast(DoubleType))
      .otherwise(lit(0.0))

  /** An internal column name whose every derived variant (`<name><suffix>`
    * for the given suffixes) is absent from `df` — `withColumn` on a fixed
    * "__tok" would silently clobber a user column of that name, and langId's
    * per-language score columns extend the base, so those derived names must
    * be collision-checked too (ADVICE r3). */
  private[graft] def tempName(df: DataFrame, base: String,
                              suffixes: Seq[String] = Nil): String = {
    val existing = df.columns.toSet
    def taken(n: String) = existing.contains(n) || suffixes.exists(s => existing.contains(n + s))
    var n = base
    var i = 0
    while (taken(n)) { i += 1; n = s"$base$i" }
    n
  }

  /** Predicted language = argmax marker score (ties -> alphabetically first
    * language, via the greatest-score/first-match scan). Tokenizes once. */
  def langId(df: DataFrame, textCol: String, out: String = "lang_pred"): DataFrame = {
    val tokCol = tempName(df, "__tok",
      suffixes = LangMarkers.map { case (l, _) => s"_ls_$l" })
    def scoreCol(lang: String) = s"${tokCol}_ls_$lang"
    val withTok = df.withColumn(tokCol, tokens(col(textCol)))
    // the score names are collision-checked above: one projection adds them
    val scored = withTok.select(col("*") +: LangMarkers.map { case (lang, markers) =>
      langScoreFromTokens(col(tokCol), markers).as(scoreCol(lang))
    }: _*)
    val best = LangMarkers.map(_._1)
      .foldLeft(lit(null).cast(StringType) -> lit(-1.0)) {
        case ((bestLang, bestScore), lang) =>
          val s = col(scoreCol(lang))
          (when(s > bestScore, lit(lang)).otherwise(bestLang),
            when(s > bestScore, s).otherwise(bestScore))
      }
    // zero evidence (empty/null/non-Latin text: every score 0) -> null
    // prediction, not the alphabetically-first language — a downstream
    // `lang_pred = 'de'` filter must not silently ingest such docs
    scored.withColumn(out, when(best._2 > 0, best._1).otherwise(lit(null).cast(StringType)))
      .withColumn(out + "_score", round(best._2, 6))
      .drop(tokCol)
      .drop(LangMarkers.map { case (l, _) => scoreCol(l) }: _*)
  }

  /**
   * Quality signals: length, alphabetic/digit/punctuation/whitespace ratios,
   * mean token length, stopword ratio — combined into a [0,1] score with the
   * usual "too short / too symbol-heavy / no stopwords" penalties.
   */
  def qualityScore(df: DataFrame, textCol: String): DataFrame = {
    val tokCol = tempName(df, "__tok")
    val ccCol  = tempName(df, "__cc")
    val t = col(textCol)
    val n = length(t).cast(DoubleType)
    // one byte pass for all three ASCII class counts (was three regex
    // scans of the document — the dominant cost of this operator)
    val alpha = element_at(col(ccCol), 1).cast(DoubleType)
    val digit = element_at(col(ccCol), 2).cast(DoubleType)
    val punct = element_at(col(ccCol), 3).cast(DoubleType)
    val tok = col(tokCol)
    val nTok = size(tok).cast(DoubleType)
    // sum of token lengths == length of the no-separator join (codegen'd;
    // an aggregate() lambda is interpreted per element)
    val meanTokLen = when(nTok > 0,
      length(array_join(tok, "")).cast(DoubleType) / nTok)
      .otherwise(lit(0.0))
    val stop = langScoreFromTokens(tok, TextOps.LangMarkers.flatMap(_._2).distinct)
    val score =
      when(n < 20, lit(0.0)).otherwise(
        round(least(lit(1.0),
          (alpha / greatest(n, lit(1.0))) * lit(0.5) +
            least(stop * lit(5.0), lit(1.0)) * lit(0.3) +
            when(meanTokLen.between(3.0, 10.0), lit(0.2)).otherwise(lit(0.0))), 6))
    df.withColumn(ccCol,
        org.apache.spark.sql.catalyst.expressions.grafttext.TextKernelExpressions
          .asciiClassCounts(t))
      .withColumn(tokCol, tokens(t))
      .withColumn("n_chars_m", n.cast(LongType))
      .withColumn("alpha_ratio", round(alpha / greatest(n, lit(1.0)), 6))
      .withColumn("digit_ratio", round(digit / greatest(n, lit(1.0)), 6))
      .withColumn("punct_ratio", round(punct / greatest(n, lit(1.0)), 6))
      .withColumn("mean_tok_len", round(meanTokLen, 6))
      .withColumn("quality", score)
      .drop(tokCol, ccCol)
  }

  /** C0 control characters except \t \n \r, plus DEL — the bytes a corpus
    * cleanup strips before training (they carry no text and break
    * downstream tokenizers). RE2-compatible, so the DuckDB oracle applies
    * the identical class. */
  val ControlCharRe: String = """[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"""

  /** Canonical text cleanup: strip control characters, then Unicode NFC
    * (composed form — "e"+U+0301 becomes U+00E9, U+212B becomes U+00C5).
    * The NFC step is a native codegen expression with an ASCII zero-copy
    * fast path (grafttext.NfcNormalizeExpr), so the common all-ASCII row
    * costs one byte scan; the regexp runs at scan speed map-side. */
  def normalizeText(text: Column): Column =
    org.apache.spark.sql.catalyst.expressions.grafttext.TextKernelExpressions
      .nfcNormalize(regexp_replace(text, lit(ControlCharRe), lit("")))

  /** Compression-ratio quality signal (deflated bytes / raw bytes, raw
    * deflate level 6): templated or repetitive documents compress far below
    * natural prose, making this the tokenizer-free complement to
    * [[repetitionSignals]] — Gopher/DCLM pipelines gate on it directly
    * (e.g. drop ratio < 0.2 as boilerplate, > 0.95 as binary junk). One
    * native codegen pass per document, map-side; no DuckDB oracle exists
    * (no SQL deflate), so the contract is spec-pinned against a reference
    * JVM call plus ordering invariants. */
  def compressionRatio(text: Column): Column =
    org.apache.spark.sql.catalyst.expressions.grafttext.TextKernelExpressions
      .deflateRatio(text)

  /** Hashing-trick term-frequency vector of width `dim` over the token
    * stream — the fixed-width featurizer a linear quality/language
    * classifier consumes (fastText-style). One-pass native codegen kernel;
    * bucket ids are md5-based, so any engine reproduces them. */
  def hashingTfVector(text: Column, dim: Int): Column =
    org.apache.spark.sql.catalyst.expressions.graftdedup.HashSketchExpressions
      .hashingTf(tokens(text), dim)

  /** Sparse form of [[hashingTfVector]]: `array<struct<bucket, tf>>` of the
    * NON-ZERO buckets only, sorted by bucket. Same md5-based bucket ids, but
    * per-row cost tracks the token count, not `dim` — at the realistic
    * 2^18–2^21 feature widths the dense kernel allocates 2–16 MB per
    * document; this one allocates O(distinct tokens). Prefer it whenever
    * the vector is consumed row-wise (explode, idf weighting, scoring). */
  def hashingTfSparseVector(text: Column, dim: Int): Column =
    org.apache.spark.sql.catalyst.expressions.graftdedup.HashSketchExpressions
      .hashingTfSparse(tokens(text), dim)

  /**
   * Hashed TF-IDF rows (doc, bucket, weight): hashed term frequencies
   * re-weighted by smoothed inverse document frequency
   * `ln((N + 1) / (df_bucket + 1)) + 1` — the standard linear-model
   * featurization. Built on the SPARSE kernel end to end, so `dim` can be
   * the fastText-realistic 2^18–2^21 without a dense per-row intermediate,
   * and the idf table stays DISTRIBUTED: one tiny aggregation over the
   * non-zero (doc, bucket) rows (partial-aggregated map-side, bounded by
   * `dim`) broadcast-joined back onto the same rows — no driver collect, no
   * `array(lit × dim)` plan constant, and no separate driver action: the
   * document count N rides into the idf table as a broadcast scalar
   * (cross-join of a 1-row aggregate), so the whole featurization is ONE
   * executed query. The corpus is tokenized twice — once for the df
   * statistics, once for the weighted output — the standard
   * global-statistic-then-apply shape; cache the input upstream if the
   * second scan matters.
   */
  def hashingTfIdf(df: DataFrame, idCol: String, textCol: String,
                   dim: Int): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    // "bucket"/"tfidf" are contract output names; an idCol of the same name
    // would make the output ambiguous — fail loudly (chunkDocuments rule)
    require(!Set("bucket", "tf", "tfidf").contains(idCol),
      s"idCol '$idCol' collides with a hashingTfIdf output column — rename it first")
    val bt = tempName(df, "__bt")
    val tfRows = df
      .select(col(idCol),
        explode(hashingTfSparseVector(col(textCol), dim)).as(bt))
      .select(col(idCol), col(s"$bt.bucket").as("bucket"), col(s"$bt.tf").as("tf"))
    // N counts ALL docs (token-less ones too, which tfRows excludes) — a
    // 1-row aggregate broadcast onto the idf table, replacing the r7-flagged
    // separate df.count() job. (N+1) takes the same long→double promotion
    // the old driver-side literal did, so weights stay bit-identical.
    val nRow = df.agg(count(lit(1)).as("__n"))
    val idfTbl = tfRows.groupBy(col("bucket"))
      .agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(nRow))
      // same double-op order as ln((N+1)/(df+1)) + 1 computed anywhere:
      // divide, log, add — bit-stable across engines modulo an ulp in ln
      .select(col("bucket"),
        (log((col("__n") + lit(1)).cast(DoubleType) / (col("__df") + lit(1)))
          + lit(1.0)).as("__idf"))
    // every tfRows bucket appears in idfTbl by construction, so the inner
    // broadcast join is row-preserving; the big side never shuffles
    tfRows.join(broadcast(idfTbl), Seq("bucket"))
      .select(col(idCol), col("bucket"),
        round(col("tf").cast(DoubleType) * col("__idf"), 6).as("tfidf"))
  }

  /**
   * Apply a trained linear model (fastText-style quality / language
   * classifier) at scan speed: emits (`idCol`, `score`) with
   * `score = sigmoid(w · tf + bias)` over the hashed TF vector of width
   * `weights.length`. One native one-pass kernel per document — no
   * featurize-then-join, no dense vector, no shuffle; the weights ride as a
   * codegen reference object, so a 2^21-dim model is ~16 MB of task state,
   * not a plan literal. Train offline on [[hashingTfIdf]] features, fold
   * the idf into the weights (idf is constant at scoring time), and score
   * the full corpus with this. Null text scores null.
   */
  def scoreLinear(df: DataFrame, idCol: String, textCol: String,
                  weights: Array[Double], bias: Double): DataFrame = {
    require(!Set("score").contains(idCol),
      s"idCol '$idCol' collides with the scoreLinear output column — rename it first")
    df.select(col(idCol),
      org.apache.spark.sql.catalyst.expressions.graftdedup.HashSketchExpressions
        .linearScore(tokens(col(textCol)),
          scala.collection.immutable.ArraySeq.unsafeWrapArray(weights), bias)
        .as("score"))
  }

  /**
   * Result of [[trainLinearModel]]. `losses(i)` is the mean logistic loss
   * at the weights BEFORE iteration i's update, measured on iteration i's
   * batch (the full corpus unless `sampleFraction < 1`); `batchSizes(i)`
   * is that batch's row count. An iteration whose hash-gated batch drew
   * EMPTY records `(NaN, 0)` — a no-op for the weights — so both arrays
   * always index by iteration (`losses.length == itersRun`).
   * `itersRun < iters` means the relative-loss early stop fired.
   */
  final case class LinearTrainResult(weights: Array[Double], bias: Double,
                                     itersRun: Int, losses: Array[Double],
                                     batchSizes: Array[Long])

  /** Largest supported hashed-feature dimension for in-engine training:
    * the per-iteration driver gradient is one dense `Array[Double]`, i.e.
    * 8·dim bytes (128 MB at this cap). Beyond that the bounded-collect
    * contract stops holding on a default driver — shard the label space
    * or train outside the engine. */
  val MaxTrainDim: Int = 1 << 24

  /**
   * Train a linear quality / language classifier IN-ENGINE: logistic
   * regression by gradient descent over hashed-TF features, closing the
   * featurize → train → score loop ([[hashingTfSparseVector]] /
   * [[scoreLinear]]) without leaving Spark. `labelCol` holds 0.0 / 1.0
   * targets; returns (weights, bias) ready for [[scoreLinear]]. This is
   * the fixed-schedule convenience wrapper over [[trainLinearModel]],
   * which adds convergence control (early stop, mini-batching) and the
   * per-iteration loss curve.
   */
  def trainLinear(df: DataFrame, textCol: String, labelCol: String, dim: Int,
                  iters: Int = 20, lr: Double = 1.0,
                  l2: Double = 0.0): (Array[Double], Double) = {
    val r = trainLinearModel(df, textCol, labelCol, dim, iters, lr, l2)
    (r.weights, r.bias)
  }

  /**
   * Full-control in-engine logistic-regression trainer.
   *
   * Scale shape: the corpus is tokenized and hashed ONCE into staged
   * sparse (bucket, tf) pairs; each iteration is ONE distributed
   * aggregation — the per-doc error `sigmoid(margin) - y` is computed
   * map-side by a native kernel whose current weights ride as a codegen
   * reference object (the generated code is identical across iterations,
   * so the codegen cache hits and only the reference values change), then
   * `(bucket, Σ err·tf)` partial-aggregates map-side into at most dim + 1
   * rows (a synthetic bucket −1 appended per doc carries the bias
   * gradient, the batch count, and the batch loss in the same pass)
   * before a gradient-sized collect. Driver traffic per iteration is
   * O(dim) — 8·dim bytes, capped by [[MaxTrainDim]] at 128 MB — never
   * corpus-sized: the same bounded class as the IVF codebook (SURVEY §9).
   *
   * Convergence control:
   *  - `tol > 0` stops early once the relative batch-loss improvement
   *    `|prev − cur| / max(|prev|, 1e-12)` falls below `tol`. The loss is
   *    measured in the SAME aggregation as the gradient (stable softplus
   *    form `max(m,0) + log1p(e^−|m|) − y·m`), so early stop costs zero
   *    extra jobs. With mini-batching the batch loss is a noisy estimate —
   *    pick a coarser `tol` or leave it 0 there.
   *  - `sampleFraction < 1` trains each iteration on a deterministic
   *    hash-gated mini-batch: a row joins iteration i's batch iff
   *    `xxhash64(xxhash64(text), seed + i)` lands under the fraction —
   *    no RNG state, so a rerun with the same seed reproduces the exact
   *    batch schedule (and therefore the exact weights) regardless of
   *    partitioning. Gradients normalize by the OBSERVED batch size.
   *
   * Gradient sums are floating-point aggregations, so trained weights are
   * reproducible for a fixed layout but not bit-portable across
   * partitionings — the contract is behavior (loss decreases, accuracy on
   * held-out data), pinned by spec; SCORING with the returned model stays
   * exactly oracle-able through [[scoreLinear]].
   */
  def trainLinearModel(df: DataFrame, textCol: String, labelCol: String,
                       dim: Int, iters: Int = 20, lr: Double = 1.0,
                       l2: Double = 0.0, tol: Double = 0.0,
                       sampleFraction: Double = 1.0,
                       seed: Long = 42L): LinearTrainResult = {
    require(dim >= 1 && dim <= MaxTrainDim,
      s"dim must be in [1, $MaxTrainDim] (8·dim-byte driver gradient), got $dim")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(lr > 0 && java.lang.Double.isFinite(lr), s"lr must be positive, got $lr")
    require(l2 >= 0 && java.lang.Double.isFinite(l2), s"l2 must be >= 0, got $l2")
    require(tol >= 0 && java.lang.Double.isFinite(tol), s"tol must be >= 0, got $tol")
    require(sampleFraction > 0 && sampleFraction <= 1.0,
      s"sampleFraction must be in (0, 1], got $sampleFraction")
    val X = org.apache.spark.sql.catalyst.expressions.graftdedup.HashSketchExpressions
    val yCol = tempName(df, "__y")
    val spCol = tempName(df, "__sp")
    val hCol = tempName(df, "__h")
    val base = Snapshots.stage(df
      .where(col(textCol).isNotNull && col(labelCol).isNotNull)
      .select(col(labelCol).cast(DoubleType).as(yCol),
        hashingTfSparseVector(col(textCol), dim).as(spCol),
        xxhash64(col(textCol)).as(hCol)))
    val n = base.count() // materializes the stage too
    require(n > 0, "trainLinear: no labeled rows to train on")
    // hash-gate threshold over a fixed 2^20 lattice (exact for fraction 1)
    val gateDen = 1L << 20
    val gateNum = math.min(gateDen, math.ceil(sampleFraction * gateDen).toLong)
    val w = new Array[Double](dim)
    var b = 0.0
    // bias rides as pseudo-bucket -1 with tf 1, appended at gradient time
    // (NOT stored in spCol, which the margin kernel consumes)
    val biasPair = array(struct(lit(-1L).as("bucket"), lit(1L).as("tf")))
    val losses = Array.newBuilder[Double]
    val batchSizes = Array.newBuilder[Long]
    var prevLoss = Double.NaN
    var it = 0
    var stopped = false
    while (it < iters && !stopped) {
      val batch =
        if (gateNum >= gateDen) base
        else base.where(pmod(xxhash64(col(hCol), lit(seed + it)), lit(gateDen))
          < lit(gateNum))
      val margin = X.sparseMargin(col(spCol),
        scala.collection.immutable.ArraySeq.unsafeWrapArray(w), b)
      val err = (lit(1.0) / (lit(1.0) + exp(-margin))) - col(yCol)
      // stable per-doc logistic loss: softplus(m) − y·m
      val lossDoc = greatest(margin, lit(0.0)) +
        log1p(exp(-abs(margin))) - col(yCol) * margin
      val grad = batch
        .select(err.as("__err"), lossDoc.as("__loss"),
          explode(concat(col(spCol), biasPair)).as("__bt"))
        .groupBy(col("__bt.bucket").as("__bk"))
        .agg(sum(col("__err") * col("__bt.tf")).as("__g"),
          // per-doc payloads are only read off the bucket −1 group,
          // where each doc appears exactly once
          sum(when(col("__bt.bucket") === -1L, col("__loss"))).as("__l"),
          count(when(col("__bt.bucket") === -1L, lit(1))).as("__c"))
        .collect()
      var gb = 0.0
      var lossSum = 0.0
      var nBatch = 0L
      val gw = new Array[Double](dim)
      grad.foreach { r =>
        val k = r.getLong(0)
        val v = r.getDouble(1)
        if (k < 0) { gb = v; lossSum = r.getDouble(2); nBatch = r.getLong(3) }
        else gw(k.toInt) = v
      }
      if (nBatch > 0) {
        var i = 0
        while (i < dim) {
          w(i) -= lr * (gw(i) / nBatch + l2 * w(i))
          i += 1
        }
        b -= lr * gb / nBatch
        val curLoss = lossSum / nBatch
        losses += curLoss
        batchSizes += nBatch
        if (tol > 0 && !prevLoss.isNaN &&
            math.abs(prevLoss - curLoss) <=
              tol * math.max(math.abs(prevLoss), 1e-12)) stopped = true
        prevLoss = curLoss
      }
      // an empty hash-gated batch (tiny fraction, tiny corpus) is a
      // no-op iteration for the WEIGHTS, but it still records a (NaN, 0)
      // entry so losses(i)/batchSizes(i) always mean iteration i (the
      // LinearTrainResult contract); prevLoss carries over, so tol
      // compares the nearest REAL losses, never against NaN
      if (nBatch == 0L) { losses += Double.NaN; batchSizes += 0L }
      it += 1
    }
    LinearTrainResult(w, b, it, losses.result(), batchSizes.result())
  }

  /** Content-defined fingerprint: sha2-256 of the token-normalized text
    * (whitespace/punctuation-insensitive — two docs differing only in
    * formatting collide, which is the point). */
  /**
   * An n-gram language model trained in-engine ([[trainNgramLm]]): hashed
   * (context, token) counts plus the context marginals and the training
   * vocabulary size — everything [[ngramLogProbScore]] needs for
   * add-alpha-smoothed conditional probabilities. `grams` and `contexts`
   * are distributed frames (the model can exceed any driver's memory).
   * The gram table is staged ([[Snapshots.stage]]): the context marginal
   * derives FROM it, so an unstaged model would re-run the full training
   * aggregation TWICE per scoring query. Its blocks go when the model
   * does.
   */
  final case class NgramLm(n: Int, vocabSize: Long,
                           grams: DataFrame, contexts: DataFrame)

  /**
   * Train an n-gram LM over the hashed token stream — the CCNet-style
   * quality signal: score candidate documents by cross-entropy under a
   * model of a trusted reference corpus, and filter on the score
   * (Wenzek et al. 2020, arXiv:1911.00359 §4.3 use a 5-gram KenLM; the
   * add-alpha n-gram here is its engine-native, exactly-reproducible
   * counterpart).
   *
   * Counts are keyed by the engine-portable md5-31 hash of the context
   * (the n-1 preceding tokens joined with spaces) and of the token, so
   * the DuckDB oracle reproduces every key; hash collisions merge counts
   * IDENTICALLY in both engines (the hash IS the identity, as in
   * [[hashingTfVector]]). Scale shape: position pairs explode map-side
   * from each doc's token array, counts partial-aggregate before one
   * shuffle on the 8-byte key pair, the context marginal reuses the gram
   * aggregate, and nothing ever collects to the driver except the single
   * vocabulary-size scalar.
   */
  def trainNgramLm(corpus: DataFrame, textCol: String, n: Int = 3): NgramLm = {
    require(n >= 2, s"n must be >= 2 (unigrams have no context), got $n")
    val X = org.apache.spark.sql.catalyst.expressions.graftdedup.HashSketchExpressions
    val toksC = tokens(col(textCol))
    // one native codegen kernel per row (graftdedup.NgramPairsExpr); the
    // interpreted transform/slice/array_join lambda chain this replaced
    // dominated the LM family's wall time (the DSIR-kernel lesson)
    val pairs = corpus
      .select(toksC.as("__t"))
      .filter(size(col("__t")) >= n)
      .select(explode(X.ngramPairs(col("__t"), n)).as("__g"))
      .select(col("__g.ctx_h").as("ctx_h"), col("__g.tok_h").as("tok_h"))
    val grams = Snapshots.stage(pairs.groupBy(col("ctx_h"), col("tok_h"))
      .agg(count(lit(1)).as("cnt")))
    val contexts = grams.groupBy(col("ctx_h")).agg(sum(col("cnt")).as("ctx_cnt"))
    val vocabSize = corpus.select(explode(toksC).as("__tok"))
      .select(X.md5Hash31(col("__tok")).as("__h")).distinct().count()
    NgramLm(n, vocabSize, grams, contexts)
  }

  /**
   * Score documents under a trained [[NgramLm]]: for every position with a
   * full (n-1)-token context, `p(tok | ctx) = (cnt + alpha) /
   * (ctx_cnt + alpha * V)` (add-alpha smoothing over the training
   * vocabulary; unseen context => uniform 1/V), and the document score is
   * the mean negative log-probability — low = fluent under the reference
   * model, high = out-of-domain/garbled, the CCNet filtering axis.
   * Documents with fewer than n tokens carry no full-context position and
   * emit no row.
   *
   * Exactness: ln() is the one non-IEEE-exact step (engines differ by an
   * ulp), so each position's logp is fixed to integer MICRO-NATS first —
   * `floor(logp * 1e6 + 0.5)`, the q70 rounding rule — and the per-doc
   * aggregation sums integers (any order, any engine, same result). The
   * returned `avg_neg_logp` divides that exact sum once at the end.
   * Scale shape: two hash joins on 8-byte keys (grams, then contexts);
   * a small model broadcasts under AQE, a corpus-scale model shuffles
   * positions by key — never document text.
   */
  def ngramLogProbScore(docs: DataFrame, idCol: String, textCol: String,
                        lm: NgramLm, alpha: Double = 1.0): DataFrame = {
    require(alpha > 0 && java.lang.Double.isFinite(alpha),
      s"alpha must be positive, got $alpha")
    require(lm.vocabSize > 0, "model has an empty vocabulary")
    require(!Set("ctx_h", "tok_h", "cnt", "ctx_cnt", "n_scored",
        "avg_neg_logp", "__t", "__g", "__lpu").contains(idCol),
      s"idCol '$idCol' collides with an ngramLogProbScore internal/output " +
      "column — rename it first")
    val X = org.apache.spark.sql.catalyst.expressions.graftdedup.HashSketchExpressions
    val n = lm.n
    val toksC = tokens(col(textCol))
    val pos = docs
      .select(col(idCol), toksC.as("__t"))
      .filter(size(col("__t")) >= n)
      // the same native kernel as training (one derivation, one hot path)
      .select(col(idCol), explode(X.ngramPairs(col("__t"), n)).as("__g"))
      .select(col(idCol), col("__g.ctx_h").as("ctx_h"), col("__g.tok_h").as("tok_h"))
    val logp = log(
      (coalesce(col("cnt"), lit(0L)).cast(DoubleType) + lit(alpha)) /
      (coalesce(col("ctx_cnt"), lit(0L)).cast(DoubleType)
        + lit(alpha * lm.vocabSize.toDouble)))
    pos
      .join(lm.grams, Seq("ctx_h", "tok_h"), "left")
      .join(lm.contexts, Seq("ctx_h"), "left")
      .select(col(idCol),
        floor(logp * lit(1e6) + lit(0.5)).cast(LongType).as("__lpu"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_scored"),
        round(-(sum(col("__lpu")).cast(DoubleType) / lit(1e6))
          / count(lit(1)), 6).as("avg_neg_logp"))
  }

  /**
   * Land a trained n-gram LM as catalog tables, so every subsequent
   * [[ngramLogProbScoreIndexed]] batch skips the training aggregation —
   * the land-once / score-many move of
   * [[graft.ops.DedupOps.landNearDupIndex]] applied to the quality model
   * (a reference LM is trained once per corpus release and scores every
   * crawl batch after). Three tables:
   *
   *  - `<name>_grams` (ctx_h, tok_h, cnt), BUCKETED by ctx_h: the scoring
   *    join clusters on the context hash, so a bucketed scan feeds both
   *    the gram and marginal joins without re-shuffling the model;
   *  - `<name>_contexts` (ctx_h, ctx_cnt), bucketed the same;
   *  - `<name>_meta` (n, vocab_size): parameter pinning, landed FIRST —
   *    scoring accepts NO sketch parameters (the q75 meta-table rule), so
   *    training with one n and scoring under another is unrepresentable.
   */
  def landNgramLm(corpus: DataFrame, textCol: String, name: String,
                  n: Int = 3, buckets: Int = 8,
                  path: Option[String] = None): Unit = {
    val spark = corpus.sparkSession
    graft.sources.IndexCatalog.withLandLock(name) {
    val metaExists = graft.sources.IndexCatalog.checkPinned(spark, name,
      "landNgramLm", Seq("n" -> n))
    // the data tables land OUTSIDE the meta gate (landOnce carries its own
    // tableExists check), so a crash between the meta write and the grams
    // landing self-heals on re-run instead of bricking the name — the
    // landNearDupIndex shape. Meta still lands FIRST on a fresh land, so a
    // mid-landing retry with different parameters hits the n-check above.
    if (!metaExists || !spark.catalog.tableExists(s"${name}_grams")
        || !spark.catalog.tableExists(s"${name}_contexts")) {
      val lm = trainNgramLm(corpus, textCol, n)
      if (!metaExists)
        graft.sources.IndexCatalog.writeMeta(spark, name, path,
          Seq("n" -> lm.n, "vocab_size" -> lm.vocabSize))
      graft.sources.BucketedLand.landOnce(lm.grams, s"${name}_grams",
        "ctx_h", Seq("ctx_h", "tok_h"), buckets, path.map(p => s"${p}_grams"))
      graft.sources.BucketedLand.landOnce(lm.contexts, s"${name}_contexts",
        "ctx_h", Seq("ctx_h"), buckets, path.map(p => s"${p}_contexts"))
    }
    }
  }

  /** Score against a landed [[landNgramLm]] model: reads (n, V) from the
    * meta table and the counts from the bucketed tables — row-identical to
    * [[ngramLogProbScore]] with the in-session model (same join pipeline,
    * one source of truth for the arithmetic). */
  def ngramLogProbScoreIndexed(docs: DataFrame, idCol: String, textCol: String,
                               name: String, alpha: Double = 1.0): DataFrame = {
    val spark = docs.sparkSession
    val m = graft.sources.IndexCatalog.requireMeta(spark, name,
      s"no n-gram LM '$name' in the session catalog — run landNgramLm first")
    val lm = NgramLm(m.getAs[Int]("n"), m.getAs[Long]("vocab_size"),
      spark.table(s"${name}_grams"), spark.table(s"${name}_contexts"))
    ngramLogProbScore(docs, idCol, textCol, lm, alpha)
  }

  /**
   * A trained DSIR importance model ([[trainDsir]]): hashed-ngram
   * log-probability ratios between a TARGET corpus (what you want more
   * of) and a RAW corpus (what you are selecting from), plus the totals
   * the smoothing used. `ratios` is DENSE — exactly `dim` rows, one per
   * bucket — so scoring never needs a driver-computed unseen-bucket
   * default (a literal the engines could constant-fold differently);
   * every ratio flows through the row path in both engines.
   */
  final case class DsirModel(dim: Int, alpha: Double, nTarget: Long,
                             nRaw: Long, ratios: DataFrame)

  /** Hashed DSIR features of a text column: unigrams plus adjacent-token
    * bigrams, bucketed by the engine-portable md5-31 hash mod `dim` (the
    * q64 hash family). Null/empty text yields no features. One native
    * codegen kernel (graftdedup.DsirBucketsExpr) — the original
    * interpreted `transform`+`element_at` lambda chain dominated the DSIR
    * family's wall time (per-element Catalyst lambdas are banned from hot
    * paths for exactly this reason; DsirKernelSpec pins bucket-stream
    * identity against a driver-side replay). */
  private def dsirFeatureBuckets(textCol: String, dim: Int): Column =
    org.apache.spark.sql.catalyst.expressions.graftdedup.HashSketchExpressions
      .dsirBuckets(tokens(col(textCol)), dim)

  /**
   * Train a DSIR importance model (Xie et al. 2023, arXiv:2302.03169
   * "Data Selection for Language Models via Importance Resampling"):
   * estimate bag-of-hashed-ngram feature distributions — unigrams +
   * adjacent bigrams hashed into `dim` buckets — over a target and a raw
   * corpus, and keep per-bucket add-alpha-smoothed log-probability
   * ratios. A document's importance weight under the model is
   * `log w(x) = Σ_f c_f(x) · (ln p_target(f) − ln p_raw(f))` —
   * computed by [[dsirScore]], resampled by
   * [[SampleOps.gumbelTopKPerGroup]].
   *
   * Exactness: each side's `ln p` is fixed to integer MICRO-NATS
   * independently (`floor(ln(p)·1e6 + 0.5)`, the q83 rule) and the
   * ratio is a difference of those integers, so scoring sums are exact
   * integer arithmetic in any order on any engine. Scale shape: feature
   * buckets explode map-side and partial-aggregate before ONE shuffle
   * bounded by `dim` rows per side; the only driver scalars are the two
   * feature totals; the ratio table is `dim` rows (KBs) and broadcasts
   * into scoring. Bodies never shuffle.
   */
  def trainDsir(target: DataFrame, raw: DataFrame, textCol: String,
                dim: Int = 1 << 16, alpha: Double = 1.0): DsirModel = {
    require(dim >= 2 && dim <= (1 << 24),
      s"dim must be in [2, 2^24], got $dim")
    require(alpha > 0 && java.lang.Double.isFinite(alpha),
      s"alpha must be positive and finite, got $alpha")
    val spark = target.sparkSession
    def counts(df: DataFrame, as: String) = df
      .select(explode(dsirFeatureBuckets(textCol, dim)).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as(as))
    val t = counts(target, "__ct")
    val r = counts(raw, "__cr")
    val spine = spark.range(dim).select(col("id").as("bucket"))
    val dense = spine
      .join(t, Seq("bucket"), "left").join(r, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("__ct"), lit(0L)).as("__ct"),
        coalesce(col("__cr"), lit(0L)).as("__cr"))
    val tot = dense.agg(sum(col("__ct")), sum(col("__cr"))).head()
    val (nT, nR) = (tot.getLong(0), tot.getLong(1))
    def lnMicro(cnt: Column, total: Long): Column =
      floor(log((cnt.cast(DoubleType) + lit(alpha)) /
        lit(total + alpha * dim)) * lit(1e6) + lit(0.5)).cast(LongType)
    val ratios = Snapshots.stage(dense.select(col("bucket"),
      (lnMicro(col("__ct"), nT) - lnMicro(col("__cr"), nR))
        .as("log_ratio_micro")))
    DsirModel(dim, alpha, nT, nR, ratios)
  }

  /**
   * Score documents under a trained [[DsirModel]]: `logw_micro` is the
   * exact integer micro-nat sum of the per-feature log ratios (positive
   * = the document looks more like the target corpus than the raw one),
   * `n_features` the feature count. Documents with no features (null or
   * token-free text) emit no row. Map-side explode, a broadcast join on
   * the dim-bounded ratio table, one partial-aggregable sum per doc —
   * text never shuffles. Feed the result to
   * [[SampleOps.gumbelTopKPerGroup]] with `logw_micro` as the weight for
   * importance RESAMPLING (sampling ∝ w needs log-space machinery:
   * document weights span thousands of nats, so `exp(logw)` overflows
   * any double).
   */
  def dsirScore(docs: DataFrame, idCol: String, textCol: String,
                model: DsirModel): DataFrame = {
    require(!Set("bucket", "log_ratio_micro", "n_features", "logw_micro")
        .contains(idCol),
      s"idCol '$idCol' collides with a dsirScore internal/output column")
    docs
      .select(col(idCol),
        explode(dsirFeatureBuckets(textCol, model.dim)).as("bucket"))
      .join(broadcast(model.ratios), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_features"),
        sum(col("log_ratio_micro")).as("logw_micro"))
  }

  /**
   * Land a trained DSIR model as catalog tables — train-once /
   * score-many, the [[landNgramLm]] move for the importance model (a
   * target distribution is estimated once per curation campaign and
   * scores every crawl batch after). Two tables:
   *
   *  - `<name>_ratios` (bucket, log_ratio_micro), BUCKETED by bucket:
   *    all `dim` rows, dense;
   *  - `<name>_meta` (dim, alpha, n_target, n_raw): parameter pinning,
   *    landed FIRST — scoring accepts NO model parameters (the q75
   *    meta-table rule), so training under one (dim, alpha) and scoring
   *    under another is unrepresentable.
   */
  def landDsir(target: DataFrame, raw: DataFrame, textCol: String,
               name: String, dim: Int = 1 << 16, alpha: Double = 1.0,
               buckets: Int = 8, path: Option[String] = None): Unit = {
    val spark = target.sparkSession
    graft.sources.IndexCatalog.withLandLock(name) {
    val metaExists = graft.sources.IndexCatalog.checkPinned(spark, name,
      "landDsir", Seq("dim" -> dim, "alpha" -> alpha))
    // data table lands OUTSIDE the meta gate (landOnce self-checks), so a
    // crash between the meta write and the ratios landing self-heals —
    // the landNgramLm shape
    if (!metaExists || !spark.catalog.tableExists(s"${name}_ratios")) {
      val model = trainDsir(target, raw, textCol, dim, alpha)
      if (!metaExists)
        graft.sources.IndexCatalog.writeMeta(spark, name, path,
          Seq("dim" -> model.dim, "alpha" -> model.alpha,
            "n_target" -> model.nTarget, "n_raw" -> model.nRaw))
      graft.sources.BucketedLand.landOnce(model.ratios, s"${name}_ratios",
        "bucket", Seq("bucket"), buckets, path.map(p => s"${p}_ratios"))
    }
    }
  }

  /** Score against a landed [[landDsir]] model: (dim, alpha, totals) come
    * from the meta table, ratios from the bucketed table — row-identical
    * to [[dsirScore]] with the in-session model (same feature expression,
    * same join+sum pipeline, one source of truth). */
  def dsirScoreIndexed(docs: DataFrame, idCol: String, textCol: String,
                       name: String): DataFrame = {
    val spark = docs.sparkSession
    val m = graft.sources.IndexCatalog.requireMeta(spark, name,
      s"no DSIR model '$name' in the session catalog — run landDsir first")
    val model = DsirModel(m.getAs[Int]("dim"), m.getAs[Double]("alpha"),
      m.getAs[Long]("n_target"), m.getAs[Long]("n_raw"),
      spark.table(s"${name}_ratios"))
    dsirScore(docs, idCol, textCol, model)
  }

  /**
   * Train a BPE subword tokenizer IN-ENGINE (Sennrich et al. 2016,
   * arXiv:1508.07909): ONE distributed pass builds the word-frequency
   * table (the classic BPE insight — merges depend only on word counts,
   * never on word order or document boundaries), the top `maxWords`
   * distinct words collect to the driver (bounded, the codebook-class
   * collect: counts desc / word asc, deterministic under ties), and the
   * merge loop runs driver-side over that table. Each iteration counts
   * adjacent symbol pairs weighted by word frequency and merges the most
   * frequent (ties resolve to the lexicographically smallest (left,
   * right) pair, so retraining reproduces the identical merge list on any
   * cluster layout). Words segment as code-point symbols plus a terminal
   * `</w>`.
   *
   * Returns the ordered merge list — feed it to [[bpeEncode]] /
   * [[bpeSubwordCount]], whose native kernel replays the same greedy so
   * training words round-trip to their final training segmentation.
   */
  def trainBpeMerges(corpus: DataFrame, textCol: String, numMerges: Int,
                     maxWords: Int = 1 << 20): Seq[(String, String)] = {
    require(numMerges >= 1 && numMerges <= (1 << 17),
      s"numMerges must be in [1, ${1 << 17}], got $numMerges")
    require(maxWords >= 1, s"maxWords must be >= 1, got $maxWords")
    // limit(maxWords + 1) probe (the lineDedup blocklist pattern): a
    // corpus whose distinct-word count exceeds the cap trains on the
    // top-maxWords cut, which CHANGES the merges — that must be loud, not
    // silent (VERDICT r12 "no silent caps"). Training still proceeds
    // (the frequency cut is the standard BPE practice), but the operator
    // says so on the driver log with the knob to raise.
    val probe: Array[(String, Long)] = corpus
      .select(explode(tokens(col(textCol))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__w"))
      .limit(maxWords + 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    if (probe.length > maxWords)
      org.slf4j.LoggerFactory.getLogger(TextOps.getClass).warn(
        s"trainBpeMerges: corpus has more than maxWords=$maxWords distinct " +
          "words; training on the top-frequency cut (counts desc / word " +
          "asc). The trained merges depend on this truncation — raise " +
          "maxWords to cover the full vocabulary if that matters.")
    val words = probe.take(maxWords)
    val vocab: Array[(Array[String], Long)] = words.map { case (w, c) =>
      val syms = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < w.length) {
        val cc = Character.charCount(w.codePointAt(i))
        syms += w.substring(i, i + cc)
        i += cc
      }
      syms += "</w>"
      (syms.toArray, c)
    }
    // INCREMENTAL trainer (the classic shape): pair counts update only for
    // the words a merge touches, and the argmax comes from a lazy-deletion
    // max-heap — a merge costs O(affected words), not O(corpus symbols),
    // so numMerges x vocabulary stays tractable at the permitted maxima.
    val pairCounts = scala.collection.mutable.HashMap[(String, String), Long]()
    val pairWords = scala.collection.mutable
      .HashMap[(String, String), scala.collection.mutable.Set[Int]]()
    // max count first; ties -> lexicographically SMALLEST (left, right)
    val heapOrd = new Ordering[(Long, String, String)] {
      def compare(x: (Long, String, String), y: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(x._1, y._1)
        if (c != 0) c
        else {
          val l = y._2.compareTo(x._2)
          if (l != 0) l else y._3.compareTo(x._3)
        }
      }
    }
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, String, String)](heapOrd)
    def updatePairs(wi: Int, syms: Array[String], c: Long, sign: Int,
                    push: Boolean): Unit = {
      var i = 0
      while (i < syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        val nc = pairCounts.getOrElse(p, 0L) + sign * c
        if (nc <= 0L) { pairCounts.remove(p); () }
        else {
          pairCounts.update(p, nc)
          if (push) heap.enqueue((nc, p._1, p._2))
        }
        if (sign > 0)
          pairWords.getOrElseUpdate(p, scala.collection.mutable.Set[Int]()) += wi
        i += 1
      }
    }
    vocab.indices.foreach(wi =>
      updatePairs(wi, vocab(wi)._1, vocab(wi)._2, 1, push = false))
    pairCounts.foreach { case ((l, r), c) => heap.enqueue((c, l, r)) }
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var exhausted = false
    while (merges.length < numMerges && !exhausted) {
      // lazy deletion: discard heap entries whose count is stale
      var best: (String, String) = null
      while (best == null && heap.nonEmpty) {
        val (c, l, r) = heap.dequeue()
        if (pairCounts.getOrElse((l, r), 0L) == c) best = (l, r)
      }
      if (best == null) exhausted = true
      else {
        merges += best
        // the merged pair never recurs (all its occurrences fuse into the
        // new symbol), so its membership set retires with it
        val affected = pairWords.remove(best)
          .getOrElse(scala.collection.mutable.Set.empty[Int])
        affected.foreach { wi =>
          val (syms, c) = vocab(wi)
          var has = false
          var i = 0
          while (!has && i < syms.length - 1) {
            has = syms(i) == best._1 && syms(i + 1) == best._2
            i += 1
          }
          if (has) { // membership sets are never pruned, so entries can be stale
            updatePairs(wi, syms, c, -1, push = true)
            val out = scala.collection.mutable.ArrayBuffer[String]()
            var p = 0
            while (p < syms.length) {
              if (p < syms.length - 1 && syms(p) == best._1 && syms(p + 1) == best._2) {
                out += syms(p) + syms(p + 1); p += 2
              } else { out += syms(p); p += 1 }
            }
            vocab(wi) = (out.toArray, c)
            updatePairs(wi, vocab(wi)._1, c, 1, push = true)
          }
        }
        pairCounts.remove(best)
      }
    }
    merges.toSeq
  }

  /** Land a learned BPE merge list as a catalog table (rank, left,
    * right) — train once per corpus release, tokenize every batch after
    * ([[loadBpeMerges]] + [[bpeEncode]]). The table is tiny (numMerges
    * rows); rank order IS the merge order, so a round-trip reproduces
    * the identical segmentation. Idempotent: an existing table wins
    * (drop it to re-land). */
  def landBpeMerges(merges: Seq[(String, String)], spark: org.apache.spark.sql.SparkSession,
                    name: String, path: Option[String] = None): Unit = {
    if (!spark.catalog.tableExists(name)) {
      import spark.implicits._
      val w = merges.zipWithIndex
        .map { case ((l, r), i) => (i, l, r) }
        .toDF("rank", "left", "right")
        .write.mode("overwrite").format("parquet")
      path.fold(w)(p => w.option("path", p)).saveAsTable(name)
    }
  }

  /** Load a landed merge list in rank order. */
  def loadBpeMerges(spark: org.apache.spark.sql.SparkSession, name: String): Seq[(String, String)] = {
    require(spark.catalog.tableExists(name),
      s"no BPE merge table '$name' in the session catalog — run landBpeMerges first")
    spark.table(name).orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
  }

  /** BPE-segment text under a learned merge list ([[trainBpeMerges]]):
    * tokenize (the standard lowercased alnum runs), then the native
    * kernel replays the merges per word — subwords stream out flat, each
    * word ending in its `</w>`-terminal symbol. The rank table rides as a
    * codegen reference object; segmentation runs at scan speed. */
  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column =
    org.apache.spark.sql.catalyst.expressions.grafttext.TextKernelExpressions
      .bpeEncode(tokens(text), merges)

  /** Subword count under a learned BPE — the "how many tokens will my LLM
    * see" column the pack/budget ops consume. */
  def bpeSubwordCount(text: Column, merges: Seq[(String, String)]): Column =
    size(bpeEncode(text, merges)).cast(LongType)

  def fingerprint(text: Column): Column =
    sha2(array_join(tokens(text), " "), 256)

  /**
   * Corpus vocabulary: the `k` most frequent tokens with total occurrence
   * and document-frequency counts — the tokenizer-training / stopword-
   * discovery pre-pass. The explode runs map-side; the shuffle carries
   * (token, partial count) pairs bounded by DISTINCT tokens per partition
   * (partial aggregation), and the top-k orders the AGGREGATED table
   * (vocabulary-sized, orders of magnitude below the corpus). `exactDocFreq
   * = false` swaps the exact distinct-doc count for HLL
   * `approx_count_distinct` — the right trade at 10^9 docs, where exact
   * distinct expands the shuffle by the (token, doc) pair count.
   */
  def vocabulary(df: DataFrame, idCol: String, textCol: String, k: Int,
                 exactDocFreq: Boolean = true): DataFrame = {
    val exploded = df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
    val docFreq =
      if (exactDocFreq) count_distinct(col(idCol))
      else approx_count_distinct(col(idCol))
    exploded.groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"), docFreq.as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(k)
  }

  /**
   * VOCABULARY COVERAGE per document — the tokenizer-fit signal: what
   * fraction of a document's token OCCURRENCES fall inside a given
   * vocabulary (a [[vocabulary]] result, a landed tokenizer vocab, a
   * benchmark's word list). Low coverage means the tokenizer will
   * shatter the doc into bytes/unknowns — route it to a different
   * tokenizer, or surface it as an encoding/language outlier. Output:
   * `(<idCol>, n_tokens, n_in_vocab, coverage_ppm)` — occurrence-
   * weighted (a rare OOV word repeated 100 times hurts 100 tokens of
   * training data, so it counts 100 times), integer floor-div ppm.
   * Token-less documents emit no row (there is nothing to cover).
   *
   * Shape: one explode + a BROADCAST membership join (vocabularies are
   * small by definition) + one per-doc count agg — shuffle carries
   * (id, counts) only, bodies never move.
   */
  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
                    vocab: DataFrame, vocabTokenCol: String = "token"): DataFrame = {
    val v = broadcast(vocab
      .select(col(vocabTokenCol).as("__tok")).distinct()
      .withColumn("__in", lit(1)))
    df.select(col(idCol), explode(tokens(col(textCol))).as("__tok"))
      .join(v, Seq("__tok"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        count(col("__in")).as("n_in_vocab"))
      .withColumn("coverage_ppm",
        expr("n_in_vocab * 1000000 DIV n_tokens"))
  }

  /**
   * Top-k adjacent-token COLLOCATIONS by pointwise mutual information —
   * the tokenizer-vocabulary / phrase-mining pre-pass ("new york",
   * "machine learning" score high; frequent-but-independent pairs score
   * ~0). PMI = ln(P(ab) / (P(a)·P(b))) with bigram probabilities over
   * adjacent-pair count N_bi and unigram probabilities over token count
   * N_uni, computed as one integer-ratio argument so both engines fold
   * the same doubles; the ln lands in integer MICRO-NATS
   * (`floor(x*1e6 + 0.5)`, the n-gram LM rule) BEFORE ranking, so an
   * ulp of ln() drift can never reorder the top-k across engines.
   * `minCount` gates rare pairs (tiny-count PMI is noise — the classic
   * estimator pathology).
   *
   * Shape: one posexplode + one per-doc lag window (the q102 transition
   * shape applied to tokens), two hash aggs (unigrams, bigrams), one
   * one-row totals broadcast, and the rank window runs on k rows after a
   * distributed TakeOrdered. Output: `(token_a, token_b, n_pair, pmi,
   * rank)`, pmi in nats rounded to 6 decimals.
   */
  def collocations(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 30, minCount: Long = 5): DataFrame = {
    require(k > 0 && minCount >= 1,
      "collocations: k must be positive and minCount >= 1")
    val pos = df.select(col(idCol).as("__doc"),
      posexplode(tokens(col(textCol))).as(Seq("__pos", "__tok")))
    // one pass over the exploded tokens yields both totals: every row is a
    // unigram; every row beyond position 0 closes a bigram
    val totals = pos.agg(count(lit(1)).as("__nuni"),
      sum(when(col("__pos") >= 1, lit(1L)).otherwise(lit(0L))).as("__nbi"))
    val uni = pos.groupBy(col("__tok")).agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__doc")).orderBy(col("__pos"))
    val bi = pos
      .withColumn("__prev", lag(col("__tok"), 1).over(w))
      .filter(col("__prev").isNotNull)
      .groupBy(col("__prev").as("token_a"), col("__tok").as("token_b"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    val ca = uni.select(col("__tok").as("token_a"), col("__c").as("__ca"))
    val cb = uni.select(col("__tok").as("token_b"), col("__c").as("__cb"))
    val scored = bi.join(ca, "token_a").join(cb, "token_b")
      .crossJoin(broadcast(totals))
      .withColumn("__pu",
        floor(log((col("n_pair").cast(DoubleType) * col("__nuni") * col("__nuni"))
            / (col("__nbi").cast(DoubleType) * col("__ca") * col("__cb")))
          * lit(1e6) + lit(0.5)).cast(LongType))
    val top = scored
      .orderBy(col("__pu").desc, col("token_a"), col("token_b")).limit(k)
    val wr = org.apache.spark.sql.expressions.Window
      .orderBy(col("__pu").desc, col("token_a"), col("token_b"))
    top.withColumn("rank", row_number().over(wr).cast(LongType))
      .select(col("token_a"), col("token_b"), col("n_pair"),
        (col("__pu").cast(DoubleType) / lit(1e6)).as("pmi"), col("rank"))
  }

  /**
   * Per-group distinct-token cardinality — the lexical-diversity audit of
   * a corpus ("how many distinct words does each source contribute").
   * `approx = false`: exact `count_distinct`, whose shuffle carries the
   * distinct (group, token) pairs — right at vocabulary-scale
   * cardinalities (q95's oracle-checked path). `approx = true`: a
   * Datasketches HLL sketch per group — fixed KB-scale memory per group at
   * ANY cardinality, the only shape that survives 10^9 distinct tokens.
   */
  def distinctTokens(df: DataFrame, groupCol: String, textCol: String,
                     approx: Boolean = false): DataFrame = {
    val tok = tempName(df, "__tok")
    val exploded = df.select(col(groupCol), explode(tokens(col(textCol))).as(tok))
    val agg =
      if (approx) hll_sketch_estimate(hll_sketch_agg(col(tok)))
      else count_distinct(col(tok))
    exploded.groupBy(col(groupCol)).agg(agg.as("n_distinct_tokens"))
  }

  /**
   * MERGEABLE per-group distinct-token sketches: one Datasketches HLL
   * binary per group — the land-once shape for corpus-wide cardinality at
   * scale. Build a sketch per ingest batch / shard / day, store the bytes,
   * and [[mergeDistinctSketches]] unions any subset later WITHOUT
   * re-scanning text: cardinality over arbitrary corpus slices from
   * KB-scale summaries. `lgConfigK` trades size for accuracy (default 12 ≈
   * 2% relative error).
   */
  def distinctTokenSketches(df: DataFrame, groupCol: String, textCol: String,
                            lgConfigK: Int = 12): DataFrame = {
    val tok = tempName(df, "__tok")
    df.select(col(groupCol), explode(tokens(col(textCol))).as(tok))
      .groupBy(col(groupCol))
      .agg(hll_sketch_agg(col(tok), lit(lgConfigK)).as("token_sketch"))
  }

  /** Union [[distinctTokenSketches]] rows (any number of batches) back to
    * one estimate per group. Sketch union is exact over the sketch state —
    * merging per-batch sketches gives the SAME estimate as one pass over
    * the union of the batches (spec-pinned). */
  def mergeDistinctSketches(sketches: DataFrame, groupCol: String): DataFrame =
    sketches.groupBy(col(groupCol))
      .agg(hll_sketch_estimate(hll_union_agg(col("token_sketch"), lit(true)))
        .as("n_distinct_tokens"))

  /**
   * Per-group distribution stats of a numeric column (corpus length/token
   * audits: the "what does this source look like" pre-pass before choosing
   * filter thresholds). Emits count, mean, and by default EXACT
   * linear-interpolation percentiles (same definition as DuckDB's
   * `quantile_cont`, so the operator is exactly oracle-able). Exact
   * percentiles buffer each group's values — right for per-source audits
   * (groups ≈ sources, values ≈ docs per source); at 1e9-docs-per-group
   * scale pass `approx = true`, which swaps in `approx_percentile`
   * (KLL-style bounded sketch, error ≤ 1/`accuracy` in RANK — constant
   * memory per group, mergeable partial aggregation, no buffering).
   */
  def groupStats(df: DataFrame, groupCol: String, valueCol: String,
                 percentiles: Seq[Double] = Seq(0.5, 0.9, 0.99),
                 approx: Boolean = false, accuracy: Int = 10000): DataFrame = {
    require(accuracy >= 1, s"accuracy must be >= 1, got $accuracy")
    require(percentiles.nonEmpty && percentiles.forall(p => p >= 0 && p <= 1),
      s"percentiles must be in [0,1]: $percentiles")
    // label via decimal rounding, not toInt truncation: 0.29 * 100 is
    // 28.999999999999996 in doubles (p28!), and 0.99/0.999 would both
    // truncate to p99 — sub-percent marks become p99_9
    def label(p: Double): String = "p" + BigDecimal(p * 100)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .bigDecimal.stripTrailingZeros.toPlainString
      .replace(".", "_")
    val names = percentiles.map(label)
    require(names.distinct.size == names.size,
      s"percentiles map to duplicate column labels: $names")
    val pCols = percentiles.zip(names).map { case (p, name) =>
      val q =
        if (approx) approx_percentile(col(valueCol), lit(p), lit(accuracy))
          .cast(DoubleType)
        else percentile(col(valueCol), lit(p))
      round(q, 6).as(name)
    }
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        round(avg(col(valueCol)), 6).as("mean") +: pCols: _*)
  }

  /**
   * Context-window chunking: split each document into token windows of
   * `maxTokens` with `overlap` tokens carried between consecutive chunks —
   * the preprocessing step that fits long documents to a model's context
   * (RAG indexing, pretraining with long-doc splits). Chunks are built
   * over a NORMALIZED token stream (lowercase alphanumeric) — but note the
   * tokenizer is the offset-tracking kernel, which lowercases PER CODE
   * POINT: on the rare one-to-many case folds (e.g. U+0130 'İ' →
   * 'i'+U+0307) its token stream can differ from the `lower()`-based
   * [[tokens]] stream that [[fingerprint]]/[[vocabulary]] use, so chunk
   * boundaries are not guaranteed token-identical to those operators on
   * such text (per-code-point folding is what keeps the character offsets
   * exact). `chunk_text` is token-joined — and each row also
   * carries `char_start`/`char_end`, the 1-based inclusive CHARACTER span
   * of the chunk's tokens in the ORIGINAL text, so
   * `substring(text, char_start, char_end - char_start + 1)` reconstructs
   * the display passage (original casing and inter-token punctuation
   * included) for a RAG indexer. Emits one row per chunk: (`chunk_id`
   * 0-based, `chunk_text`, `n_chunk_tokens`, `char_start`, `char_end`);
   * zero-token documents emit no rows.
   *
   * Map-side only: one native tokenize-with-offsets pass, the window count
   * computed arithmetically, and a `posexplode` of a
   * `transform(sequence(...))` of array slices — no shuffle, no UDF, chunk
   * count = ceil((n_tokens - overlap) / step).
   *
   * `keep` carries extra input columns through to every chunk row (e.g.
   * the text itself for substring display, a url, a title) — map-side
   * passthrough, so a downstream that needs them avoids a join back to
   * the corpus on `idCol` (a full extra shuffle at 100 TB).
   */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
                     maxTokens: Int, overlap: Int = 0,
                     keep: Seq[String] = Nil): DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be >= 1, got $maxTokens")
    require(overlap >= 0 && overlap < maxTokens,
      s"overlap must be in [0, maxTokens), got $overlap")
    // the output aliases are part of the contract; an id/keep column of the
    // same name (e.g. re-chunking this function's own output on chunk_id)
    // would resolve ambiguously — fail loudly instead
    val reserved = Set("chunk_id", "chunk_text", "n_chunk_tokens",
      "char_start", "char_end", "__chunk")
    (idCol +: keep).foreach(c => require(!reserved.contains(c),
      s"column '$c' collides with a chunkDocuments output column — rename it first"))
    val step = maxTokens - overlap
    val toCol = tempName(df, "__toff")
    val tok = col(toCol).getField("toks")
    val n = size(tok)
    // ceil((n - overlap) / step), at least 1 window for non-empty docs
    val nChunks = when(n <= 0, lit(0)).otherwise(
      greatest(ceil((n - lit(overlap)).cast(DoubleType) / lit(step))
        .cast(IntegerType), lit(1)))
    val chunks = transform(
      sequence(lit(0), nChunks - 1, lit(1)),
      i => struct(
        array_join(slice(tok, i * step + 1, lit(maxTokens)), " ").as("t"),
        least(n - i * step, lit(maxTokens)).as("m"),
        element_at(col(toCol).getField("starts"), i * step + 1).as("cs"),
        element_at(col(toCol).getField("ends"),
          least(n, i * step + lit(maxTokens))).as("ce")))
    df.withColumn(toCol,
        org.apache.spark.sql.catalyst.expressions.grafttext.TextKernelExpressions
          .tokenizeWithOffsets(col(textCol)))
      .filter(n > 0)
      .select(col(idCol) +: keep.map(col) :+
        posexplode(chunks).as(Seq("chunk_id", "__chunk")): _*)
      .select(col(idCol) +: keep.map(col) :+
        col("chunk_id").cast(LongType).as("chunk_id") :+
        col("__chunk.t").as("chunk_text") :+
        col("__chunk.m").cast(LongType).as("n_chunk_tokens") :+
        col("__chunk.cs").cast(LongType).as("char_start") :+
        col("__chunk.ce").cast(LongType).as("char_end"): _*)
  }

  // --- PII redaction ------------------------------------------------------

  /** RE2-compatible patterns (no backrefs/lookahead), so the identical regex
    * semantics hold in Java (Spark) and RE2 (DuckDB) — the redaction is
    * exactly oracle-able. Order matters: emails first (an email contains
    * digit runs a phone pattern could nibble). */
  val EmailRe: String = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  val Ipv4Re: String  = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
  val PhoneRe: String = """\+?\d[\d().\-\s]{6,16}\d"""

  /** Redact emails / IPv4s / phone-ish digit runs (codegen'd
    * `regexp_replace` chain — runs at scan speed; the usual first pass any
    * training-data pipeline applies before sharing a corpus). */
  def redactPii(text: Column): Column = {
    val e = regexp_replace(text, lit(EmailRe), lit("<EMAIL>"))
    val i = regexp_replace(e, lit(Ipv4Re), lit("<IP>"))
    regexp_replace(i, lit(PhoneRe), lit("<PHONE>"))
  }

  /** Per-kind match counts IN REDACTION ORDER (each kind counted on the
    * text with the earlier kinds already replaced — an IPv4 is digit-run-
    * shaped, so counting phones on raw text would double-count it). The
    * counts are exactly what `redactPii` replaces. */
  def piiCounts(text: Column): (Column, Column, Column) = {
    val afterEmail = regexp_replace(text, lit(EmailRe), lit("<EMAIL>"))
    val afterIp    = regexp_replace(afterEmail, lit(Ipv4Re), lit("<IP>"))
    (regexp_count(text, lit(EmailRe)).cast(LongType),
     regexp_count(afterEmail, lit(Ipv4Re)).cast(LongType),
     regexp_count(afterIp, lit(PhoneRe)).cast(LongType))
  }

  // --- blocklist gate (C4-style bad-phrase filtering) ----------------------

  /** RE2-portable literal escaping: backslash the metacharacters BOTH
    * regex engines recognize, and only those — `Pattern.quote`'s \Q..\E
    * is Java-only (RE2 rejects it), and escaping ordinary letters (`\q`)
    * is an RE2 error. */
  private def re2Quote(s: String): String =
    s.flatMap(c =>
      if ("\\.^$*+?()[]{}|".indexOf(c) >= 0) s"\\$c" else c.toString)

  /** The compiled blocklist pattern [[blocklistHits]] counts — exposed so
    * an oracle (or an external auditor) uses the IDENTICAL regex text.
    * Word boundaries attach PER PHRASE EDGE and only where the edge is a
    * word character — `\b` after a trailing ')' (between two non-word
    * chars) can never match, so "c++ (fast)" would silently never fire
    * under a blanket `\b(...)\b`.
    *
    * PORTABILITY SCOPE (measured, both engines): phrases must be ASCII
    * (enforced) and cross-engine bit-exactness holds for ASCII text.
    * Java's `\b` is Unicode-word-aware while RE2's is ASCII ("éspam"
    * blocks the boundary in Java only), and inline `(?i)` case-folds
    * Unicode in RE2 but ASCII-only in Java ("ſcan" folds to "scan" in
    * RE2 only) — on non-ASCII text the ENGINE's (Java) semantics apply
    * and a DuckDB replay is approximate near non-ASCII letters. */
  def blocklistPattern(phrases: Seq[String],
                       caseInsensitive: Boolean = true): String = {
    require(phrases.nonEmpty, "blocklist must be non-empty")
    require(phrases.forall(_.trim.nonEmpty), "blocklist phrases must be non-blank")
    require(phrases.forall(_.forall(_ < 128)),
      "blocklist phrases must be ASCII — Java and RE2 disagree on Unicode " +
        "case folding and \\b word characters, so a non-ASCII phrase is " +
        "not engine-portable")
    def wordChar(c: Char): Boolean =
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9') || c == '_'
    val alts = phrases.map { p =>
      val lead = if (wordChar(p.head)) "\\b" else ""
      val tail = if (wordChar(p.last)) "\\b" else ""
      s"$lead${re2Quote(p)}$tail"
    }
    val flags = if (caseInsensitive) "(?i)" else ""
    s"$flags(?:${alts.mkString("|")})"
  }

  /**
   * C4-style BLOCKLIST signal: occurrences of ANY blocklist phrase
   * (word-boundary, literal word sequences, case-insensitive by default)
   * — the "List of Dirty, Naughty …"-list filtering step every web-corpus
   * release applies (C4 drops any page with a single hit; softer
   * pipelines threshold on density). ONE compiled alternation evaluated
   * by codegen'd `regexp_count` at scan speed, map-side, no shuffle;
   * the pattern uses only RE2∩Java syntax (`\b`, `(?:…)`, `(?i)`,
   * backslash-escaped metacharacters), so a DuckDB oracle replays the
   * IDENTICAL pattern text — [[blocklistPattern]] is the shared constant.
   * Null text counts 0. Gate with `hits == 0` (the C4 rule) or feed the
   * count into [[graft.ops.GateOps.gate]] rules / [[qualityScore]]
   * composition.
   */
  def blocklistHits(text: Column, phrases: Seq[String],
                    caseInsensitive: Boolean = true): Column =
    coalesce(regexp_count(text, lit(blocklistPattern(phrases, caseInsensitive))),
      lit(0)).cast(LongType)

  // --- repetition signals (Gopher-style quality rules) --------------------

  /** Highest single-token frequency in the array (native one-pass codegen
    * kernel, graftdedup.MaxTokenFreqExpr). */
  private def maxTokenFreqCol(tok: Column): Column =
    org.apache.spark.sql.catalyst.expressions.graftdedup.HashSketchExpressions
      .maxTokenFreq(tok)

  /**
   * Repetition signals over the token stream — the Gopher-rule family:
   * fraction of duplicate word 2-grams (1 - distinct/total) and the share
   * of the single most frequent token. High values mark boilerplate /
   * degenerate generations that near-dedup misses (repetition WITHIN one
   * doc, not across docs).
   */
  def repetitionSignals(df: DataFrame, textCol: String): DataFrame = {
    val tokCol = tempName(df, "__tok")
    val tok = col(tokCol)
    val n = size(tok).cast(DoubleType)
    val total2 = greatest(n - 1, lit(1.0))
    // DedupOps shingling is DISTINCT by construction -> its size is the
    // distinct 2-gram count; built from the already-materialized token
    // column (re-shingling from raw text would tokenize every row twice)
    val distinct2 = size(DedupOps.shinglesFromTokens(tok, 2)).cast(DoubleType)
    val dup2 = when(n >= 2, round(lit(1.0) - distinct2 / total2, 6)).otherwise(lit(0.0))
    val topFrac = when(n > 0,
      round(maxTokenFreqCol(tok).cast(DoubleType) / n, 6)).otherwise(lit(0.0))
    df.withColumn(tokCol, tokens(col(textCol)))
      .withColumn("dup_2gram_frac", dup2)
      .withColumn("top_token_frac", topFrac)
      .drop(tokCol)
  }

  /**
   * SCRIPT-MIX signals: the fraction of non-whitespace characters in the
   * basic Latin, Cyrillic, CJK-unified (BMP), and decimal-digit classes —
   * the cheap complement to [[langId]] for routing mixed-script corpora
   * (a "French" page that is 60% Han is mislabeled; a 40%-digit page is a
   * table dump). Fractions are rounded to 6 decimals over the non-space
   * char count; empty/whitespace-only text scores 0.0 everywhere.
   * Codegen'd `regexp_count` per class — map-side, no UDF. Supplementary-
   * plane CJK (beyond U+9FFF) is outside the counted range (documented
   * trade for BMP-range portability across regex engines).
   */
  def scriptSignals(df: DataFrame, textCol: String): DataFrame = {
    val nonSpace = length(regexp_replace(col(textCol),
      lit("[ \\t\\r\\n]+"), lit(""))).cast(DoubleType)
    def frac(pattern: String): Column =
      when(nonSpace > 0,
        round(regexp_count(col(textCol), lit(pattern)).cast(DoubleType)
          / nonSpace, 6))
        .otherwise(lit(0.0))
    df.withColumn("latin_frac", frac("[A-Za-z]"))
      .withColumn("cyrillic_frac", frac("[Ѐ-ӿ]"))
      .withColumn("han_frac", frac("[一-鿿]"))
      .withColumn("digit_frac", frac("[0-9]"))
  }

  // --- markup stripping (web-corpus text extraction) ----------------------

  /**
   * Strip HTML/XML markup down to running text — the extraction step
   * between a crawled page and every text operator above. Deliberately a
   * fixed REGEX PIPELINE (not a DOM parse): each stage is a codegen'd
   * `regexp_replace`/`replace` whose pattern avoids backreferences and
   * lookaround, so the identical pipeline runs on RE2-based engines (the
   * DuckDB oracle replays it verbatim) and the whole thing stays
   * map-side at scan speed. Stages:
   *
   *  1. drop `<script>`/`<style>` elements WITH their contents
   *     (`(?is)` + lazy body match);
   *  2. drop every remaining tag (`<[^>]*>` -> one space, so adjacent
   *     block elements don't weld words together);
   *  3. decode the five predefined entities + `&nbsp;` (amp LAST, so
   *     `&amp;lt;` decodes to the literal `&lt;` and not `<`);
   *  4. collapse ASCII whitespace runs and trim.
   *
   * Malformed markup degrades gracefully (an unclosed `<` eats to the
   * next `>` or stays literal); this is the documented trade of the
   * regex approach vs a parser.
   */
  def stripMarkup(html: Column): Column = {
    // two passes, not one alternation-with-backreference: RE2 engines
    // have no \1, and <script>...</style> must NOT close a script
    val noScript = regexp_replace(html,
      lit("(?is)<script\\b[^>]*>.*?</script\\s*>"), lit(" "))
    val noStyle = regexp_replace(noScript,
      lit("(?is)<style\\b[^>]*>.*?</style\\s*>"), lit(" "))
    val noTags = regexp_replace(noStyle, lit("<[^>]*>"), lit(" "))
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, ch)) => replace(c, lit(e), lit(ch)) }
    trim(regexp_replace(decoded, lit("[ \\t\\r\\n]+"), lit(" ")))
  }

  /**
   * LINK DENSITY: characters of anchor-element text over characters of
   * the full stripped text, in [0, 1] rounded to 6 decimals — the
   * boilerplate-page signal (nav/footer/link-farm pages score high, main
   * content pages low) every web-corpus quality filter thresholds on.
   * Anchor text is measured through the same strip pipeline as the
   * denominator so nested markup inside `<a>` does not inflate it;
   * pages stripping to nothing score 0.
   */
  def linkDensity(html: Column): Column = {
    val anchors = array_join(
      regexp_extract_all(html, lit("(?is)<a\\b[^>]*>(.*?)</a\\s*>"), lit(1)),
      " ")
    val anchorChars = length(stripMarkup(anchors)).cast(DoubleType)
    val totalChars = length(stripMarkup(html)).cast(DoubleType)
    when(totalChars > 0, round(anchorChars / totalChars, 6))
      .otherwise(lit(0.0))
  }

  /**
   * DISTINCTIVE TERMS per group (class-based TF-IDF, the BERTopic/c-TF-IDF
   * move): for each group, the top-`k` tokens by
   * `tf_{t,g} * ln(n_groups / df_t)` where `df_t` counts GROUPS containing
   * the token — "what vocabulary distinguishes this source/cluster from
   * the others", the first question a corpus audit asks after mixture
   * shares. Tokens present in every group score exactly 0 (ln 1) — generic
   * stopwords self-suppress without a list.
   *
   * Engine-portable: the idf is quantized to integer micro-nats FIRST
   * (`floor(ln(n_groups/df)*1e6 + 0.5)`, the PMI rule — the ln of a ratio
   * of small exact integers), then multiplied by the integer tf, so the
   * score is an exact integer and ranking cannot drift. Shape: one
   * (group, token) hash agg over the exploded tokens, a token-keyed df
   * agg joined back (both partial-aggregable; shuffle carries token keys,
   * never text), a broadcast one-row group count, and a per-group rank
   * window on the scored rows.
   */
  def distinctiveTerms(df: DataFrame, groupCol: String, textCol: String,
                       k: Int = 10): DataFrame = {
    require(k > 0, s"distinctiveTerms: k must be positive, got $k")
    // null groups drop up front: count_distinct(group) would exclude
    // them from n_groups while their tokens inflated df, driving scores
    // of everywhere-tokens negative instead of the documented 0
    val tok = df.filter(col(groupCol).isNotNull)
      .select(col(groupCol).as("__g"),
        explode(tokens(col(textCol))).as("__tok"))
    val tf = tok.groupBy(col("__g"), col("__tok"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("__tok")).agg(count(lit(1)).as("df"))
    val ng = tf.agg(count_distinct(col("__g")).as("__ng"))
    val scored = tf.join(dfreq, Seq("__tok")).crossJoin(broadcast(ng))
      .withColumn("score_micro",
        col("tf") * floor(log(col("__ng").cast(DoubleType) / col("df"))
          * lit(1e6) + lit(0.5)).cast(LongType))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__g"))
      .orderBy(col("score_micro").desc, col("__tok"))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("__g").as(groupCol), col("__tok").as("token"),
        col("tf"), col("df"), col("score_micro"), col("rank"))
  }

  /**
   * TOKEN-DISTRIBUTION DRIFT between two corpus snapshots — PSI
   * (population stability index) with per-token attribution: for every
   * token in the union vocabulary, `(p - q) * ln(p / q)` with add-one
   * smoothing (`p = (c_a+1)/(n_a+V)`, V = union vocab size), the top
   * contributors ranked. This is the release-gate check between two
   * corpus drops: PSI < 0.1 is noise, > 0.25 means the token mix moved
   * and downstream models will feel it — and the per-token rows say WHY
   * (which vocabulary appeared/vanished).
   *
   * Each contribution quantizes to integer pico-nats BEFORE any
   * summation (`floor(term * 1e12 + 0.5)`), so the total PSI is an exact
   * integer sum — no float accumulation order anywhere (the lesson the
   * q91 ulp hunt taught). Shape: one token-count agg per side (8-byte
   * token-hash... no — token keys; bodies never move), a full outer join
   * on the union vocabulary, one-row totals broadcast.
   */
  def tokenDrift(a: DataFrame, b: DataFrame, textCol: String,
                 k: Int = 20): DataFrame = {
    require(k > 0, s"tokenDrift: k must be positive, got $k")
    def counts(df: DataFrame) = df
      .select(explode(tokens(col(textCol))).as("__tok"))
      .groupBy(col("__tok")).agg(count(lit(1)).as("c"))
    val ca = counts(a).withColumnRenamed("c", "c_a")
    val cb = counts(b).withColumnRenamed("c", "c_b")
    val joined = ca.join(cb, Seq("__tok"), "full_outer")
      .select(col("__tok"),
        coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"))
    val totals = joined.agg(sum(col("c_a")).as("__na"),
      sum(col("c_b")).as("__nb"), count(lit(1)).as("__v"))
    val p = (col("c_a") + 1).cast(DoubleType) / (col("__na") + col("__v"))
    val q = (col("c_b") + 1).cast(DoubleType) / (col("__nb") + col("__v"))
    joined.crossJoin(broadcast(totals))
      .withColumn("contrib_pico",
        floor((p - q) * log(p / q) * lit(1e12) + lit(0.5)).cast(LongType))
      .select(col("__tok").as("token"), col("c_a"), col("c_b"),
        col("contrib_pico"))
      .orderBy(col("contrib_pico").desc, col("token"))
      .limit(k)
  }

  /**
   * URL CANONICALIZATION — the normalization pass before URL-keyed dedup
   * of a web crawl. Two crawls of the same page differ in case, default
   * ports, `www.`, tracking parameters, and fragments; dedup on the RAW
   * url misses all of them. Rules (each a fixed RE2-portable regex, so
   * any engine replays the pipeline):
   *
   *  1. trim surrounding whitespace;
   *  2. lowercase the scheme and the host (path/query case is
   *     significant per RFC 3986 and left alone);
   *  3. drop a default port (`:80` for http, `:443` for https);
   *  4. drop a leading `www.` label;
   *  5. drop the fragment (`#...` — never sent to the server);
   *  6. drop tracking parameters (`utm_*`, `fbclid`, `gclid` by
   *     default) wherever they sit in the query string, then repair the
   *     separators (leading `&` after a removed first param, dangling
   *     `?`/`&`).
   *
   * The tracking set is configurable (`trackingParamPatterns`: RE2
   * patterns, each matching a whole parameter NAME). `ref` is
   * deliberately NOT in the default set: it is a functional parameter on
   * many sites (`?ref=<branch>` selects a different page), so stripping
   * it by default would merge genuinely different pages under URL-keyed
   * dedup — callers whose crawl treats `ref` as referral tracking opt in
   * with `defaultTrackingParams :+ "ref"`.
   *
   * Inputs that do not parse as `scheme://authority...` pass through
   * with only the trim applied — a profiler concern, not a crash.
   * Pure map-side scalar: codegen'd regex ops, no shuffle, scan speed.
   */
  val defaultTrackingParams: Seq[String] =
    Seq("utm_[A-Za-z0-9]+", "fbclid", "gclid")

  def canonicalizeUrl(url: Column,
                      trackingParamPatterns: Seq[String]
                        = defaultTrackingParams): Column = {
    require(trackingParamPatterns.nonEmpty,
      "canonicalizeUrl: empty tracking set — pass a pattern list or use " +
        "the default")
    val u = trim(url)
    val parse  = "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)(.*)$"
    val scheme = lower(regexp_extract(u, parse, 1))
    val host0  = lower(regexp_extract(u, parse, 2))
    val rest0  = regexp_extract(u, parse, 3)
    // default port (rule 3) then www. (rule 4); order is irrelevant —
    // the patterns touch opposite ends of the authority
    val host1 = when(scheme === "https", regexp_replace(host0, ":443$", ""))
      .when(scheme === "http", regexp_replace(host0, ":80$", ""))
      .otherwise(host0)
    val host = regexp_replace(host1, "^www\\.", "")
    val noFrag = regexp_replace(rest0, "#.*$", "")
    // split path and query FIRST — tracking-param surgery must never
    // touch the path (a literal `&` in a query-less path is legal and
    // an earlier separator-repair regex corrupted it)
    val path = regexp_extract(noFrag, "^([^?]*)", 1)
    val query0 = when(instr(noFrag, "?") > 0,
      regexp_extract(noFrag, "^[^?]*\\?(.*)$", 1)).otherwise(lit(""))
    // strip `name=value` tracking params wherever they sit (the leading
    // anchor consumes the first param, `&`-anchored matches the rest;
    // non-overlapping scan handles consecutive params), then collapse
    // the separators the removals left behind
    val query1 = regexp_replace(query0,
      s"(?:^|&)(?:${trackingParamPatterns.mkString("|")})=[^&]*", "")
    val query = regexp_replace(regexp_replace(query1, "^&+", ""), "&+$", "")
    val rest = when(query =!= "", concat(path, lit("?"), query))
      .otherwise(path)
    when(scheme =!= "", concat(scheme, lit("://"), host, rest)).otherwise(u)
  }

  /**
   * CONTENT-DEFINED CHUNKING of the text column — the insertion-robust
   * chunker (LBFS/FastCDC family) behind storage-level and delta dedup:
   * chunk boundaries come from a rolling hash of the content itself
   * (`graftdedup.GraftCdcKernel`), so an edit near the front
   * re-synchronizes within one chunk and every later chunk keeps its
   * identity — where fixed-size chunking shifts every boundary and loses
   * all sharing. Output: one row per chunk with `chunk_id`,
   * `char_start`/`char_len` (code points — substring-consistent on any
   * engine), `chunk_text`, and the md5-31 `chunk_hash` the cross-doc
   * sharing joins key on.
   *
   * Expected chunk size ≈ `minLen + 2^maskBits`, hard cap `maxLen`. Pure
   * map-side: a codegen'd boundary expression + posexplode; no shuffle,
   * no state. The 31-polynomial rolling hash (not a random gear table)
   * keeps the whole chunker DuckDB-replayable — the q148 oracle walks
   * the identical recurrence as a recursive CTE.
   */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
                minLen: Int = 16, maskBits: Int = 4,
                maxLen: Int = 64, windowLen: Int = 16): DataFrame = {
    val X = org.apache.spark.sql.catalyst.expressions.graftdedup.CdcExpressions
    val H = org.apache.spark.sql.catalyst.expressions.graftdedup.HashSketchExpressions
    val st = transform(col("__ends"), (e, i) =>
      struct(when(i === 0, lit(0)).otherwise(element_at(col("__ends"), i))
        .as("s"), e.as("e")))
    df.select(col(idCol), col(textCol),
        X.cdcBoundaries(col(textCol), minLen, maskBits, maxLen, windowLen)
          .as("__ends"))
      .select(col(idCol), col(textCol),
        posexplode(st).as(Seq("chunk_id", "__c")))
      .select(col(idCol),
        col("chunk_id").cast(LongType),
        col("__c.s").cast(LongType).as("char_start"),
        (col("__c.e") - col("__c.s")).cast(LongType).as("char_len"),
        col(textCol).substr(col("__c.s") + 1, col("__c.e") - col("__c.s"))
          .as("chunk_text"))
      .withColumn("chunk_hash", H.md5Hash31(col("chunk_text")))
  }

  /**
   * CONTENT-ADDRESSED DELTA-STORAGE report between two corpus versions —
   * what [[cdcChunks]] exists for: chunk both versions, key storage on
   * the chunk hash, and report how much of v2 is genuinely new bytes
   * (chunks whose hash v1's store does not already hold). The number a
   * dataset-versioning system reads before a release: `n_chunks_v2`,
   * `n_new_chunks`, `chars_v2`, `chars_new`, and `delta_ppm` (new/total
   * in integer ppm). Distinct-chunk accounting — a chunk appearing in
   * ten v2 docs stores once.
   *
   * Shape: the [[graft.ops.DedupOps.corpusContainment]] single-pass
   * pattern over chunk hashes — each version chunks map-side ONCE, one
   * two-phase flag aggregate on the hash, a one-row finish. Bodies never
   * shuffle beyond their own chunk rows.
   */
  def cdcDeltaReport(older: DataFrame, newer: DataFrame, idCol: String,
                     textCol: String, minLen: Int = 16, maskBits: Int = 4,
                     maxLen: Int = 64, windowLen: Int = 16): DataFrame = {
    def side(df: DataFrame, in1: Int, in2: Int) =
      cdcChunks(df, idCol, textCol, minLen, maskBits, maxLen, windowLen)
        .select(col("chunk_hash").as("__ch"), col("char_len").as("__len"),
          lit(in1).as("__in1"), lit(in2).as("__in2"))
    side(older, 1, 0).unionAll(side(newer, 0, 1))
      .groupBy(col("__ch"))
      .agg(max(col("__len")).as("__len"), max(col("__in1")).as("__in1"),
        max(col("__in2")).as("__in2"))
      .agg(
        coalesce(sum(col("__in2")), lit(0)).cast(LongType)
          .as("n_chunks_v2"),
        coalesce(sum(when(col("__in2") === 1 && col("__in1") === 0, 1L)
          .otherwise(0L)), lit(0L)).as("n_new_chunks"),
        coalesce(sum(when(col("__in2") === 1, col("__len"))
          .otherwise(0L)), lit(0L)).as("chars_v2"),
        coalesce(sum(when(col("__in2") === 1 && col("__in1") === 0,
          col("__len")).otherwise(0L)), lit(0L)).as("chars_new"))
      .withColumn("delta_ppm",
        when(col("chars_v2") > 0,
          expr("chars_new * 1000000 DIV chars_v2")).otherwise(0L))
  }

  /** Lowercased host of a URL, port stripped — null for inputs that do
    * not parse as `scheme://authority...`. The grouping key feeding
    * [[registrableDomain]]; shares [[canonicalizeUrl]]'s parse regex. */
  def urlHost(url: Column): Column = {
    val parse = "^\\s*[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)(?:.*)$"
    val h = regexp_replace(lower(regexp_extract(trim(url), parse, 1)),
      ":\\d+$", "")
    when(h =!= "", h)
  }

  /** Multi-label public suffixes recognized by [[registrableDomain]] —
    * the high-traffic subset (UK/AU/JP/KR/BR/MX/CN/TW/IN/ZA/AR/TR/NZ
    * second-level registries). Deliberately a HEURISTIC, not the full
    * Mozilla Public Suffix List (an external artifact this zero-egress
    * build cannot vendor): unknown multi-part suffixes degrade to the
    * last-two-labels rule, which over-merges some ccTLD hosts but never
    * splits a real site. Callers with a PSL snapshot pass it in. */
  val DefaultMultiPartSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp", "co.kr", "com.br", "com.mx", "com.cn",
    "com.tw", "co.in", "co.za", "com.ar", "com.tr", "co.nz")

  /**
   * REGISTRABLE DOMAIN of a URL ("site" granularity — the key web-corpus
   * pipelines group by for per-site caps, domain blocklists, and source
   * mixing): one label above the public suffix, so
   * `a.b.news.example.co.uk` → `example.co.uk` and
   * `cdn.example.com` → `example.com`. IPv4 hosts pass through whole
   * (their "last two labels" are octets, not a domain); unparseable
   * inputs yield null. Pure codegen'd regex algebra — map-side, RE2-
   * portable, exactly oracle-able.
   */
  def registrableDomain(url: Column,
                        multiPartSuffixes: Seq[String]
                          = DefaultMultiPartSuffixes): Column = {
    val host = urlHost(url)
    val multiAlt = multiPartSuffixes.map(_.replace(".", "\\.")).mkString("|")
    val multiRe = s"([^.]+\\.(?:$multiAlt))$$"
    val twoRe = "([^.]+\\.[^.]+)$"
    when(host.rlike("""^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$"""), host)
      .otherwise(coalesce(
        when(regexp_extract(host, multiRe, 1) =!= "",
          regexp_extract(host, multiRe, 1)),
        when(regexp_extract(host, twoRe, 1) =!= "",
          regexp_extract(host, twoRe, 1)),
        host))
  }

  /**
   * Per-domain corpus stats — the first report a web-crawl audit reads:
   * rows and total text bytes per [[registrableDomain]], with the
   * domain's corpus share in integer ppm. Null domains (unparseable
   * URLs) aggregate into their own row rather than vanishing — a crawl
   * with 30% junk URLs should say so. One two-phase hash agg + a one-row
   * totals broadcast; no shuffle carries text.
   */
  def domainStats(df: DataFrame, urlCol: String,
                  textCol: String): DataFrame = {
    val dom = registrableDomain(col(urlCol))
    val per = df.select(dom.as("domain"),
        coalesce(length(col(textCol)).cast(LongType), lit(0L)).as("__b"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__b")).as("text_bytes"))
    val tot = per.agg(coalesce(sum(col("n_docs")), lit(0L)).as("__tot"))
    per.crossJoin(broadcast(tot))
      .withColumn("share_ppm", expr("n_docs * 1000000 DIV __tot"))
      .select(col("domain"), col("n_docs"),
        col("text_bytes").cast(LongType).as("text_bytes"), col("share_ppm"))
  }

  /**
   * DOMAIN QUALITY RANKING with empirical-Bayes shrinkage — the
   * RefinedWeb-style domain-level filtering decision ("keep or drop this
   * SITE") made honest about sample size: a domain's raw mean quality is
   * pulled toward the corpus mean by `pseudoCount` phantom documents, so
   * a 2-document domain with two lucky scores cannot outrank an
   * established source, while a 10^6-document domain's shrunk score is
   * its own mean. `metricCol` is any per-document numeric quality signal
   * ([[qualityScore]]'s output, a classifier score, `n_chars`).
   *
   * Integer contract (engine-replayable): the metric quantizes to
   * micro-units (`floor(x * 1e6 + 0.5)` — exact in IEEE doubles for
   * |x| < ~4.5e9) BEFORE any aggregation, so every sum is an exact long
   * and no float accumulation order exists; means and the shrunk score
   * use BIGINT `DIV` — TRUNCATING division (toward zero), matching
   * DuckDB `//` exactly, which for negative-sum domains rounds the
   * micro-mean toward zero rather than down. `shrunk_micro =
   * (sum_micro + pseudoCount * global_mean_micro) DIV (n + pseudoCount)`
   * with `global_mean_micro = total_sum DIV total_docs`. Long-overflow
   * headroom: sums cap at rows × |metric|×1e6 — at 1e9 docs keep the
   * metric under ~9e3 (quality scores are O(1); pre-scale larger
   * metrics).
   *
   * Shape: one per-domain two-phase hash agg (shuffle = domain keys), a
   * one-row global agg broadcast back — text never shuffles. Null
   * domains keep their own row (the junk-URL bucket ranks too); null
   * metrics count as 0 toward the mean (an unscored doc is evidence of
   * nothing — it still dilutes the domain, deliberately).
   */
  def domainQualityRanking(df: DataFrame, urlCol: String, metricCol: String,
                           pseudoCount: Int = 100): DataFrame = {
    require(pseudoCount >= 1,
      s"domainQualityRanking: pseudoCount must be >= 1, got $pseudoCount")
    val micro = coalesce(
      floor(col(metricCol).cast(DoubleType) * 1e6 + 0.5).cast(LongType),
      lit(0L))
    val per = df.select(registrableDomain(col(urlCol)).as("domain"),
        micro.as("__m"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__m")).as("__sum"))
    val glob = per.agg(coalesce(sum(col("__sum")), lit(0L)).as("__gs"),
      coalesce(sum(col("n_docs")), lit(1L)).as("__gn"))
    per.crossJoin(broadcast(glob))
      .withColumn("mean_micro", expr("__sum DIV n_docs"))
      .withColumn("shrunk_micro", expr(
        s"(__sum + $pseudoCount * (__gs DIV __gn)) DIV (n_docs + $pseudoCount)"))
      .select(col("domain"), col("n_docs"), col("mean_micro"),
        col("shrunk_micro"))
  }
}
