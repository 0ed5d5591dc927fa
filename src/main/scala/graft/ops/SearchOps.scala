package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Full-text retrieval over a document corpus: an inverted index (postings
 * lists) and Okapi BM25 ranking. The training-data-pipeline uses are
 * decontamination auditing ("which corpus docs score highest against this
 * eval question?"), targeted quality triage, and duplicate-cluster probing —
 * all of which need *ranked* keyword lookup, not the boolean membership the
 * dedup family provides.
 *
 * Scale design (100 TB corpus, 1000 executors):
 *  - The inline path ([[bm25TopK]]) stages the token arrays ONCE; the only
 *    full-corpus aggregation is the one-row (N, total_dl) stats pass, which
 *    rides into the plan as a broadcast — the per-term work is bounded by
 *    the postings of the query terms, because the term filter lands between
 *    the generate and the shuffle (codegen'd InSet), so the row count that
 *    reaches any exchange is the query terms' tf sum, not the corpus token
 *    count.
 *  - The landed path ([[landSearchIndex]] / [[bm25AgainstIndex]]) is the
 *    steady-state shape: postings land once, BUCKETED BY token and sorted
 *    (token, doc id), so a query's `token IN (...)` prunes to the buckets
 *    holding its terms (SelectedBucketsCount in the scan) and a 3-term query
 *    over a 10^10-doc corpus reads a handful of bucket files. Corpus stats
 *    and per-term document frequencies are tiny side tables; parameters that
 *    must match between indexing and querying are pinned in a meta table
 *    (the [[graft.ops.DedupOps.landNearDupIndex]] rule: queries accept no
 *    parameters the index already owns).
 *
 * Determinism: BM25 is pure double arithmetic over integer (tf, df, dl, N)
 * inputs — reproducible bit-for-bit given the same expression tree. The
 * per-term contributions are cast to DECIMAL(18,9) before the per-document
 * sum so the aggregate is exact and addend-order-independent (the repo-wide
 * exact-sum trick), making rank ties impossible to produce by float
 * reassociation; remaining exact ties break on the id column.
 */
object SearchOps {

  /**
   * EXACT PHRASE SEARCH over a POSITIONAL index — the boolean sibling of
   * [[bm25TopK]]: documents containing the query tokens CONSECUTIVELY, in
   * order, with the match count. BM25 answers "most relevant to these
   * words"; this answers "contains this exact wording" — the right tool
   * for quote-level decontamination audits ("which corpus docs contain
   * this benchmark question verbatim?") and boilerplate hunting.
   *
   * Plan: posexplode to positional postings `(token, doc, pos)`, filter
   * to the PHRASE'S tokens before any shuffle (codegen InSet — the row
   * count reaching the join is the phrase terms' occurrence total, not
   * the corpus token count), then an n-way self-equi-join on
   * `(doc, pos - i)`: token i must sit exactly i after token 0. The join
   * chain is length `phrase.size` (phrases are short); each leg is an
   * equi-join Catalyst plans as a hash join keyed on ints. Output
   * `(<idCol>, n_matches)`, one row per matching doc.
   *
   * Rare-first note: the anchor leg is the phrase's FIRST token; if its
   * postings dwarf the others', AQE's size estimates still build the hash
   * side from the smaller leg — no manual reorder needed at this join
   * shape.
   */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
                   phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch: empty phrase")
    val norm = phrase.map(_.toLowerCase)
    val pos = docs
      .select(col(idCol),
        posexplode(TextOps.tokens(col(textCol))).as(Seq("__pos", "__tok")))
      .filter(col("__tok").isInCollection(norm.distinct))
      // materialize ONCE: each join leg below re-derives this subtree,
      // and without staging an n-token phrase would tokenize the corpus
      // n times; after the InSet filter this is bounded by the phrase
      // terms' postings, not the corpus (review finding)
      .localCheckpoint()
    val legs = norm.zipWithIndex.map { case (t, i) =>
      pos.filter(col("__tok") === t)
        .select(col(idCol), (col("__pos") - i).as("__anchor"))
    }
    val matches = legs.reduce((a, b) => a.join(b, Seq(idCol, "__anchor")))
    matches.groupBy(col(idCol)).agg(count(lit(1)).as("n_matches"))
  }

  /** BM25 per-term contribution. Parenthesization mirrors the DuckDB oracle
    * text exactly — float arithmetic is association-sensitive, so both
    * engines must build the same expression tree. */
  private def bm25Term(tf: Column, df: Column, dl: Column, nDocs: Column,
                       totalDl: Column, k1: Double, b: Double): Column = {
    val idf = log(lit(1.0) + (nDocs - df + lit(0.5)) / (df + lit(0.5)))
    val avgdl = totalDl.cast(DoubleType) / nDocs
    val denom = tf + lit(k1) * (lit(1.0 - b) + (lit(b) * dl) / avgdl)
    ((idf * tf) * lit(k1 + 1.0) / denom).cast(DecimalType(18, 9))
  }

  /** Rank the corpus against `terms` with Okapi BM25
    * (idf = ln(1 + (N - df + 0.5)/(df + 0.5)), Robertson/Sparck Jones as
    * shipped in Lucene): top `k` documents as `(<idCol>, score, rank)`.
    * Score is rounded to 6 decimals; rank ties break on the id. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25TopK: need at least one query term")
    // stage the token arrays once: dl rides alongside, so neither the stats
    // pass nor the postings need a second tokenization or a doclen join
    val tok = docs.select(col(idCol),
      TextOps.tokens(col(textCol)).as("__toks"))
      .withColumn("__dl", coalesce(size(col("__toks")).cast(LongType), lit(0L)))
    // one-row corpus stats -> broadcast scalar (the q66 fold: no separate
    // count() job)
    val stats = tok.agg(count(lit(1)).as("__n_docs"),
      sum(col("__dl")).as("__total_dl"))
    // the term filter sits between the generate and the shuffle (codegen'd
    // InSet; a higher-order array filter would be an interpreted lambda), so
    // the SHUFFLED row count is Σ tf(term), not the corpus token count
    val post = tok
      .select(col(idCol), col("__dl"),
        explode(col("__toks")).as("token"))
      .filter(col("token").isInCollection(terms.map(_.toLowerCase)))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"), max(col("__dl")).as("dl"))
    val dfreq = post.groupBy(col("token")).agg(count(lit(1)).as("df"))
    scoreAndRank(post, broadcast(dfreq), broadcast(stats), idCol, k, k1, b)
  }

  /** Shared scoring tail: postings `(id, token, tf, dl)` x dfreq `(token,
    * df)` x one-row stats `(__n_docs, __total_dl)` -> top-k. Both the inline
    * and the landed path end here, so the arithmetic has one source of
    * truth and the two are row-identical by construction. */
  private def scoreAndRank(post: DataFrame, dfreq: DataFrame, stats: DataFrame,
                           idCol: String, k: Int, k1: Double,
                           b: Double): DataFrame = {
    val scored = post.join(dfreq, "token").crossJoin(stats)
      .select(col(idCol),
        bm25Term(col("tf"), col("df"), col("dl"), col("__n_docs"),
          col("__total_dl"), k1, b).as("__c"))
      .groupBy(col(idCol)).agg(sum(col("__c")).as("__score"))
    // distributed top-k first (TakeOrderedAndProject — per-partition heaps,
    // never a global sort), THEN the rank window over just the k survivors
    val top = scored.orderBy(col("__score").desc, col(idCol)).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__score").desc, col(idCol))
    top
      .withColumn("rank", row_number().over(w))
      .select(col(idCol),
        round(col("__score").cast(DoubleType), 6).as("score"),
        col("rank").cast(LongType).as("rank"))
  }

  /**
   * BATCH BM25 — rank the corpus against a whole TABLE of queries in ONE
   * pass ([[bm25TopK]] is its single-query special case): per query, the
   * top `k` documents as `(<qidCol>, <idCol>, score, rank)`. This is the
   * retrieval-training workhorse shape (mine candidates for thousands of
   * training queries at once); with `exclude` it is hard-negative mining —
   * see [[mineHardNegatives]].
   *
   * Scale shape: the corpus tokenizes ONCE. The union of all query terms
   * prunes the postings BEFORE any shuffle via a broadcast semi-join on
   * `token` (queries are the small side by construction — no driver
   * collect, unlike the single-query InSet), so the exchange carries
   * Σ tf over matched terms, not the corpus token count. Per-query term
   * replication is a second broadcast join; the only wide shuffle is the
   * `(qid, doc)` score aggregation, bounded by Σ over query terms of
   * df(term). The per-query top-k window partitions by qid — each query's
   * candidate set sorts independently. Query sets too large to broadcast
   * should land the index ([[landSearchIndex]]) and shard the query table.
   *
   * Determinism: identical DECIMAL(18,9) staging as [[bm25TopK]]; ranks
   * tie-break on the id.
   */
  def bm25TopKPerQuery(docs: DataFrame, idCol: String, textCol: String,
                       queries: DataFrame, qidCol: String, qtextCol: String,
                       k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
                       exclude: Option[DataFrame] = None): DataFrame = {
    require(k >= 1, s"bm25TopKPerQuery: k must be >= 1, got $k")
    require(qidCol != idCol,
      s"bm25TopKPerQuery: query id column '$qidCol' must be named " +
        "differently from the document id column — alias one side")
    val tok = docs.select(col(idCol),
      TextOps.tokens(col(textCol)).as("__toks"))
      .withColumn("__dl", coalesce(size(col("__toks")).cast(LongType), lit(0L)))
    val stats = tok.agg(count(lit(1)).as("__n_docs"),
      sum(col("__dl")).as("__total_dl"))
    // distinct terms per query (BM25 set semantics, as in the Seq form)
    val qterms = queries.select(col(qidCol),
      explode(array_distinct(TextOps.tokens(col(qtextCol)))).as("token"))
    val termSet = qterms.select(col("token")).distinct()
    val post = tok
      .select(col(idCol), col("__dl"), explode(col("__toks")).as("token"))
      .join(broadcast(termSet), Seq("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"), max(col("__dl")).as("dl"))
    val dfreq = post.groupBy(col("token")).agg(count(lit(1)).as("df"))
    scoreAndRankPerQuery(post, qterms, dfreq, stats, qidCol, idCol,
      k, k1, b, exclude)
  }

  /** Shared per-query scoring tail: postings `(idCol, token, tf, dl)` x
    * per-query terms `(qidCol, token)` x dfreq x one-row stats ->
    * per-query top-k. The inline ([[bm25TopKPerQuery]]) and landed
    * ([[bm25AgainstIndexPerQuery]]) batch paths both end here, so the two
    * are row-identical by construction (the [[scoreAndRank]] rule). */
  private def scoreAndRankPerQuery(post: DataFrame, qterms: DataFrame,
                                   dfreq: DataFrame, stats: DataFrame,
                                   qidCol: String, idCol: String, k: Int,
                                   k1: Double, b: Double,
                                   exclude: Option[DataFrame]): DataFrame = {
    val scored = post
      .join(broadcast(qterms), Seq("token"))
      .join(broadcast(dfreq), Seq("token"))
      .crossJoin(broadcast(stats))
      .select(col(qidCol), col(idCol),
        bm25Term(col("tf"), col("df"), col("dl"), col("__n_docs"),
          col("__total_dl"), k1, b).as("__c"))
      .groupBy(col(qidCol), col(idCol)).agg(sum(col("__c")).as("__score"))
    val pool = exclude match {
      case Some(p) =>
        scored.join(p.select(col(qidCol), col(idCol)),
          Seq(qidCol, idCol), "left_anti")
      case None => scored
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qidCol)).orderBy(col("__score").desc, col(idCol))
    pool.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qidCol), col(idCol),
        round(col("__score").cast(DoubleType), 6).as("score"),
        col("rank").cast(LongType).as("rank"))
  }

  /**
   * [[bm25TopKPerQuery]] against a LANDED [[landSearchIndex]] — the
   * steady-state batch-retrieval shape (mine hard negatives for a new
   * query set without re-tokenizing the corpus): stats from the meta
   * table, postings pruned to the query batch's term UNION by bucket,
   * zero corpus-side recompute. Row-identical to the inline path on the
   * same corpus (shared [[scoreAndRankPerQuery]] tail; duplicate
   * postings from a crashed-and-retried append collapse in the per-
   * (token, doc) aggregate, as in [[bm25AgainstIndex]]).
   *
   * The distinct term union COLLECTS to the driver to become the literal
   * `token IN (...)` the planner needs for bucket pruning — bounded by
   * the same broadcastability assumption the query table already
   * carries, and guarded loudly by `maxQueryTerms` (the blocklist rule:
   * a cap that fails, never truncates). `exclude` = gold pairs, as in
   * [[mineHardNegatives]].
   */
  def bm25AgainstIndexPerQuery(spark: SparkSession, name: String,
                               queries: DataFrame, qidCol: String,
                               qtextCol: String, k: Int = 10,
                               k1: Double = 1.2, b: Double = 0.75,
                               exclude: Option[DataFrame] = None,
                               maxQueryTerms: Int = 100000): DataFrame = {
    require(k >= 1, s"bm25AgainstIndexPerQuery: k must be >= 1, got $k")
    require(qidCol != "doc_id",
      "bm25AgainstIndexPerQuery: the landed doc id column is 'doc_id' — " +
        "name the query id column differently")
    val mrow = graft.sources.IndexCatalog.requirePinned(spark, name,
      s"no search index '$name' in the session catalog — run landSearchIndex first",
      "bm25AgainstIndex", Seq("analyzer" -> TextOps.analyzerId))
    val qterms = queries.select(col(qidCol),
      explode(array_distinct(TextOps.tokens(col(qtextCol)))).as("token"))
    val termList = qterms.select(col("token")).distinct()
      .limit(maxQueryTerms + 1).collect().map(_.getString(0)).toSeq
    if (termList.length > maxQueryTerms)
      throw new IllegalStateException(
        s"bm25AgainstIndexPerQuery: query batch has more than " +
          s"$maxQueryTerms distinct terms — shard the query table or " +
          "raise maxQueryTerms")
    // r16: the corpus stats ride as literals from the requirePinned meta
    // row (same cached read) instead of a one-row parquet scan subtree in
    // every probe plan; appends rewrite meta via writeMeta, which
    // invalidates the cache — same in-JVM coherence as the r16 meta cache
    val stats = spark.range(1)
      .select(lit(mrow.getAs[Long]("n_docs")).as("__n_docs"),
        lit(mrow.getAs[Long]("total_dl")).as("__total_dl"))
    val pruned =
      if (termList.isEmpty) spark.table(s"${name}_postings").filter(lit(false))
      else spark.table(s"${name}_postings")
        .filter(col("token").isInCollection(termList))
    val post = pruned
      .groupBy(col("token"), col("doc_id"))
      .agg(max(col("tf")).as("tf"), max(col("dl")).as("dl"))
    val dfreq = post.groupBy(col("token")).agg(count(lit(1)).as("df"))
    scoreAndRankPerQuery(post, qterms, dfreq, stats, qidCol, "doc_id",
      k, k1, b, exclude)
  }

  /**
   * HARD-NEGATIVE MINING (the DPR/contrastive-training recipe): per
   * training query, the top-`k` BM25-ranked documents that are NOT its
   * labeled positives — lexically close enough to fool a retriever,
   * known not to be answers. `positives` is the `(qidCol, idCol)` gold
   * table; exclusion happens BEFORE the top-k window, so every returned
   * row is a usable negative and the k slots never waste on gold docs.
   * Same plan as [[bm25TopKPerQuery]] plus one anti-join on the pair key.
   */
  def mineHardNegatives(docs: DataFrame, idCol: String, textCol: String,
                        queries: DataFrame, qidCol: String, qtextCol: String,
                        positives: DataFrame, k: Int = 10,
                        k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25TopKPerQuery(docs, idCol, textCol, queries, qidCol, qtextCol,
      k, k1, b, exclude = Some(positives))

  /** Tokenized staging shared by land and append: `(doc_id, __toks, __dl)`. */
  private def stageTok(docs: DataFrame, idCol: String,
                       textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("__toks"))
      .withColumn("__dl", coalesce(size(col("__toks")).cast(LongType), lit(0L)))

  private def postingsOf(tok: DataFrame): DataFrame = tok
    .select(col("doc_id"), col("__dl").as("dl"),
      explode(col("__toks")).as("token"))
    .groupBy(col("token"), col("doc_id"))
    .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    .select(col("token"), col("doc_id"), col("tf"), col("dl"))

  /** Recompute `<name>_meta` from the landed `<name>_docs` table — the one
    * source of truth for corpus stats, so a crashed append converges to a
    * consistent meta on the next call. */
  private def refreshMeta(spark: SparkSession, name: String,
                          path: Option[String]): Unit = {
    val r = spark.table(s"${name}_docs")
      .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("t"))
      .head()
    graft.sources.IndexCatalog.writeMeta(spark, name, path,
      Seq("analyzer" -> TextOps.analyzerId,
        "n_docs" -> r.getAs[Long]("n"), "total_dl" -> r.getAs[Long]("t")))
  }

  /**
   * Land the inverted index once as catalog tables (the land-once /
   * query-many move of [[graft.ops.DedupOps.landNearDupIndex]]):
   *
   *  - `<name>_docs` `(doc_id, dl)` BUCKETED by doc_id — the corpus
   *    membership table: [[appendSearchIndex]]'s idempotency anti-join key
   *    and the single source the meta stats recompute from;
   *  - `<name>_postings` `(token, doc_id, tf, dl)` BUCKETED by token,
   *    sorted (token, doc_id): `token IN (...)` prunes buckets, and dl is
   *    denormalized onto the posting so querying never joins a doc-length
   *    table. Document frequencies are derived from the PRUNED postings at
   *    query time (cheap after bucket pruning) instead of a separate table
   *    — one fewer artifact that could drift under incremental appends;
   *  - `<name>_meta` `(n_docs, total_dl)` — corpus stats, recomputed from
   *    `_docs` so land/append crashes self-heal.
   */
  def landSearchIndex(docs: DataFrame, idCol: String, textCol: String,
                      name: String, buckets: Int = 8,
                      path: Option[String] = None): Unit = {
    val spark = docs.sparkSession
    graft.sources.IndexCatalog.withLandLock(name) {
    graft.sources.IndexCatalog.checkPinned(spark, name, "landSearchIndex",
      Seq("analyzer" -> TextOps.analyzerId)): Unit
    if (!spark.catalog.tableExists(s"${name}_meta")
        || !spark.catalog.tableExists(s"${name}_postings")
        || !spark.catalog.tableExists(s"${name}_docs")) {
      val tok = stageTok(docs, idCol, textCol)
      graft.sources.BucketedLand.landOnce(postingsOf(tok),
        s"${name}_postings", "token", Seq("token", "doc_id"), buckets,
        path.map(p => s"${p}_postings"))
      graft.sources.BucketedLand.landOnce(
        tok.select(col("doc_id"), col("__dl").as("dl")),
        s"${name}_docs", "doc_id", Seq("doc_id"), buckets,
        path.map(p => s"${p}_docs"))
      refreshMeta(spark, name, path)
    }
    }
  }

  /**
   * Fold accepted documents into a landed [[landSearchIndex]] — the
   * steady-state ingest move ([[graft.ops.DedupOps.appendNearDupIndex]]
   * applied to retrieval): postings and doc rows append under the landed
   * bucket specs, and the meta stats recompute from `_docs`. Crash
   * convergence: postings land FIRST, the `_docs` row is the commit
   * marker (the anti-join key), and meta always recomputes — a retry
   * after a mid-append failure re-appends postings whose duplicates
   * COLLAPSE at read time ([[bm25AgainstIndex]] aggregates per (token,
   * doc) before scoring), then lands the marker. Returns the number of
   * new documents folded in.
   */
  def appendSearchIndex(accepted: DataFrame, idCol: String, textCol: String,
                        name: String, path: Option[String] = None): Long = {
    val spark = accepted.sparkSession
    require(spark.catalog.tableExists(s"${name}_docs"),
      s"no search index '$name' in the session catalog — run landSearchIndex first")
    graft.sources.IndexCatalog.checkPinned(spark, name, "appendSearchIndex",
      Seq("analyzer" -> TextOps.analyzerId)): Unit
    // cross-application writer lease on the index family (r15; see
    // appendNearDupIndex)
    graft.sources.WriterLease.withWriterLease(spark, name) {
    val spec = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        s"${name}_postings"))
      .bucketSpec.getOrElse(throw new IllegalStateException(
        s"appendSearchIndex('$name'): postings table is not bucketed"))
    // snapshot the batch before any table it reads gets written (the
    // appendNearDupIndex rule: inserts invalidate cached plans that
    // reference the target)
    val staged = stageTok(accepted, idCol, textCol)
      .dropDuplicates("doc_id")
      .join(spark.table(s"${name}_docs").select("doc_id"),
        Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val n = staged.count()
    if (n > 0) {
      // bucket-aligned appends: at most numBuckets files per append (see
      // the appendNearDupIndex note; compactTable collapses the history)
      postingsOf(staged).repartition(spec.numBuckets, col("token"))
        .write.mode("append")
        .bucketBy(spec.numBuckets, "token").sortBy("token", "doc_id")
        .format("parquet").saveAsTable(s"${name}_postings")
      staged.select(col("doc_id"), col("__dl").as("dl"))
        .repartition(spec.numBuckets, col("doc_id"))
        .write.mode("append")
        .bucketBy(spec.numBuckets, "doc_id").sortBy("doc_id")
        .format("parquet").saveAsTable(s"${name}_docs")
    }
    // unconditional: heals a stale meta left by a crash between the docs
    // append and a previous refresh
    refreshMeta(spark, name, path)
    n
    }
  }

  /**
   * Collapse a search index's accumulated append files to one file per
   * bucket ([[graft.sources.BucketedLand.compactTable]] on `_postings` and
   * `_docs`; the single-row `_meta` never needs it). Row-preserving — and
   * because [[bm25AgainstIndex]] aggregates per (token, doc) at read time,
   * also safe to run at ANY point of the append protocol: duplicate
   * postings left by a crashed-and-retried append survive compaction and
   * keep collapsing at read. Returns per-table (filesBefore, filesAfter).
   */
  def compactSearchIndex(spark: SparkSession,
                         name: String): Map[String, (Long, Long)] =
    // family lease outside, compactTable's table lease nests inside
    // (family -> table order; WriterLease scaladoc)
    graft.sources.WriterLease.withWriterLease(spark, name) {
      Seq(s"${name}_postings", s"${name}_docs").map { t =>
        t -> graft.sources.BucketedLand.compactTable(spark, t)
      }.toMap
    }

  /** BM25 against a landed [[landSearchIndex]]: corpus stats from the meta
    * table, postings pruned to the query terms by bucket, document
    * frequencies derived from the pruned postings — zero corpus-side
    * recompute, row-identical to [[bm25TopK]] on the same corpus (same
    * [[scoreAndRank]] tail). The per-(token, doc) aggregate collapses the
    * duplicate postings a crashed-and-retried append can leave, so reads
    * are correct at every point of the append protocol. */
  def bm25AgainstIndex(spark: SparkSession, name: String, terms: Seq[String],
                       k: Int = 10, k1: Double = 1.2,
                       b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25AgainstIndex: need at least one query term")
    val mrow = graft.sources.IndexCatalog.requirePinned(spark, name,
      s"no search index '$name' in the session catalog — run landSearchIndex first",
      "bm25AgainstIndex", Seq("analyzer" -> TextOps.analyzerId))
    val lowered = terms.map(_.toLowerCase)
    // r16: stats as literals from the cached meta row (see the per-query
    // variant above for the coherence argument)
    val stats = spark.range(1)
      .select(lit(mrow.getAs[Long]("n_docs")).as("__n_docs"),
        lit(mrow.getAs[Long]("total_dl")).as("__total_dl"))
    val post = spark.table(s"${name}_postings")
      .filter(col("token").isInCollection(lowered))
      .groupBy(col("token"), col("doc_id"))
      .agg(max(col("tf")).as("tf"), max(col("dl")).as("dl"))
    val dfreq = post.groupBy(col("token")).agg(count(lit(1)).as("df"))
    scoreAndRank(post, broadcast(dfreq), broadcast(stats), "doc_id", k, k1, b)
  }

  /**
   * RECIPROCAL RANK FUSION (Cormack/Clarke/Büttcher 2009) of N ranked
   * lists — the standard hybrid-retrieval combiner: lexical BM25 and
   * embedding-cosine rankings disagree on scale and calibration, but
   * `Σ_lists 1/(kRrf + rank)` needs only the RANKS, which is why RRF is
   * the default fusion in every hybrid search stack. Each input is a
   * `(id, rank)` frame (any upstream retriever: [[bm25TopK]],
   * `SimOps.cosineTopK`, a recency ranking...); an id missing from a list
   * contributes 0 from it.
   *
   * Engine-portable arithmetic: contributions are integer
   * `1e9 DIV (kRrf + rank)` units (floor division) summed as longs — no
   * float reciprocals, so no engine can reorder-diverge a tie; final ties
   * break on the id. Output: the id, one nullable `rank_<name>` column
   * per input list (the provenance a relevance debugger reads),
   * `rrf_units`, and the fused `rank`.
   *
   * Scale shape: the lists UNION into one frame and fuse in a single
   * two-phase hash aggregate keyed on the id (per-list ranks recovered
   * with max-of-tagged in the same agg) — no N-way outer join, no sort-
   * merge, one shuffle of Σk rows total regardless of list count; the
   * final top-k is a TakeOrderedAndProject over at most Σk fused rows.
   * Ids must be unique WITHIN each list (they are, for rankings).
   */
  def rrfFuse(rankings: Seq[(String, DataFrame)], idCol: String,
              k: Int = 10, kRrf: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: need at least one ranking")
    require(rankings.map(_._1).distinct.size == rankings.size,
      "rrfFuse: ranking names must be distinct")
    require(k >= 1 && kRrf >= 0, s"rrfFuse: need k >= 1, kRrf >= 0")
    val tagged = rankings.map { case (name, df) =>
      df.select(col(idCol), lit(name).as("__list"),
        col("rank").cast(LongType).as("__rank"))
    }
    val aggs = rankings.map { case (name, _) =>
      max(when(col("__list") === name, col("__rank"))).as(s"rank_$name")
    } :+ sum(expr(s"1000000000 DIV ($kRrf + __rank)")).as("rrf_units")
    val fused = tagged.reduce(_.unionByName(_))
      .groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
      // integer unit sums stay in long range for any sane list count
      // (≤ 2^63 / 1.6e7 lists); cast pins the column type regardless
      .withColumn("rrf_units", col("rrf_units").cast(LongType))
    val top = fused.orderBy(col("rrf_units").desc, col(idCol)).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rrf_units").desc, col(idCol))
    top.withColumn("rank", row_number().over(w).cast(LongType))
  }
}
