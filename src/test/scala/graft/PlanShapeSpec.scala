package graft

import org.apache.spark.sql.functions._

import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graftkernel.RddStage

import graft.ops.{Cast, DedupOps, Snapshots}

/** Regression tests for the plan shapes the scale design depends on
  * (SURVEY §9): exchange reuse across chained per-cast ops, digest-keyed
  * dedup, pruned scans. */
class PlanShapeSpec extends SparkTestBase {

  import spark.implicits._

  private def events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")

  private def countOccurrences(s: String, sub: String): Int =
    s.sliding(sub.length).count(_ == sub)

  /** True when `plan`, or a frame staged under one of its leaves by
    * `Snapshots.stage` (the leaf's `RddStage.StagedPlan` tag), holds a
    * ScalaUDF. Node-class check, not string matching: a NAMED ScalaUDF
    * renders without the 'UDF' substring in plan text. */
  private def hasScalaUdf(plan: LogicalPlan): Boolean =
    plan.exists(p =>
      p.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF])) ||
      p.getTagValue(RddStage.StagedPlan).exists(hasScalaUdf))

  test("despike's 8 window stages share ONE hash exchange") {
    val plan = Cast.despike(events, "user_id", "event_id", Seq("value"), 2, 20, 16)
      .queryExecution.executedPlan.toString
    assert(countOccurrences(plan, "Exchange hashpartitioning") == 1, plan)
  }

  test("chained WINDOW per-cast ops (despikeWindowed -> movingAverage -> " +
       "interpolate) still one exchange") {
    val ev = events.withColumn("pressure", col("event_id").cast("double"))
    val chained = Cast.interpolateIndex(
      Cast.movingAverage(
        Cast.despikeWindowed(ev, "user_id", "event_id", Seq("value"), 2, 20, 16),
        "user_id", "event_id", Seq("value"), 5),
      "user_id", "event_id", Seq("value"))
    val plan = chained.queryExecution.executedPlan.toString
    // identical partitioning/order on every stage -> EnsureRequirements
    // inserts exactly one hash exchange for the whole chain
    assert(countOccurrences(plan, "Exchange hashpartitioning") == 1, plan)
  }

  test("kernel despike in a window chain shares the chain's ONE exchange") {
    val ev = events.withColumn("pressure", col("event_id").cast("double"))
    val chained = Cast.interpolateIndex(
      Cast.movingAverage(
        Cast.despike(ev, "user_id", "event_id", Seq("value"), 2, 20, 16),
        "user_id", "event_id", Seq("value"), 5),
      "user_id", "event_id", Seq("value"))
    val plan = chained.queryExecution.executedPlan.toString
    // the sequential kernel (default despike — measured ~7x the windowed
    // plan's throughput at block=100, BenchChain r10) keeps the cast
    // column's attribute and reports its input's partitioning and order,
    // so the downstream window chain needs no exchange of its own
    assert(countOccurrences(plan, "Exchange hashpartitioning") == 1, plan)
  }

  test("QC chain (lpFilter -> despike -> pressCheck -> split.down -> " +
       "windowed bindata) runs its upstream ONCE: one scan, no join") {
    val raw = graft.sources.CtdRead.cnv(spark,
      s"$dataDir/CTD-spiked-unfiltered.cnv.bz2")
    val valueCols = raw.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.DoubleType &&
        f.name != "pressure" => f.name
    }.toSeq
    val lp = graft.ops.SeqOps.lpFilter(raw, "cast_id", "scan_order")
    val d = Cast.despike(lp, "cast_id", "scan_order", valueCols,
      n1 = 2.0, n2 = 20.0, block = 100)
    val dn = Cast.split(Cast.pressCheck(d, "cast_id", "scan_order", valueCols),
        "cast_id", "scan_order")
      .filter(col("direction") === "down")
    val out = Cast.bindataAverage(dn, "cast_id", "scan_order", valueCols,
      delta = 1.0, edgesViaWindow = true)
    val plan = out.queryExecution.executedPlan.toString
    // one exchange and one sort, scan -> lpFilter: the kernels pass the
    // cast partitioning and the (cast, scan) order through to each other
    // and to the window chain; the bin aggregate keys on the cast, so the
    // windows' partitioning already satisfies it
    assert(countOccurrences(plan, "BatchScan ctd") == 1, plan)
    assert(countOccurrences(plan, "MapGroups") == 0, plan)
    assert(countOccurrences(plan, "GroupKernel") == 2, plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(countOccurrences(plan, "Exchange hashpartitioning") == 1, plan)
    assert(countOccurrences(plan, "Sort [") == 1, plan)
  }

  test("two reads of one ctd source canonicalize equal: the shuffle of " +
       "the second is a ReusedExchange") {
    val raw = graft.sources.CtdRead.cnv(spark, s"$dataDir/CTD_with_sigma_e00.cnv")
    val savedBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val a = raw.groupBy("cast_id").agg(max("pressure").as("p1"))
      val b = raw.groupBy("cast_id").agg(max("pressure").as("p2"))
      val plan = a.join(b, "cast_id").queryExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange"), plan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
    }
  }

  test("exact dedup never keys a shuffle on the document body") {
    val docs = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa")).toDF("doc_id", "text")
    // PHYSICAL plan: 'hashpartitioning' never prints in the logical plan,
    // so the earlier optimizedPlan scan asserted nothing (r6 review)
    val plan = DedupOps.exactDedup(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    // the aggregate/join keys are the digest + id — no partitioning by the
    // raw text column anywhere
    val exchanges = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, s"expected digest-keyed exchanges:\n$plan")
    exchanges.foreach { l =>
      assert(!l.contains("text#"), s"text column used as shuffle key:\n$plan")
    }
  }

  test("ctd scan reports pushed filters and pruned columns in the plan") {
    val df = graft.sources.CtdRead.cnv(spark, s"$dataDir/CTD_with_sigma_e00.cnv")
      .filter(col("pressure") >= 100.0)
      .select("cast_id", "pressure")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("pushed=[") && plan.contains("GreaterThanOrEqual"), plan)
  }

  test("ANN top-k plans push the rank limit below the full sort (WindowGroupLimit)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = graft.ops.SimOps.cosineTopK(e, e.filter(col("vec_id") < 2),
        "vec_id", "embedding", k = 5)
      .queryExecution.executedPlan.toString
    // rank() <= k prunes per-partition before the final per-query sort — the
    // difference between a top-k and a full materialized ranking at 1e9 rows
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("LSH band self-join reuses ONE exchange at cluster scale (no broadcast)") {
    val docs = Seq((1L, "aa bb cc dd ee ff"), (2L, "aa bb cc dd ee gg"),
      (3L, "zz yy xx ww vv uu")).toDF("doc_id", "text")
    val savedBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // AQE performs the same reuse at runtime via its stage cache; disable it
    // here so the static ReuseExchange rule makes the reuse visible in the
    // plan string
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = DedupOps.nearDuplicatePairs(docs, "doc_id", "text")
        .queryExecution.executedPlan.toString
      // both self-join sides derive from the identical band table: with the
      // small-table broadcast disabled (the 1e9-doc regime), EnsureRequirements
      // plans identical shuffles and one side reuses the other's
      assert(plan.contains("ReusedExchange"), plan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
    }
  }

  test("nearDedupAgainstIndex reads _bands and _shingles as bucketed scans; " +
       "exchange count pinned") {
    val idx = "plan_shape_ndidx"
    def dropIndex(): Unit =
      Seq(s"${idx}_bands", s"${idx}_shingles", s"${idx}_meta").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        val loc = new java.io.File(s"spark-warehouse/$t")
        if (loc.exists()) org.apache.commons.io.FileUtils.deleteDirectory(loc)
      }
    val landed = (0L until 30L).map { i =>
      (i, s"landed document number $i with shared boilerplate and tail token$i")
    }.toDF("rid", "body")
    val incoming = Seq(
      (100L, "landed document number 7 with shared boilerplate and tail token7 extra"),
      (101L, "entirely fresh material nothing in common")).toDF("doc_id", "text")
    val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
    dropIndex()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      DedupOps.landNearDupIndex(landed, "body", idx)
      val plan = DedupOps.nearDedupAgainstIndex(incoming, "doc_id", "text", idx)
        .queryExecution.executedPlan.toString
      Seq("_bands", "_shingles").foreach { t =>
        val scans = plan.linesIterator.filter(_.contains(s"$idx$t[")).toSeq
        assert(scans.nonEmpty && scans.forall(_.contains("Bucketed: true")),
          s"$idx$t should read as a bucketed scan:\n$plan")
      }
      // the landed tables never re-shuffle: the 3 hash exchanges key the
      // increment (doc_id; the (doc_id, __ref_id) candidate distinct), and
      // at this size the band scan, the shingle scan and the increment's
      // shingle sets broadcast
      assert(countOccurrences(plan, "Exchange hashpartitioning") == 3, plan)
      assert(countOccurrences(plan, "BroadcastExchange") == 3, plan)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
      dropIndex()
    }
  }

  test("bucketed ingest: per-cast window chain runs with ZERO exchanges") {
    val table = "bucketed_casts_test"
    val bucketed = graft.sources.CtdRead.ingestBucketed(
      spark, "cnv", s"$dataDir/CTD_with_sigma_e00.cnv", table, buckets = 4)
    try {
      // the WINDOW formulation composes with bucketing end to end (so do
      // the kernels, and kernels feeding windows: see below)
      val chained = Cast.interpolateIndex(
        Cast.despikeWindowed(bucketed, "cast_id", "scan_order",
          Seq("t068C"), 2, 20, 16),
        "cast_id", "scan_order", Seq("t068C"))
      val plan = chained.queryExecution.executedPlan.toString
      // the bucketed scan already provides hash distribution on cast_id:
      // EnsureRequirements inserts NO shuffle for the whole window chain
      assert(countOccurrences(plan, "Exchange hashpartitioning") == 0, plan)
      assert(chained.count() > 0)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("bucketed ingest: kernel despike over the bucketed scan plans ZERO " +
       "exchanges (typed grouping on the cast column sees the buckets)") {
    val table = "bucketed_kernel_test"
    val bucketed = graft.sources.CtdRead.ingestBucketed(
      spark, "cnv", s"$dataDir/CTD_with_sigma_e00.cnv", table, buckets = 4)
    try {
      val out = Cast.despike(bucketed, "cast_id", "scan_order",
        Seq("t068C"), 2, 20, 16)
      val plan = out.queryExecution.executedPlan.toString
      assert(countOccurrences(plan, "Exchange hashpartitioning") == 0, plan)
      assert(out.count() > 0)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("bucketed ingest: lpFilter -> despike -> interpolateIndex plans ZERO " +
       "exchanges") {
    val table = "bucketed_kernel_chain_test"
    val bucketed = graft.sources.CtdRead.ingestBucketed(
      spark, "cnv", s"$dataDir/CTD_with_sigma_e00.cnv", table, buckets = 4)
    try {
      val chained = Cast.interpolateIndex(
        Cast.despike(graft.ops.SeqOps.lpFilter(bucketed, "cast_id", "scan_order"),
          "cast_id", "scan_order", Seq("t068C"), 2, 20, 16),
        "cast_id", "scan_order", Seq("t068C"))
      val plan = chained.queryExecution.executedPlan.toString
      assert(countOccurrences(plan, "Exchange hashpartitioning") == 0, plan)
      assert(chained.count() > 0)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("pipeline query plans contain no ScalaUDF nodes (native kernels only)") {
    // pins the no-UDF-boundary guarantee: shingling, sketches, sampling,
    // band keys, text signals all run as native codegen expressions,
    // inside staged inputs too
    val dir = "/root/testdata/sf0.001"
    // q37 joined this list when section's station-distance UDF became
    // column haversine algebra (the last ScalaUDF in an operator path)
    Seq("q25_near_dup_pairs", "q27_simhash", "q31_langid", "q32_quality",
        "q37_section", "q44_repetition", "q45_hash_split",
        "q49_stratified_sample", "q50_pack_sequences",
        "q51_vocabulary",
        // round-9 families: semantic dedup, duplicate spans, ngram LM,
        // corpus diff, BPE — all native expressions / column algebra
        "q79_semantic_pairs", "q80_semantic_dedup", "q81_duplicate_spans",
        "q82_strip_spans", "q83_ngram_lm_score", "q84_corpus_diff",
        "q86_bpe_tokenize",
        // late round-9 families: event sessions/windows, random
        // projection, shard manifests, token-weighted mixture — window
        // algebra, mat_project, and hash/CASE column chains throughout
        "q88_sessions", "q89_windowed_events", "q90_sessionize",
        "q91_random_projection", "q92_ann_projected", "q93_shard_manifest",
        "q94_mixture_tokens", "q95_distinct_tokens", "q96_funnel",
        "q97_retention",
        // wave-3 families: BM25 scoring, skew profiling, transitions,
        // blocked fuzzy join, curriculum — column algebra end to end
        "q98_bm25", "q101_key_skew", "q102_transitions",
        "q103_fuzzy_join", "q104_curriculum",
        // wave-4 families: salted/interval joins (hash + explode column
        // algebra), CMS sketch (md5-31 buckets), fixed-point pagerank,
        // z-score standardization, markup regex pipeline
        "q109_salted_join", "q110_interval_join", "q111_cms_heavy_hitters",
        "q112_pagerank", "q113_standardize_embeddings",
        "q114_markup_strip", "q116_weighted_topk",
        "q117_corpus_report", "q119_winsorize",
        "q120_script_mix",
        // wave-5 families: column profiler (stack over one agg), URL
        // regex pipeline, contamination counts — column algebra only
        "q122_profile_columns", "q124_url_dedup",
        "q125_contamination_report",
        // wave-6 families: c-TF-IDF, PSI drift, hopping windows —
        // micro-nat/pico-nat quantized column algebra end to end
        "q130_distinctive_terms", "q131_token_drift",
        "q133_hopping_windows",
        // wave-7 families: prefix-filtered set join, join-size
        // pre-flight, session paths, mergeable profiles
        "q134_set_similarity_join", "q135_join_cardinality",
        "q136_session_paths", "q137_profile_segments",
        // composition queries: window algebra + broadcast stats joins
        "q138_rate_spikes",
        // positional phrase search: term-filtered postings equi-joins
        "q140_phrase_search", "q141_vocab_coverage").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.optimizedPlan
      assert(!hasScalaUdf(plan), s"$q plan contains a ScalaUDF:\n$plan")
    }
  }

  test("the ScalaUDF check sees a UDF planted under Snapshots.stage") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val len = udf((s: String) => if (s == null) 0 else s.length)
    val staged = Snapshots.stage(
      docs.select(col("doc_id"), len(col("text")).as("n")))
    val plan = staged.filter(col("n") > 0).queryExecution.optimizedPlan
    // the stage is a leaf: its UDF is not among the plan's own expressions
    assert(!plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF]))),
      plan)
    assert(hasScalaUdf(plan), s"staged UDF not found:\n$plan")
    // and one stage deeper
    val twice = Snapshots.stage(staged.filter(col("n") > 1))
      .queryExecution.optimizedPlan
    assert(hasScalaUdf(twice), s"doubly staged UDF not found:\n$twice")
    // a listed query's stages are open to the walk too: every staged leaf
    // of q25 (its shingles, a self-joined stage among them) keeps its tag
    val q25 = SparkEntry.queries("q25_near_dup_pairs")(spark,
      "/root/testdata/sf0.001").queryExecution.optimizedPlan
    val leaves = q25.collect { case r: org.apache.spark.sql.execution.LogicalRDD => r }
    assert(leaves.nonEmpty &&
      leaves.forall(_.getTagValue(RddStage.StagedPlan).isDefined), q25)
  }

  test("q47 bucketed QC chain: no hash exchange between land and windows") {
    // the driver-contract query itself (not just an ad-hoc chain): the only
    // exchange in its plan is the final ORDER BY's range partitioning
    try {
      val df = SparkEntry.queries("q47_bucketed_qc")(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      assert(countOccurrences(plan, "Exchange hashpartitioning") == 0, plan)
      assert(df.count() > 0)
    } finally {
      val tbl = "graft_q47_" + math.abs("/root/testdata/sf0.001".hashCode).toString
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  test("hashingTfIdf: corpus rows reach the idf join UNSHUFFLED via " +
       "broadcast; the only hash exchange is the dim-bounded idf agg") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = graft.ops.TextOps.hashingTfIdf(docs, "doc_id", "text", 64)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"idf table must broadcast-join onto the tf rows:\n$plan")
    // exactly one hash exchange: the groupBy(bucket) building the idf table
    // (bounded by dim rows post-aggregation); the corpus-sized tf-rows side
    // must NOT be repartitioned for the join
    assert(countOccurrences(plan, "Exchange hashpartitioning") == 1, plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("wave-4 plan shapes: interval join is an equi-join (no nested " +
       "loop), weighted top-k keeps the WindowGroupLimit pushdown, the " +
       "rollup report scans the corpus once via Expand") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    // the whole point of the bucketed interval join: a range-only theta
    // join would plan BroadcastNestedLoop and compare |points| x |intervals|
    val ijPlan = SparkEntry.queries("q110_interval_join")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!ijPlan.contains("BroadcastNestedLoopJoin") &&
      !ijPlan.contains("CartesianProduct"),
      s"interval join fell back to a nested loop:\n$ijPlan")
    val tkPlan = graft.ops.SampleOps.weightedTopKPerGroup(
        spark.read.parquet(s"$dir/documents.parquet"),
        "lang", "doc_id", "n_chars", k = 5)
      .queryExecution.executedPlan.toString
    assert(tkPlan.contains("WindowGroupLimit"),
      s"weighted top-k must keep the rank pushdown:\n$tkPlan")
    // rollup = ONE scan through Expand, never a scan per grouping set
    val rrPlan = SparkEntry.queries("q117_corpus_report")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(rrPlan.contains("Expand") &&
      countOccurrences(rrPlan, "documents.parquet") <= 1,
      s"rollup must expand one scan:\n$rrPlan")
    // salted join: the join keys carry the salt column on both sides
    val fact = Seq((1L, "k1", 1.0)).toDF("row_id", "k", "v")
    val dim = Seq(("k1", 2L)).toDF("k", "attr")
    val sjPlan = graft.ops.JoinOps.saltedJoin(fact, dim, "k", "row_id",
        Map("k1" -> 4))
      .queryExecution.optimizedPlan.toString
    assert(sjPlan.contains("__salt"),
      s"salted join lost its salt key:\n$sjPlan")
  }

  test("capPerGroup plans a WindowGroupLimit below the sort (per-group " +
       "top-n maintained map-side, no full-group materialization)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = graft.ops.SampleOps.capPerGroup(docs, "source", "doc_id", 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter must push into WindowGroupLimit:\n$plan")
  }

  test("lineDedup rebuild and mixture resample are map-side: no hash " +
       "exchange over the corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // the blocklist aggregation runs at PLAN time (driver collect); the
    // returned frame must be a pure map-side rebuild of the scan
    val ld = DedupOps.lineDedup(docs, "doc_id", "text",
        maxDocFreq = 3, delimiter = " ")
      .queryExecution.executedPlan.toString
    assert(countOccurrences(ld, "Exchange hashpartitioning") == 0, ld)
    // the rebuild is the NATIVE membership filter, not an interpreted
    // ArrayFilter lambda (VERDICT r6 §wrong-3) — unless the corpus has no
    // blocklisted line at all, in which case neither node appears
    assert(!ld.contains("lambdafunction"), ld)
    assert(ld.contains("segments_not_in_hash") || !ld.contains("filter("), ld)
    val mix = graft.ops.SampleOps.resampleToMixture(docs, "doc_id", "source",
        Map("src0" -> 0.5, "src1" -> 0.5), totalRows = 50)
      .queryExecution.executedPlan.toString
    assert(countOccurrences(mix, "Exchange hashpartitioning") == 0, mix)
  }

  test("bloom decontamination prefilters below the exact semi-join") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = DedupOps.contaminatedIdsBloom(docs, "doc_id", "text",
        docs.filter(col("doc_id") < 3), "text", shingleSize = 5)
      .queryExecution.executedPlan.toString
    // the corpus side must carry the might_contain predicate BEFORE its
    // semi-join with the probe set (map-side prefilter at scan speed)
    val joinAt = plan.indexOf("LeftSemi")
    val bloomAt = plan.indexOf("might_contain")
    assert(joinAt >= 0 && bloomAt > joinAt,
      s"bloom prefilter not below the semi-join:\n$plan")
  }

  test("chunking is map-side; incremental dedup never shuffles bodies") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val chunk = graft.ops.TextOps.chunkDocuments(docs, "doc_id", "text",
        maxTokens = 16, overlap = 2)
      .queryExecution.executedPlan.toString
    assert(countOccurrences(chunk, "Exchange hashpartitioning") == 0, chunk)
    // PHYSICAL plan in the NON-broadcast regime (threshold off forces the
    // documented steady-state shape): the landed side must reduce to its
    // digest column before its exchange — an exchange partitioned on the
    // digest alias that still carried the reference text would be the
    // multi-TB body shuffle the operator exists to avoid. The incoming
    // side legitimately shuffles its own rows keyed on sha2(text).
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val refSide = docs.filter(col("doc_id") < 3)
      val against = DedupOps.exactDedupAgainst(docs, "text", refSide, "text")
        .queryExecution.executedPlan.toString
      val refExchanges = against.linesIterator
        .filter(_.contains("Exchange hashpartitioning(__ref_digest")).toSeq
      assert(refExchanges.nonEmpty,
        s"expected a digest-keyed exchange on the landed side:\n$against")
      refExchanges.foreach { l =>
        assert(!l.contains("text#"),
          s"landed side shuffles text alongside its digest:\n$against")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("landOnce validates a pre-existing table's bucket spec and schema") {
    import graft.sources.BucketedLand
    import spark.implicits._
    val df = Seq((1L, "a", 2.0), (2L, "b", 3.0)).toDF("id", "k", "v")
    val tbl = "graft_landonce_guard"
    try {
      BucketedLand.landOnce(df, tbl, "id", Seq("id"), buckets = 4)
      // matching spec: served silently
      assert(BucketedLand.landOnce(df, tbl, "id", Seq("id"), buckets = 4).count() == 2)
      // bucket-count mismatch
      val e1 = intercept[IllegalStateException] {
        BucketedLand.landOnce(df, tbl, "id", Seq("id"), buckets = 8)
      }
      assert(e1.getMessage.contains("bucket spec"))
      // bucket-column mismatch
      intercept[IllegalStateException] {
        BucketedLand.landOnce(df, tbl, "k", Seq("k"), buckets = 4)
      }
      // schema mismatch (extra column)
      val e2 = intercept[IllegalStateException] {
        BucketedLand.landOnce(df.withColumn("extra", lit(1)), tbl, "id", Seq("id"), buckets = 4)
      }
      assert(e2.getMessage.contains("schema"))
      // non-bucketed table under the name
      spark.sql(s"DROP TABLE $tbl")
      df.write.mode("overwrite").format("parquet").saveAsTable(tbl)
      val e3 = intercept[IllegalStateException] {
        BucketedLand.landOnce(df, tbl, "id", Seq("id"), buckets = 4)
      }
      assert(e3.getMessage.contains("not bucketed"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("wave-5 plan shapes: contamination probes and margin-match right " +
       "side broadcast (the corpus side never shuffles into the join)") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val cPlan = graft.ops.DedupOps.contaminationReport(
        docs, "doc_id", "text",
        docs.filter(org.apache.spark.sql.functions.col("doc_id") < 3),
        "text", shingleSize = 5)
      .queryExecution.executedPlan.toString
    assert(cPlan.contains("BroadcastHashJoin"),
      s"probe shingles must broadcast onto the corpus scan:\n$cPlan")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val mPlan = graft.ops.SimOps.marginMutualMatches(
        emb.filter(pmod(col("vec_id"), lit(2L)) === 0),
        emb.filter(pmod(col("vec_id"), lit(2L)) === 1),
        "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(mPlan.contains("BroadcastNestedLoopJoin"),
      s"the right set must broadcast into the cross product:\n$mPlan")
  }

  test("quality gate is a pure projection: zero exchanges, no UDFs, one " +
       "scan — and the funnel is ONE aggregation pass") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rules = graft.ops.GateOps.standardTextRules("text", "lang")
    val gPlan = graft.ops.GateOps.gate(docs, rules)
      .queryExecution.executedPlan.toString
    assert(countOccurrences(gPlan, "Exchange") == 0, gPlan)
    assert(!gPlan.contains("ScalaUDF"), gPlan)
    assert(countOccurrences(gPlan, "FileScan parquet") == 1, gPlan)
    // gateObserved must not change the shape: observe is a CollectMetrics
    // wrapper on rows already flowing
    val oPlan = graft.ops.GateOps.gateObserved(docs, rules)
      .queryExecution.executedPlan.toString
    assert(countOccurrences(oPlan, "Exchange") == 0, oPlan)
    // funnel: one scan, one partial+final agg pair (single Exchange of
    // 2k+1 partial sums), nothing per-group
    val fPlan = graft.ops.GateOps.gateFunnel(docs, rules)
    // gateFunnel returns a driver-built local frame; the corpus-side
    // aggregation already ran — pin its shape via the gate's agg instead
    val aggPlan = graft.ops.GateOps.gate(docs, rules)
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.when(col("kept"), 1L)))
      .queryExecution.executedPlan.toString
    assert(countOccurrences(aggPlan, "Exchange") == 1, aggPlan)
    assert(fPlan.collect().length == rules.length)
  }

  test("paragraphDedup never shuffles bodies; rebuild is the native " +
       "positional filter, not a lambda") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = DedupOps.paragraphDedup(docs, "doc_id", "text",
        delimiter = " ")
      .queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, plan)
    // shuffle keys are the paragraph hash and the doc id — the text
    // column never partitions an exchange
    exchanges.foreach { l =>
      assert(!l.contains("text#"), s"body used as shuffle key: $l\n$plan")
    }
    assert(plan.contains("drop_segments_by_index"), plan)
    assert(!plan.contains("lambdafunction"), plan)
  }

  test("bm25TopKPerQuery: postings prune via broadcast joins — no " +
       "sort-merge join anywhere, rank limit pushed below the sort") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val qs = Seq((0L, "spark query filter"), (1L, "stream window batch"))
      .toDF("qid", "qtext")
    val plan = graft.ops.SearchOps.bm25TopKPerQuery(docs, "doc_id", "text",
        qs, "qid", "qtext", k = 5)
      .queryExecution.executedPlan.toString
    // every join (term prune, per-query replication, dfreq, stats) is a
    // broadcast — the corpus side never co-shuffles with a dimension
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(countOccurrences(plan, "BroadcastHashJoin") >= 3, plan)
    // per-query top-k: WindowGroupLimit keeps per-partition heaps below
    // the rank window's sort
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("domainQualityRanking: the global row REUSES the per-domain " +
       "exchange at runtime — corpus scanned and regex'd once") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("url", concat(lit("https://s"),
        pmod(col("doc_id"), lit(7L)), lit(".example.com/x")))
    val q = graft.ops.TextOps.domainQualityRanking(docs, "url", "n_chars")
    q.collect() // drive AQE to the FINAL plan — reuse resolves at runtime
    val plan = q.queryExecution.executedPlan.toString
    // the one-row global agg derives from the same per-domain subtree;
    // exchange reuse must collapse the second map side (scan + the
    // regex-heavy domain projection) into a shuffle-read of the first
    assert(plan.contains("ReusedExchange"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("wave-8 plan shapes: length batching prunes bodies and reuses its " +
       "bucket exchange; leakage split joins broadcast; sweep aggregates " +
       "the corpus once") {
    val docsPq = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // q168 shape: the (bucket, batch_id) agg's clustering is SATISFIED by
    // the window's hashpartitioning(bucket) (subset rule) — one corpus
    // exchange total, and the text column never reaches the scan
    val ledger = graft.ops.SampleOps.lengthBucketBatches(docsPq, "doc_id",
        "n_chars", Seq(150L, 300L, 450L), 8)
      .groupBy(col("bucket"), col("batch_id"))
      .agg(count(lit(1)).as("n_rows"), max(col("len")).as("max_len"))
    val lPlan = ledger.queryExecution.executedPlan.toString
    assert(countOccurrences(lPlan, "Exchange hashpartitioning") == 1, lPlan)
    assert(!lPlan.contains("text#"), s"body column reached the plan:\n$lPlan")
    assert(!lPlan.contains("ScalaUDF"), lPlan)
    // q167 shape: the cluster map is the small side — broadcast join, and
    // the split gate itself is a projection (no exchange after the join)
    val canon = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "canonical_id")
    val split = graft.ops.SampleOps.leakageFreeSplit(
      docsPq.select(col("doc_id"), col("text")), "doc_id", canon, 10)
    val sPlan = split.queryExecution.executedPlan.toString
    assert(sPlan.contains("BroadcastHashJoin"), sPlan)
    assert(!sPlan.contains("Exchange hashpartitioning"), sPlan)
    // q169 shape: one corpus-keyed exchange (the tier agg) — the spine
    // window and ppm division ride tiny frames
    val sweep = graft.ops.GateOps.thresholdSweep(
      docsPq.select(col("doc_id"), col("n_chars")), "n_chars", "n_chars",
      Seq(100L, 300L))
    sweep.collect() // AQE final plan
    val wPlan = sweep.queryExecution.executedPlan.toString
    assert(!wPlan.contains("ScalaUDF"), wPlan)
    assert(!wPlan.contains("text#"), wPlan)
  }

  test("wave-9 plan shapes (recall contract): the only cross product is " +
       "the contract's brute-force ground truth; the ANN sides broadcast " +
       "their query/probe frames; rerank joins are broadcast; no UDFs") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qs = emb.orderBy(col("vec_id")).limit(20)
    // exact ground truth: the deliberate broadcast crossJoin (the q29
    // contract anchor) + the per-query top-k below the sort
    val exact = graft.ops.SimOps.cosineTopK(emb, qs, "vec_id", "embedding",
      k = 10)
    val ePlan = exact.queryExecution.executedPlan.toString
    assert(ePlan.contains("BroadcastNestedLoopJoin"), ePlan)
    assert(ePlan.contains("WindowGroupLimit"), ePlan)
    assert(!ePlan.contains("ScalaUDF"), ePlan)
    // the IVF path: the corpus-side join is a broadcast HASH join on the
    // int cell key; the only nested-loop is the documented tiny
    // queries x codebook probe crossJoin (broadcast, nCells rows)
    val ivf = graft.ops.SimOps.ivfTopK(emb, qs, "vec_id", "embedding",
      k = 10, nCells = 8, nProbe = 2)
    val iPlan = ivf.queryExecution.executedPlan.toString
    assert(iPlan.contains("BroadcastHashJoin [__cell"), iPlan)
    assert(countOccurrences(iPlan, "BroadcastNestedLoopJoin") == 1, iPlan)
    assert(!iPlan.contains("ScalaUDF"), iPlan)
    // rerank: ids-only candidates join vectors back by id — broadcast
    // queries, hash join to the corpus, top-k below the sort
    // snapshot the candidate ids so the rerank plan is judged on its own
    // joins, not the candidate source's internal probe crossJoin
    val rer = graft.ops.SimOps.rerankTopK(
      ivf.select(col("query_id"), col("neighbor_id")).localCheckpoint(),
      emb, qs, "vec_id", "embedding", k = 5)
    val rPlan = rer.queryExecution.executedPlan.toString
    assert(!rPlan.contains("BroadcastNestedLoopJoin"), rPlan)
    assert(rPlan.contains("WindowGroupLimit"), rPlan)
    assert(!rPlan.contains("ScalaUDF"), rPlan)
  }
}
