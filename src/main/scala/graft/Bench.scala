package graft

import org.apache.spark.sql.SparkSession

/**
 * Benchmark main: runs every SparkEntry query against
 * `SPARK_GRAFT_SF_DIR`, forcing FULL computation through the `noop` sink
 * (a bare `count()` lets Catalyst prune projections and window operators —
 * the r1 bench under-measured exactly the operators this engine provides).
 * One JSON line on stdout; failures are reported per-query instead of being
 * swallowed into a fake timing.
 *
 * Measurement methodology (VERDICT r3 "What's wrong" #1 — the first TIMED
 * query was absorbing the warmup pass's garbage, showing 13 s for a 1.7 s
 * plan, and single-shot numbers disagreed by 2-3x between runs):
 *  - one untimed pass over the whole suite first (JIT compilation +
 *    generated-code caches + parquet footer caches). It also checks that
 *    no query leaves a persisted RDD behind once its result is dropped
 *    (after a GC and the ContextCleaner): a leftover would let the timed
 *    reps read blocks the warm-up staged, so a query that leaves one is
 *    reported in `errors` with the count instead of being timed;
 *  - an explicit System.gc() after the warmup pass so the first timed slot
 *    doesn't pay for the warmup's accumulated garbage;
 *  - each query timed `SPARK_GRAFT_REPS` times (default 5) and reported as
 *    the MEDIAN, with reps interleaved ROUND-ROBIN across the suite
 *    (pass 1 runs every query, then pass 2, ...): this box is a VM whose
 *    host occasionally steals CPU in multi-second bursts, and back-to-back
 *    reps put all of a query's samples inside one burst (observed: a
 *    different query 10x slow in each run). Spacing a query's reps a full
 *    suite apart makes the median robust to bursty interference.
 * `SPARK_GRAFT_WARM=head` falls back to the old single-query warmup.
 */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // reps default 5 (VERDICT r10 #3): the one-JVM suite grew past 180
    // timed entries and 3-sample medians inflated ~1.27x vs clean runs —
    // 5 round-robin samples with a forced GC between passes keeps the
    // median robust to steal bursts and allocation pressure
    val reps  = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt.max(1)
    // SPARK_GRAFT_GC=0 disables the forced GC BETWEEN timed passes — the
    // r10 protocol, kept reproducible so protocol-vs-code drift stays
    // adjudicable (VERDICT r11 task #3). The post-warmup GC below stays
    // unconditional: the r10 protocol had it too, and without it the
    // warmup pass's garbage lands in the first timed slot of every query.
    val gcBetween = sys.env.getOrElse("SPARK_GRAFT_GC", "1") != "0"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // PER-QUERY TASK-TIME STATS (VERDICT r13 #1): wall clock alone cannot
    // see skew — a hot key that serializes one task shows up as a fat
    // max/median TASK ratio long before it dominates a 32-core wall.
    // SPARK_GRAFT_TASKSTATS=1 installs a listener that buckets every task
    // duration into the currently-running query's slot; after each timed
    // thunk the listener bus is drained (reflection on the private
    // listenerBus accessor, stable-count fallback) so the longest task's
    // end event is counted.
    val taskStatsOn = sys.env.get("SPARK_GRAFT_TASKSTATS").contains("1")
    val taskBuf = new scala.collection.mutable.ArrayBuffer[(Int, Double)]
    if (taskStatsOn) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          taskBuf.synchronized {
            if (te.taskInfo != null)
              taskBuf += ((te.stageId, te.taskInfo.duration / 1e3))
          }
      })
    def drainListenerBus(): Unit = {
      val sc = spark.sparkContext
      val drained = try {
        val m = sc.getClass.getMethods.find(_.getName == "listenerBus")
        m.exists { acc =>
          val bus = acc.invoke(sc)
          bus.getClass.getMethods
            .find(x => x.getName == "waitUntilEmpty" &&
              x.getParameterCount == 0)
            .exists { w => w.invoke(bus); true }
        }
      } catch { case _: Exception => false }
      if (!drained) { // fallback: poll until the buffer count is stable.
        // Quiet window 250 ms x 4, bounded at 5 s (ADVICE r14): two 50 ms
        // polls could return while straggler task-end events were still
        // queued, leaking them into the NEXT query's cleared buffer.
        var last = -1; var same = 0; var waited = 0L
        while (same < 4 && waited < 5000L) {
          val n = taskBuf.synchronized(taskBuf.length)
          if (n == last) same += 1 else { same = 0; last = n }
          Thread.sleep(250); waited += 250L
        }
      }
    }
    /** Task stats of one thunk. `stageSkew` is the SKEW signal: the worst
      * per-STAGE max/median task ratio over stages with >= 4 tasks — a
      * fat-but-uniform stage (every task 30 s) is heavy, not skewed, and
      * must not read as a hot key the way a cross-stage max/med would
      * make it (measured: the 100x ivf join's 32 uniform 28 s verify
      * tasks read 40x against the all-stage median of its small stages). */
    final case class TaskStats(n: Int, med: Double, max: Double,
                               stageSkew: Double)
    var lastTaskStats: Option[TaskStats] = None
    def timed(thunk: () => Unit): Either[String, Double] =
      try {
        // clear the PREVIOUS thunk's stats up front (ADVICE r14): an
        // errored query must not carry the prior query's task stats
        lastTaskStats = None
        if (taskStatsOn) taskBuf.synchronized(taskBuf.clear())
        val t0 = System.nanoTime()
        thunk()
        val wall = (System.nanoTime() - t0) / 1e9
        if (taskStatsOn) {
          drainListenerBus()
          val all = taskBuf.synchronized(taskBuf.toVector)
          val ts = all.map(_._2).sorted
          val skew = all.groupBy(_._1).values
            .filter(_.size >= 4)
            .map { g =>
              val s = g.map(_._2).sorted
              val med = s(s.length / 2)
              if (med > 0.05) s.last / med else 1.0 // sub-50ms stages: noise
            }
            .foldLeft(1.0)(math.max)
          lastTaskStats =
            if (ts.isEmpty) None
            else Some(TaskStats(ts.length, ts(ts.length / 2), ts.last, skew))
        }
        Right(wall)
      } catch {
        case e: Throwable =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
      }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // LAND/PROBE phase split (VERDICT r9 #7): the landed-index queries
    // (q76/q78/q85/q99 family) mix one-time land cost and steady-state
    // probe cost inside one timed entry, so their medians describe
    // neither. These bench-only entries time the phases separately:
    // `*_land` lands under a FRESH name every rep (true land cost, no
    // landOnce skip), `*_probe` probes a PRE-LANDED steady index (the
    // steady-state claim). They ride the same warmup + round-robin rep
    // machinery as the contract queries.
    import org.apache.spark.sql.functions._
    def docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    def emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val tmp = sys.props("java.io.tmpdir")
    var landSeq = 0
    def freshName(tag: String): String = { landSeq += 1; s"graft_bland_${tag}_$landSeq" }
    val D = graft.ops.DedupOps
    val steadyNd = "graft_bsplit_nd"; val steadyLm = "graft_bsplit_lm"
    val steadyBm = "graft_bsplit_bm"; val steadyIvf = "graft_bsplit_ivf"
    val steadyPs = "graft_bsplit_ps"
    def probeBatch = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") < 250)
      .select((col("doc_id") + 3000000).as("doc_id"),
        concat(col("text"), lit(" perturbed tail token")).as("text"))
    val phaseEntries: Seq[(String, () => Unit)] = Seq(
      "near_dedup_index_land" -> (() => {
        val n = freshName("nd")
        D.landNearDupIndex(docs.filter(col("doc_id") % 5 =!= 0), "text", n,
          numHashes = 64, bands = 16,
          path = Some(s"$tmp/graft_bucketed/$n"))
      }),
      "near_dedup_index_probe" -> (() =>
        noop(D.nearDedupAgainstIndex(probeBatch, "doc_id", "text",
          steadyNd, threshold = 0.5))),
      "ngram_lm_land" -> (() => {
        val n = freshName("lm")
        graft.ops.TextOps.landNgramLm(
          docs.filter(col("doc_id") % 10 =!= 0), "text", n, n = 3,
          path = Some(s"$tmp/graft_bucketed/$n"))
      }),
      "ngram_lm_probe" -> (() =>
        noop(graft.ops.TextOps.ngramLogProbScoreIndexed(
          docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
          steadyLm))),
      "bm25_land" -> (() => {
        val n = freshName("bm")
        graft.ops.SearchOps.landSearchIndex(docs, "doc_id", "text", n,
          path = Some(s"$tmp/graft_bucketed/$n"))
      }),
      "bm25_probe" -> (() =>
        noop(graft.ops.SearchOps.bm25AgainstIndex(spark, steadyBm,
          terms = Seq("spark", "query", "filter"), k = 10))),
      "ann_ivf_land" -> (() => {
        val n = freshName("ivf")
        graft.ops.SimOps.landAnnIndex(emb, "vec_id", "embedding", n,
          nCells = 16, path = Some(s"$tmp/graft_bucketed/$n"))
      }),
      "ann_ivf_probe" -> (() =>
        noop(graft.ops.SimOps.annTopKAgainstIndex(
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", steadyIvf,
          k = 5, nProbe = 4))),
      "paragraph_store_land" -> (() => {
        val n = freshName("ps")
        D.landParagraphStore(docs.filter(col("doc_id") % 5 =!= 0), "text", n,
          path = Some(s"$tmp/graft_bucketed/$n"))
      }),
      "paragraph_store_probe" -> (() =>
        noop(D.paragraphDedupAgainstStore(probeBatch, "doc_id", "text",
          steadyPs))),
      "bm25_batch_probe" -> (() => {
        import spark.implicits._
        val qs = Seq((0L, "spark query filter"), (1L, "stream window batch"),
          (2L, "join merge sort")).toDF("qid", "qtext")
        noop(graft.ops.SearchOps.bm25AgainstIndexPerQuery(spark, steadyBm,
          qs, "qid", "qtext", k = 10))
      }))
    // land the steady probe targets once, OUTSIDE any timed slot
    def landSteady(): Unit = {
      D.landNearDupIndex(docs.filter(col("doc_id") % 5 =!= 0), "text",
        steadyNd, numHashes = 64, bands = 16,
        path = Some(s"$tmp/graft_bucketed/$steadyNd"))
      graft.ops.TextOps.landNgramLm(docs.filter(col("doc_id") % 10 =!= 0),
        "text", steadyLm, n = 3, path = Some(s"$tmp/graft_bucketed/$steadyLm"))
      graft.ops.SearchOps.landSearchIndex(docs, "doc_id", "text", steadyBm,
        path = Some(s"$tmp/graft_bucketed/$steadyBm"))
      graft.ops.SimOps.landAnnIndex(emb, "vec_id", "embedding", steadyIvf,
        nCells = 16, path = Some(s"$tmp/graft_bucketed/$steadyIvf"))
      D.landParagraphStore(docs.filter(col("doc_id") % 5 =!= 0), "text",
        steadyPs, path = Some(s"$tmp/graft_bucketed/$steadyPs"))
    }

    // IN-SESSION CONTROL SLICE (VERDICT r12 task #6): three pure-Spark
    // workloads that touch NO graft code — their wall depends only on the
    // box and the pinned Spark build, so they measure host speed inside
    // every bench run. They ride the same warmup + round-robin machinery
    // (interleaved with the suite, which is the point: a steal burst hits
    // them with the same probability as any engine query). Cross-round
    // comparisons divide per-query engine medians by control_ratio before
    // claiming regression/win; |ratio-1| > ~0.2 means the box differs
    // materially from the r13 calibration and absolute cross-round deltas
    // are meaningless (BENCH_NOTES_r12.md §3: the r10 binary measured
    // 1.48x its own record on a hot box). Disable with SPARK_GRAFT_CONTROL=0.
    // Pinned reference values: the MIN observed across two r13 calibration
    // runs (reps=5, forced GC; load 3-9 during calibration, so min
    // approximates the clean box) — a clean box reads ratio ~1.0-1.1, a
    // steal-storm window reads 1.5+. Recalibrate only with a reason, in
    // BENCH_NOTES of the round that does.
    val controlRef = Map(
      "ctrl_agg" -> 0.559, "ctrl_join" -> 1.599, "ctrl_window" -> 0.948)
    val controlOn = sys.env.getOrElse("SPARK_GRAFT_CONTROL", "1") != "0"
    val controlEntries: Seq[(String, () => Unit)] = if (!controlOn) Seq.empty
    else {
      import spark.implicits._
      Seq(
        "ctrl_agg" -> (() => noop(
          spark.range(0L, 60000000L, 1L, 32)
            .groupBy((col("id") % 9973).as("k"))
            .agg(sum(col("id")).as("s"), count(lit(1)).as("n"),
              avg((col("id") % 1000).cast("double")).as("a")))),
        "ctrl_join" -> (() => noop(
          spark.range(0L, 8000000L, 1L, 32)
            .select(col("id").as("k"), (col("id") * 7 % 1000003).as("v"))
            .join(spark.range(0L, 8000000L, 1L, 32)
              .select((col("id") * 3 % 8000000).as("k"),
                col("id").as("w")), Seq("k"))
            .groupBy(col("k") % 101).agg(sum(col("v") + col("w"))))),
        "ctrl_window" -> (() => noop(
          spark.range(0L, 12000000L, 1L, 32)
            .select((col("id") % 4096).as("g"), col("id").as("x"))
            .withColumn("r", org.apache.spark.sql.functions.sum(col("x"))
              .over(org.apache.spark.sql.expressions.Window
                .partitionBy(col("g")).orderBy(col("x"))
                .rowsBetween(-10, 0))))))
    }

    // SKEW SUITE (VERDICT r13 #1, bench-only, SPARK_GRAFT_SKEW=1): the
    // cap-guarded forms of every skew-defended op, meant to run against a
    // `ScaleUp ... skew` corpus (1% boilerplate docs, a hub embedding
    // region, a 10%-of-events bot user, a hot lineitem order key, a Zipf
    // user domain). The contract queries can't carry the caps (their
    // oracles pin cap-free results), so these entries exist to measure
    // that maxBucket/maxCell/saltedJoin/AQE keep wall AND max-task time
    // bounded when the data is adversarial. Each returns the DataFrame so
    // the audit/noop plumbing below is shared with the contract queries.
    val skewOn = sys.env.get("SPARK_GRAFT_SKEW").contains("1")
    val skewEntries: Seq[(String, () => org.apache.spark.sql.DataFrame)] =
      if (!skewOn) Seq.empty
      else {
        def docsFull = spark.read.parquet(s"$sfDir/documents.parquet")
        def events = spark.read.parquet(s"$sfDir/events.parquet")
        def li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        def ord = spark.read.parquet(s"$sfDir/orders.parquet")
        val S = graft.ops.SimOps
        Seq(
          // hottest LSH bucket = the 1% boilerplate mass; maxBucket=100
          // (q25's production setting) must drop it from candidate gen
          "skew_near_dup_capped" -> (() =>
            D.nearDuplicatePairs(docs, "doc_id", "text", numHashes = 64,
              bands = 16, threshold = 0.5, maxBucket = 100)),
          // two-sided IVF with a 1%-of-corpus hub cell; maxCell=512 caps
          // the quadratic within-cell candidate block
          "skew_ivf_join_capped" -> (() => {
            val e = emb
            val qs = e.select((col("vec_id") + 1000000).as("vec_id"),
              col("embedding"))
            S.ivfJoinTopK(qs, e, "vec_id", "embedding", k = 3, nCells = 0,
              nProbe = 4, maxCell = 512)
          }),
          "skew_semantic_capped" -> (() =>
            S.semanticDedupPairs(emb, "vec_id", "embedding",
              threshold = 0.9, nCells = 0, maxCell = 512)),
          // per-user windows with one user holding ~10% of all events —
          // the hot partition the plain op cannot defend; measured, and
          // paired with the r14 skew-bounded sibling below
          "skew_sessionize" -> (() =>
            graft.ops.EventOps.sessionize(events, "user_id", "ts",
              "event_id", gapSeconds = 1800)),
          // bit-identical output, (user, hour-bucket) partitions — the
          // bot user splits across its active hours
          "skew_sessionize_bucketed" -> (() =>
            graft.ops.EventOps.sessionizeBucketed(events, "user_id", "ts",
              "event_id", gapSeconds = 1800, bucketSeconds = 3600)),
          // the same hot-user join, undefended (AQE skew-split is the
          // only mitigation) vs salted via the profiler's own factors
          "skew_plain_join_hotuser" -> (() => {
            val dim = events.groupBy(col("user_id"))
              .agg(count(lit(1)).as("u_n"), sum(col("value")).as("u_total"))
            events.join(dim, "user_id").groupBy(col("event_type"))
              .agg(count(lit(1)).as("n"), sum(col("u_n")).as("s"))
          }),
          "skew_salted_join" -> (() => {
            val dim = events.groupBy(col("user_id"))
              .agg(count(lit(1)).as("u_n"), sum(col("value")).as("u_total"))
            val hot = graft.ops.StatsOps.keySkewProfile(events, "user_id",
                k = 5, nPartitions = 32)
              .select(col("key_value"), col("salt_factor")).collect()
              .map(r => r.getString(0) -> r.getLong(1).toInt).toMap
            graft.ops.JoinOps.saltedJoin(events, dim, "user_id",
                "event_id", hot)
              .groupBy(col("event_type"))
              .agg(count(lit(1)).as("n"), sum(col("u_n")).as("s"))
          }),
          // fact-fact join with a hot order key (1/50 of lineitem rows);
          // AQE's OptimizeSkewedJoin is the defense under measurement
          "skew_fact_join" -> (() =>
            li.join(ord, col("l_orderkey") === col("o_orderkey"))
              .groupBy(col("o_orderpriority"))
              .agg(count(lit(1)).as("n"),
                sum(col("l_extendedprice")).as("rev"))),
          // 1% of the corpus shares one sha2 key: partial aggregation
          // must absorb the hot group map-side
          "skew_exact_dedup" -> (() =>
            D.exactDedup(docsFull, "doc_id", "text")),
          // the boilerplate page is also the hottest paragraph hash
          "skew_paragraph_dedup" -> (() =>
            D.paragraphDedup(docsFull.select(col("doc_id"), col("text")),
              "doc_id", "text")))
      }

    // SCAN-LAYOUT GATE (VERDICT r13 #7): SPARK_GRAFT_SCAN_AUDIT=1 prints
    // PlanAudit advisories per query; =fail additionally exits non-zero
    // when any query's plan has a serial-scan hazard (effective splits
    // below a quarter of the cores on a >4 MiB leaf) — so the r13
    // single-file-corpus incident can never silently recur in a scaling
    // round. Audit runs once per query (planning-only, footer reads are
    // driver-side KBs) on its first build.
    val auditMode = sys.env.getOrElse("SPARK_GRAFT_SCAN_AUDIT", "")
    val audited = scala.collection.mutable.Set[String]()
    val auditHazards =
      scala.collection.mutable.LinkedHashMap[String, Seq[String]]()
    def auditOnce(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      if (auditMode.nonEmpty && !audited.contains(name)) {
        audited += name
        try {
          val hz = graft.ops.PlanAudit.serialScanHazards(df)
          if (hz.nonEmpty) {
            auditHazards(name) = hz
            hz.foreach(h => System.err.println(s"[bench:audit] $name $h"))
          }
        } catch { case e: Exception =>
          System.err.println(s"[bench:audit] $name audit error: " +
            e.getMessage)
        }
      }

    val runners: Map[String, () => Unit] =
      (SparkEntry.queries.toSeq.map { case (n, fn) =>
        n -> (() => { val df = fn(spark, sfDir); auditOnce(n, df); noop(df) })
      } ++ skewEntries.map { case (n, build) =>
        n -> (() => { val df = build(); auditOnce(n, df); noop(df) })
      }).toMap ++ phaseEntries ++ controlEntries
    def runOnce(name: String): Either[String, Double] = {
      // label jobs with the query name (guide §1) so an event-log run
      // attributes every job to its query; set OUTSIDE the timed region
      spark.sparkContext.setJobDescription(s"bench:$name")
      val r = timed(runners(name))
      spark.sparkContext.setJobDescription(null)
      r
    }

    // SPARK_GRAFT_ONLY=q25_near_dup_pairs,q74_... restricts the suite —
    // for targeted scaling datapoints on new queries without paying the
    // full-suite wall clock (driver runs always leave it unset)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // controls run regardless of SPARK_GRAFT_ONLY (a targeted scaling run
    // needs the box reading MOST — that's when cross-run ratios get read)
    val names = (SparkEntry.queries.keys.toSeq ++ phaseEntries.map(_._1) ++
      skewEntries.map(_._1))
      .sorted.filter(n => only.forall(_.contains(n))) ++
      controlEntries.map(_._1)
    if (names.exists(_.endsWith("_probe"))) landSteady()
    // the leak check GCs in the untimed warm-up only, so the timed passes
    // below carry no GC of their own
    val leaked = scala.collection.mutable.Map[String, Int]()
    def warmUp(name: String): Unit = {
      val before = PersistedRdds.ids(spark)
      runOnce(name)
      val left = PersistedRdds.leftAfterGc(spark, before).size
      if (left > 0) leaked(name) = left
    }
    if (sys.env.get("SPARK_GRAFT_WARM").contains("head")) warmUp(names.head)
    else names.foreach(warmUp)
    // don't let warmup-pass garbage land in the first timed slot
    // (unconditional: every protocol generation included this GC)
    System.gc()

    // round-robin passes: each query's reps are a full suite apart; a
    // forced GC between passes stops pass N's garbage from landing in
    // pass N+1's first timed slots (the r10 driver-median inflation)
    val taskPasses =
      scala.collection.mutable.ArrayBuffer[Map[String, TaskStats]]()
    val passes: Seq[Map[String, Either[String, Double]]] =
      (1 to reps).map { _ =>
        val triples = names.map { n =>
          val r = runOnce(n); (n, r, lastTaskStats)
        }
        taskPasses += triples.collect { case (n, _, Some(ts)) => n -> ts }
          .toMap
        if (gcBetween) System.gc()
        triples.map(t => t._1 -> t._2).toMap
      }
    def median(name: String): Either[String, Double] = {
      val runs = passes.map(_(name))
      val failure = leaked.get(name)
        .map(n => s"left $n persisted RDD(s) after its warm-up run")
        .orElse(runs.collectFirst { case Left(m) => m })
      failure.map(Left(_)).getOrElse {
        val ts = runs.collect { case Right(s) => s }.sorted
        Right(ts(ts.length / 2))
      }
    }

    val allResults = names.map(n => n -> median(n))
    val (ctrlResults, results) = allResults.partition(_._1.startsWith("ctrl_"))
    val timings = results.collect { case (n, Right(s)) => n -> s }
    val errors  = results.collect { case (n, Left(m)) => n -> m }
    // control ratio: today's box speed vs the pinned r13 calibration —
    // the in-session normalizer for any cross-round comparison
    val ctrlTimes = ctrlResults.collect { case (n, Right(s)) => n -> s }
    val ctrlRatio: Option[Double] =
      if (ctrlTimes.size == controlRef.size) {
        val rs = ctrlTimes.map { case (n, s) => s / controlRef(n) }
        Some(rs.sorted.apply(rs.length / 2))
      } else None
    // per-query min/med/max across the reps (VERDICT r4 #6): lets a reader
    // separate CPU-steal spikes (max >> med, min ~ med) from real
    // regressions (min shifts) without rerunning the suite
    val spreads = names.flatMap { n =>
      val ts = passes.map(_(n)).collect { case Right(s) => s }.sorted
      if (ts.isEmpty) None
      else Some(n -> (ts.head, ts(ts.length / 2), ts.last))
    }

    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val qs = timings.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
    val sp = spreads.map { case (k, (mn, md, mx)) =>
      s"""${q(k)}:{"min":$mn,"med":$md,"max":$mx}"""
    }.mkString("{", ",", "}")
    val total = timings.map(_._2).sum
    val ctrl =
      if (ctrlTimes.isEmpty) "null"
      else {
        val ct = ctrlTimes.map { case (k, v) => s"${q(k)}:$v" }.mkString(",")
        val cr = ctrlRatio.map(r => f"$r%.4f").getOrElse("null")
        s"""{$ct,"control_ratio":$cr}"""
      }
    // task stats of the pass that produced the reported (median) wall —
    // max/med is the skew signal: a hot key serializes one task long
    // before it moves a 32-core wall clock
    val taskJson =
      if (!taskStatsOn) ""
      else {
        val entries = names.flatMap { n =>
          median(n).toOption.flatMap { mw =>
            val idx = passes.indexWhere(_.get(n).contains(Right(mw)))
            if (idx < 0) None
            else taskPasses(idx).get(n).map { ts =>
              s"""${q(n)}:{"n_tasks":${ts.n},"task_med":${ts.med},""" +
                s""""task_max":${ts.max},"stage_skew":${
                  math.round(ts.stageSkew * 100) / 100.0}}"""
            }
          }
        }
        s""","tasks":{${entries.mkString(",")}}"""
      }
    val hazardJson =
      if (auditMode.isEmpty) ""
      else {
        val entries = auditHazards.map { case (n, hz) =>
          s"${q(n)}:[${hz.map(q).mkString(",")}]"
        }
        s""","scan_hazards":{${entries.mkString(",")}}"""
      }
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$sp,"errors":$es,"control":$ctrl$taskJson$hazardJson,"n_queries":${results.length},"n_failed":${errors.length},"reps":$reps,"sf":${q(sfDir)}}"""
    println(json)
    // DRIVER-PARSABLE SUMMARY (VERDICT r15 #1): the full line above is
    // ~20 KB at ~200 queries and the driver's stdout capture keeps only a
    // 2000-char tail, so its JSON start has been cut off — `"parsed": null`
    // in every BENCH_r*.json since r10 and an empty PERF per_query/scaling
    // block every round. The full line (and target/bench.json) stay
    // EXACTLY as before — same timed region, same queries, same numbers —
    // but the per-query data is re-emitted as bounded `bench_part i/N`
    // lines (median + per-rep MIN, the throttle-robust statistic), and the
    // LAST stdout line is a compact summary that fits any tail capture.
    def fmt(v: Double): String = {
      val s = f"$v%.6f"
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').reverse
        .stripSuffix(".") else s
    }
    // same query set and same medians as the full line's "queries" field
    // (controls stay in "control"; errored queries carry their message)
    val spreadMap = spreads.toMap
    val partEntries = timings.map { case (k, v) =>
      val mn = spreadMap.get(k).map(_._1).getOrElse(v)
      s"""${q(k)}:{"med":${fmt(v)},"min":${fmt(mn)}}"""
    } ++ errors.map { case (k, m) => s"""${q(k)}:{"err":${q(m)}}""" }
    val maxPartChars = 1400
    val parts = {
      val bufs = scala.collection.mutable.ArrayBuffer(
        new StringBuilder)
      partEntries.foreach { e =>
        if (bufs.last.nonEmpty && bufs.last.length + e.length + 1 > maxPartChars)
          bufs += new StringBuilder
        if (bufs.last.nonEmpty) bufs.last.append(',')
        bufs.last.append(e)
      }
      bufs.toSeq
    }
    parts.zipWithIndex.foreach { case (b, i) =>
      println(s"""{"bench_part":${i + 1},"bench_parts":${parts.length},"queries":{${b.toString}}}""")
    }
    val summary = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","total":${fmt(total)},"n_queries":${results.length},"n_failed":${errors.length},"control":$ctrl,"sf":${q(sfDir)},"cpus":$cpus,"reps":$reps,"bench_parts":${parts.length}}"""
    println(summary)
    // Also persist to a file: the stdout line is the last thing a long sbt
    // log prints and has been lost to driver tail-capture truncation
    // (BENCH_r05.json shipped cut mid-JSON) — the file copy survives.
    try {
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json"))
      if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, (json + "\n").getBytes("UTF-8"))
    } catch { case e: Exception =>
      System.err.println(s"bench: could not write target/bench.json: $e")
    }
    spark.stop()
    // the scan-layout gate (=fail): exit AFTER the JSON lands so the
    // failing run still leaves its evidence on disk
    if (auditMode == "fail" && auditHazards.nonEmpty) {
      System.err.println(s"bench: SPARK_GRAFT_SCAN_AUDIT=fail — " +
        s"${auditHazards.size} quer${if (auditHazards.size == 1) "y has"
          else "ies have"} serial-scan hazards (see scan_hazards)")
      sys.exit(2)
    }
  }
}
