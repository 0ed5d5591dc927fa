package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamOps
import graft.streaming.StreamOps.Sample

class StreamingSpec extends SparkTestBase {

  import spark.implicits._

  private def ts(s: Int) = new Timestamp(1700000000000L + s * 1000L)

  /** transformWithState (the banded-dedup engine) requires the RocksDB
    * state store provider; scope it to the test so the rest of the suite
    * keeps exercising the default provider. */
  private def withRocksDb[A](body: => A): A = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("windowedCastStats aggregates a memory stream with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Sample]
    val agg = StreamOps.windowedCastStats(input.toDF(), "10 seconds", "30 seconds")
    val q = agg.writeStream.format("memory").queryName("cast_stats")
      .outputMode("update").start()
    try {
      input.addData(
        Sample("c1", ts(0), 0, 1.0, 10.0), Sample("c1", ts(1), 1, 2.0, 20.0),
        Sample("c1", ts(11), 2, 3.0, 30.0), Sample("c2", ts(2), 0, 5.0, 50.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT castId, n, mean_pressure FROM cast_stats ORDER BY castId, n").collect()
      assert(rows.nonEmpty)
      val c1 = rows.filter(_.getString(0) == "c1")
      assert(c1.map(_.getLong(1)).sum == 3) // all three c1 samples counted
      assert(rows.exists(_.getString(0) == "c2"))
    } finally q.stop()
  }

  test("streamingPressCheck flags reversals across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Sample]
    val checked = StreamOps.streamingPressCheck(input.toDS())
    val q = checked.writeStream.format("memory").queryName("pc_stream")
      .outputMode("append").start()
    try {
      // batch 1: ascending then an inversion (5 -> 3)
      input.addData(
        Sample("c1", ts(0), 0, 1.0, 0), Sample("c1", ts(1), 1, 5.0, 0),
        Sample("c1", ts(2), 2, 3.0, 0))
      q.processAllAvailable()
      // batch 2: still below the ref (4 < 5 -> flagged), then above (6)
      input.addData(
        Sample("c1", ts(3), 3, 4.0, 0), Sample("c1", ts(4), 4, 6.0, 0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT scan, reversal FROM pc_stream ORDER BY scan")
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(rows(0L) == false && rows(1L) == false)
      assert(rows(2L) == true)  // 3 < ref 5
      assert(rows(3L) == true)  // state carried across batches: 4 < 5
      assert(rows(4L) == false) // 6 clears the reference
    } finally q.stop()
  }

  test("streamingSessionStats closes sessions once the watermark passes, " +
       "merges across micro-batches, and matches the batch session rule") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val sess = StreamOps.streamingSessionStats(
      input.toDF().toDF("user_id", "ts", "value"),
      "user_id", "ts", "value", gapSeconds = 10, watermark = "5 seconds")
    val q = sess.writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").start()
    try {
      // batch 1: user 1 events at 0s and 10s (gap == 10 merges), user 2 at 1s
      input.addData((1L, ts(0), 1.0), (1L, ts(10), 2.0), (2L, ts(1), 5.0))
      q.processAllAvailable()
      // batch 2: user 1 again at 12s (still merging), then a far-future
      // event at 100s advances the watermark to 95s, closing every session
      input.addData((1L, ts(12), 4.0), (9L, ts(100), 0.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, n_events, total_value FROM sess_stream ORDER BY user_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(rows.toSeq == Seq((1L, 3L, 7.0), (2L, 1L, 5.0)),
        s"got ${rows.toSeq}: user 1's three events must merge into ONE " +
          "session across micro-batches; user 9's session stays open")
    } finally q.stop()
  }

  test("streamingIntervalJoin associates points to fixed windows across " +
       "micro-batches, half-open bound, and reconciles with the batch " +
       "intervalJoin on the same data") {
    implicit val sqlCtx = spark.sqlContext
    val points = MemoryStream[(Long, Timestamp)]
    val windows = MemoryStream[(Long, Timestamp)]
    val joined = StreamOps.streamingIntervalJoin(
      points.toDF().toDF("point_id", "pts"),
      windows.toDF().toDF("window_id", "wts"),
      "pts", "wts", windowSeconds = 10, watermark = "5 seconds")
    val q = joined.writeStream.format("memory").queryName("ij_stream")
      .outputMode("append").start()
    try {
      // window at 10s covers [10, 20); points at 9 (out), 10 (in),
      // 19 (in), 20 (out, half-open)
      windows.addData((100L, ts(10)))
      points.addData((1L, ts(9)), (2L, ts(10)))
      q.processAllAvailable()
      // a LATER micro-batch point still lands in the buffered window;
      // a second window arriving after some points still catches them
      points.addData((3L, ts(19)), (4L, ts(20)))
      windows.addData((200L, ts(18)))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT window_id, point_id FROM ij_stream ORDER BY window_id, point_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((100L, 2L), (100L, 3L), (200L, 3L), (200L, 4L)),
        s"got $got")
      // batch reconciliation: the same rows through JoinOps.intervalJoin
      import spark.implicits._
      val bp = Seq((1L, 9L), (2L, 10L), (3L, 19L), (4L, 20L))
        .toDF("point_id", "pus")
      val bw = Seq((100L, 10L, 20L), (200L, 18L, 28L))
        .toDF("window_id", "lo", "hi")
      val batch = graft.ops.JoinOps.intervalJoin(bp, bw, "pus", "lo", "hi", 10L)
        .select("window_id", "point_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batch == got, s"stream $got != batch $batch")
    } finally q.stop()
  }

  test("cmsUpdateBatch folds micro-batches into the landed sketch as " +
       "batch-id segments; a replayed batch id cannot double-count") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val name = "graft_cms_stream_" + System.nanoTime()
    val tmp = s"${sys.props("java.io.tmpdir")}/graft_bucketed/$name"
    try {
      graft.ops.SketchOps.landCmsSketch(
        Seq("a").toDF("k"), "k", name, depth = 3, width = 32,
        path = Some(tmp))
      val input = MemoryStream[String]
      val q = input.toDF().toDF("k").writeStream
        .foreachBatch(StreamOps.cmsUpdateBatch("k", name))
        .outputMode("append").start()
      try {
        input.addData("a", "b", "b")
        q.processAllAvailable()
        input.addData("c")
        q.processAllAvailable()
        val est = graft.ops.SketchOps.cmsEstimateAgainstSketch(
            Seq("a", "b", "c").toDF("k"), "k", name)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(est == Map("a" -> 2L, "b" -> 2L, "c" -> 1L), est)
        // simulate the engine replaying batch 0 after a crash: same
        // segment id -> the append is skipped, counts unchanged
        StreamOps.cmsUpdateBatch("k", name)(Seq("a", "b", "b").toDF("k"), 0L)
        val replayed = graft.ops.SketchOps.cmsEstimateAgainstSketch(
            Seq("a", "b").toDF("k"), "k", name)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(replayed == Map("a" -> 2L, "b" -> 2L),
          s"replayed batch double-counted: $replayed")
      } finally q.stop()
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${name}_meta")
      spark.sql(s"DROP TABLE IF EXISTS ${name}_counters")
    }
  }

  test("quantileUpdateBatch folds micro-batches into the landed KLL " +
       "store as batch-id segments; a replayed batch id cannot " +
       "double-weight the distribution") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val name = "graft_kll_stream_" + System.nanoTime()
    val tmp = s"${sys.props("java.io.tmpdir")}/graft_bucketed/$name"
    try {
      graft.ops.SketchOps.landQuantileSketches(
        (1 to 100).map(i => ("a", i.toDouble)).toDF("g", "v"),
        "g", "v", name, path = Some(tmp))
      val input = MemoryStream[(String, Double)]
      val q = input.toDF().toDF("g", "v").writeStream
        .foreachBatch(StreamOps.quantileUpdateBatch(name))
        .outputMode("append").start()
      try {
        input.addData((101 to 500).map(i => ("a", i.toDouble)): _*)
        q.processAllAvailable()
        input.addData((501 to 1000).map(i => ("a", i.toDouble)): _*)
        q.processAllAvailable()
        val segs = spark.table(s"${name}_qsketches").count()
        assert(segs == 3, s"want base + 2 batch segments, got $segs")
        val p50 = graft.ops.SketchOps.quantilesAgainstSketches(
            spark, name, Seq(0.5))
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        assert(p50("a") > 440 && p50("a") < 560,
          s"merged p50 of 1..1000 = ${p50("a")}")
        // engine crash-replay of batch 0: same segment id -> skipped
        StreamOps.quantileUpdateBatch(name)(
          Seq(("a", 999999.0)).toDF("g", "v"), 0L)
        assert(spark.table(s"${name}_qsketches").count() == segs,
          "replayed batch id inserted a new segment")
      } finally q.stop()
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${name}_meta")
      spark.sql(s"DROP TABLE IF EXISTS ${name}_qsketches")
    }
  }

  test("streamingExactDedup drops repeated digests across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val deduped = StreamOps.streamingExactDedup(
      input.toDF().toDF("doc_id", "ts", "text"), "text", "ts", "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      input.addData((0L, ts(0), "alpha"), (1L, ts(1), "beta"), (2L, ts(2), "alpha"))
      q.processAllAvailable()
      // second batch: dup of "beta" within the watermark window -> dropped
      input.addData((3L, ts(3), "beta"), (4L, ts(4), "gamma"))
      q.processAllAvailable()
      val kept = spark.sql("SELECT doc_id FROM dedup_stream ORDER BY doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(kept == Seq(0L, 1L, 4L), s"got $kept")
    } finally q.stop()
  }

  test("streamingCdcChunkDedup: a re-crawled edited page contributes only " +
       "its genuinely-new chunks, reconciling with the batch CDC sets") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val body = (0 until 120).map(_ =>
      ('a' + rnd.nextInt(26)).toChar.toString * (1 + rnd.nextInt(3)))
      .mkString(" ")
    val edited = "xx inserted zz " + body
    val fresh = (0 until 60).map(_ =>
      ('a' + rnd.nextInt(26)).toChar.toString * (1 + rnd.nextInt(3)))
      .mkString(" ")
    val input = MemoryStream[(Long, Timestamp, String)]
    val out = StreamOps.streamingCdcChunkDedup(
      input.toDF().toDF("doc_id", "ts", "text"), "doc_id", "text", "ts")
    val q = out.writeStream.format("memory").queryName("cdc_stream")
      .outputMode("append").start()
    try {
      input.addData((0L, ts(0), body))
      q.processAllAvailable()
      input.addData((1L, ts(1), edited), (2L, ts(2), fresh))
      q.processAllAvailable()
      def hashesOf(text: String): Set[Long] =
        graft.ops.TextOps.cdcChunks(
            Seq((9L, text)).toDF("doc_id", "text"), "doc_id", "text")
          .collect().map(_.getLong(5)).toSet
      val survivors1 = spark.sql(
        "SELECT chunk_hash FROM cdc_stream WHERE doc_id = 1")
        .collect().map(_.getLong(0)).toSet
      // the edited doc's surviving chunks == its batch chunk set minus
      // the original's (the delta), and that delta is SMALL (resync)
      val want = hashesOf(edited) -- hashesOf(body)
      assert(survivors1 == want, s"got $survivors1 want $want")
      assert(survivors1.size.toDouble < hashesOf(edited).size / 2.0,
        s"no resync: ${survivors1.size} of ${hashesOf(edited).size} chunks new")
      // the fresh doc's chunks all flow
      val survivors2 = spark.sql(
        "SELECT count(*) FROM cdc_stream WHERE doc_id = 2")
        .collect().head.getLong(0)
      assert(survivors2 == hashesOf(fresh).size.toLong)
    } finally q.stop()
  }

  test("streamingNearDedup drops token-identical reformatted docs, keeps " +
       "distinct and token-less docs") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val deduped = StreamOps.streamingNearDedup(
      input.toDF().toDF("doc_id", "ts", "text"), "text", "ts", "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("near_dedup_stream")
      .outputMode("append").start()
    try {
      input.addData(
        (0L, ts(0), "The quick brown fox!"),
        (1L, ts(1), "something else entirely"),
        (2L, ts(2), "the QUICK brown -- fox")) // token-identical to 0 -> drop
      q.processAllAvailable()
      input.addData(
        (3L, ts(3), "SOMETHING else... entirely"), // token-identical to 1 -> drop
        (4L, ts(4), "genuinely new content"),
        (5L, ts(5), "!!!"),  // no tokens: pass through
        (6L, ts(6), "???"))  // no tokens: pass through (not deduped vs 5)
      q.processAllAvailable()
      val kept = spark.sql("SELECT doc_id FROM near_dedup_stream ORDER BY doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(kept == Seq(0L, 1L, 4L, 5L, 6L), s"got $kept")
    } finally q.stop()
  }

  test("streamingBandedNearDedup drops a planted Hamming<=3 neighbor " +
       "across micro-batches, keeps distant and token-less docs") {
    implicit val sqlCtx = spark.sqlContext
    val K = org.apache.spark.sql.catalyst.expressions.graftdedup.GraftHashKernels
    def sim(text: String): Long = {
      val toks = "[a-z0-9]+".r.findAllIn(text.toLowerCase).toArray
      K.simhash64(new org.apache.spark.sql.catalyst.util.GenericArrayData(
        toks.map(org.apache.spark.unsafe.types.UTF8String.fromString):
          Array[Any]))
    }
    def dist(a: String, b: String) = java.lang.Long.bitCount(sim(a) ^ sim(b))
    def bandsOf(t: String): Seq[Long] =
      (0 until 4).map(i => (sim(t) >>> (i * 16)) & 0xffffL)
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    // plant a neighbor at Hamming distance 1..3 by searching one-word
    // appends (the realistic near-dup: same doc plus a trailing token)
    val candidates = Seq("alpha", "beta", "gamma", "delta", "omega", "kappa",
      "sigma", "zeta", "micro", "nano", "pico", "lemma", "motif", "prism",
      "quartz", "raven", "sable", "tiger", "umber", "venom", "willow",
      "xenon", "yarrow", "zephyr", "amber", "basil", "cedar", "dune")
    val near = candidates.map(w => s"$base $w")
      .find(t => dist(base, t) >= 1 && dist(base, t) <= 3)
      .getOrElse(fail("no planted near-neighbor found; extend candidate list"))
    val far = "completely different content about spark window aggregation semantics"
    val far2 = "orthogonal corpus material discussing parquet footer caching behavior"
    // the test's premises, asserted so a failure is loud and local
    // (band collisions between far docs are FINE now — verification keeps
    // them; only the Hamming distances are load-bearing)
    assert(dist(base, far) > 3 && dist(near, far) > 3 && dist(far, far2) > 3)
    assert(bandsOf(base).nonEmpty) // keep the helper exercised

    withRocksDb {
      val input = MemoryStream[(Long, Timestamp, String)]
      val deduped = StreamOps.streamingBandedNearDedup(
        input.toDF().toDF("doc_id", "ts", "text"), "text", "ts", "10 minutes")
      val q = deduped.writeStream.format("memory").queryName("banded_near_stream")
        .outputMode("append").start()
      try {
        input.addData((0L, ts(0), base), (1L, ts(1), far))
        q.processAllAvailable()
        input.addData(
          (2L, ts(2), near),  // Hamming 1..3 from retained doc 0 -> dropped
          (3L, ts(3), far2),  // genuinely distant -> kept
          (4L, ts(4), "!!!")) // token-less -> passes through
        q.processAllAvailable()
        val kept = spark.sql("SELECT doc_id FROM banded_near_stream ORDER BY doc_id")
          .collect().map(_.getLong(0)).toSeq
        assert(kept == Seq(0L, 1L, 3L, 4L), s"got $kept (near dist ${dist(base, near)})")
        // state is band-keyed and bounded: 4 stores of (sketch, ts) pairs
        // (plus one eviction timer per active bucket), no doc bodies
        assert(q.lastProgress == null ||
          q.recentProgress.flatMap(p => Option(p.stateOperators)).flatten
            .forall(_.numRowsTotal <= 4L * 8L))
      } finally q.stop()
    }
  }

  test("streamingBandedNearDedup verifies the full sketch: a band-key " +
       "collision beyond the radius is NOT dropped") {
    implicit val sqlCtx = spark.sqlContext
    val base = 0x0123456789ABCDEFL
    val near = base ^ 0x7L                  // 3 bits flipped in band 0 -> dup
    val bandmate = base ^ 0xFFFFFFFF0000FFFFL // band 1 IDENTICAL, Hamming 48
    assert(java.lang.Long.bitCount(base ^ bandmate) == 48)
    assert(((base >>> 16) & 0xffffL) == ((bandmate >>> 16) & 0xffffL),
      "premise: bandmate shares band 1 with base")
    withRocksDb {
      val input = MemoryStream[(Long, Timestamp, Long)]
      val deduped = StreamOps.bandedDedupOnSketch(
        input.toDF().toDF("doc_id", "ts", "sketch"), "sketch", "ts",
        "10 minutes", bands = 4, radiusIn = -1)
      val q = deduped.writeStream.format("memory").queryName("banded_verify")
        .outputMode("append").start()
      try {
        input.addData((0L, ts(0), base))
        q.processAllAvailable()
        input.addData(
          (1L, ts(1), near),     // true near-dup -> dropped
          (2L, ts(2), bandmate)) // random band collision -> verified, KEPT
        q.processAllAvailable()
        val kept = spark.sql("SELECT doc_id FROM banded_verify ORDER BY doc_id")
          .collect().map(_.getLong(0)).toSeq
        assert(kept == Seq(0L, 2L),
          s"got $kept — a bare band-key dedup would have dropped doc 2")
      } finally q.stop()
    }
  }

  test("ctd micro-batch source picks up files dropped into the directory") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Files.createTempDirectory("ctd-stream").toFile
    dir.deleteOnExit()
    val src = Paths.get(s"$dataDir/CTD_with_sigma_e00.cnv")
    Files.copy(src, Paths.get(dir.getPath, "cast_a.cnv"), StandardCopyOption.REPLACE_EXISTING)

    val stream = spark.readStream.format("ctd").option("ftype", "cnv")
      .load(dir.getPath)
      .groupBy(col("cast_id")).agg(count(lit(1)).as("n"))
    val q = stream.writeStream.format("memory").queryName("ctd_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val n1 = spark.sql("SELECT count(*) FROM ctd_stream").collect()(0).getLong(0)
      assert(n1 == 1, s"expected 1 cast after batch 1, got $n1")
      // second file arrives (sorts after the first — append-only listing)
      Files.copy(src, Paths.get(dir.getPath, "cast_b.cnv"), StandardCopyOption.REPLACE_EXISTING)
      q.processAllAvailable()
      // same cast_id in both files -> still one group, but 2x the rows
      val rows = spark.sql("SELECT cast_id, n FROM ctd_stream").collect()
      assert(rows.map(_.getLong(1)).sum == 398, // 199 scans per file x 2
        s"expected both files' scans, got ${rows.mkString(",")}")
    } finally q.stop()
  }

  test("allowOutOfOrder processes a file sorting before committed names; " +
       "the default contract still fails loudly") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Paths.get(s"$dataDir/CTD_with_sigma_e00.cnv")

    // --- opt-in mode: cast_b lands first; cast_a (sorts BEFORE it) later
    val dir = Files.createTempDirectory("ctd-ooo").toFile
    val ckpt = Files.createTempDirectory("ctd-ooo-ckpt").toFile
    dir.deleteOnExit(); ckpt.deleteOnExit()
    Files.copy(src, Paths.get(dir.getPath, "cast_b.cnv"),
      StandardCopyOption.REPLACE_EXISTING)
    def startOoo() = spark.readStream.format("ctd").option("ftype", "cnv")
      .option("allowOutOfOrder", "true").load(dir.getPath)
      .groupBy(col("cast_id")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("ctd_ooo")
      .option("checkpointLocation", ckpt.getPath)
      .outputMode("complete").start()
    val q1 = startOoo()
    try {
      q1.processAllAvailable()
      val n1 = spark.sql("SELECT sum(n) FROM ctd_ooo").collect()(0).getLong(0)
      assert(n1 == 199, s"first file: $n1 rows")
    } finally q1.stop()
    // out-of-order arrival + RESTART from the same checkpoint: the
    // seen-file log must restore in the fresh stream instance and the
    // late-sorting file must be picked up as a new batch
    Files.copy(src, Paths.get(dir.getPath, "cast_a.cnv"),
      StandardCopyOption.REPLACE_EXISTING)
    val q2 = startOoo()
    try {
      q2.processAllAvailable()
      val total = spark.sql("SELECT sum(n) FROM ctd_ooo").collect()(0).getLong(0)
      assert(total == 398, s"expected both files after out-of-order arrival, got $total")
    } finally q2.stop()

    // --- default mode: the same arrival pattern is a loud contract failure
    val dirS = Files.createTempDirectory("ctd-strict").toFile
    dirS.deleteOnExit()
    Files.copy(src, Paths.get(dirS.getPath, "cast_b.cnv"),
      StandardCopyOption.REPLACE_EXISTING)
    val q3 = spark.readStream.format("ctd").option("ftype", "cnv")
      .load(dirS.getPath)
      .groupBy(col("cast_id")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("ctd_strict")
      .outputMode("complete").start()
    try {
      q3.processAllAvailable()
      Files.copy(src, Paths.get(dirS.getPath, "cast_a.cnv"),
        StandardCopyOption.REPLACE_EXISTING)
      val ex = intercept[Exception] { q3.processAllAvailable() }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(ex).exists(_.contains("monotonic-naming contract violated")),
        s"expected the loud contract failure, got: ${messages(ex).mkString(" | ")}")
    } finally q3.stop()
  }

  test("map-side pipeline ops (normalize + quality + token count) compose " +
       "on a stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    // the text operators are pure per-row expressions, so the same calls
    // that shape a batch corpus drop into a streaming query unchanged
    val shaped = graft.ops.TextOps.qualityScore(
        input.toDF().toDF("doc_id", "ts", "text")
          .withColumn("text_norm", graft.ops.TextOps.normalizeText(col("text"))),
        "text")
      .withColumn("n_tokens", graft.ops.TextOps.tokenCount(col("text")))
      .filter(col("quality") >= 0.0)
    val q = shaped.select("doc_id", "text_norm", "quality", "n_tokens")
      .writeStream.format("memory").queryName("pipeline_stream")
      .outputMode("append").start()
    try {
      input.addData(
        (0L, ts(0), "the quick brown fox jumps over the lazy dog today"),
        (1L, ts(1), "cafe\u0301 data"))
      q.processAllAvailable()
      val rows = spark.sql(
          "SELECT doc_id, text_norm, quality, n_tokens FROM pipeline_stream ORDER BY doc_id")
        .collect()
      assert(rows.length == 2)
      assert(rows(0).getDouble(2) > 0.0 && rows(0).getLong(3) == 10L)
      assert(rows(1).getString(1) == "caf\u00e9 data") // NFC composed on the stream
    } finally q.stop()
  }

  test("streaming onCorrupt=skip: a poisoned upload mid-stream is dropped, " +
       "the query keeps processing later files") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Files.createTempDirectory("ctd-corrupt-stream").toFile
    dir.deleteOnExit()
    val src = Paths.get(s"$dataDir/CTD_with_sigma_e00.cnv")
    Files.copy(src, Paths.get(dir.getPath, "a_first.cnv"),
      StandardCopyOption.REPLACE_EXISTING)
    val stream = spark.readStream.format("ctd").option("ftype", "cnv")
      .option("onCorrupt", "skip").load(dir.getPath)
      .groupBy(col("cast_id")).agg(count(lit(1)).as("n"))
    val q = stream.writeStream.format("memory").queryName("corrupt_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT sum(n) FROM corrupt_stream")
        .collect()(0).getLong(0) == 199)
      // a truncated gz lands next (sorts after), then a good file after it
      Files.write(Paths.get(dir.getPath, "b_bad.cnv.gz"),
        Array[Byte](31, -117, 8, 0, 1, 2, 3))
      Files.copy(src, Paths.get(dir.getPath, "c_later.cnv"),
        StandardCopyOption.REPLACE_EXISTING)
      q.processAllAvailable()
      // the poisoned file contributes nothing; the later file lands fully
      assert(spark.sql("SELECT sum(n) FROM corrupt_stream")
        .collect()(0).getLong(0) == 398)
      assert(q.exception.isEmpty, s"stream died: ${q.exception}")
    } finally q.stop()
  }

  test("streamingMinHashNearDedup drops a spam-padded doc (high Jaccard, " +
       "high SimHash Hamming) that the SimHash path would keep") {
    implicit val sqlCtx = spark.sqlContext
    val K = org.apache.spark.sql.catalyst.expressions.graftdedup.GraftHashKernels
    def toks(t: String): Array[String] =
      "[a-z0-9]+".r.findAllIn(t.toLowerCase).toArray
    def sim(text: String): Long =
      K.simhash64(new org.apache.spark.sql.catalyst.util.GenericArrayData(
        toks(text).map(org.apache.spark.unsafe.types.UTF8String.fromString):
          Array[Any]))
    def shSet(t: String): Set[String] = {
      val tk = toks(t).toSeq
      if (tk.length < 3) Set(tk.mkString(" "))
      else tk.sliding(3).map(_.mkString(" ")).toSet
    }
    def jac(a: String, b: String): Double = {
      val (x, y) = (shSet(a), shSet(b))
      x.intersect(y).size.toDouble / x.union(y).size
    }
    val base = "the quick brown fox jumps over the lazy dog while autumn " +
      "rain falls softly on the harbor town and fishing boats rock gently " +
      "against wooden piers under grey morning skies as gulls wheel above " +
      "the market square where vendors arrange fresh catch on crushed ice"
    // the realistic SimHash escape: the document body is intact (shingle
    // SET barely moves) but a repeated spam token drags the frequency-
    // weighted sketch far beyond the banded Hamming radius
    val spam = base + (" click" * 25)
    val hamming = java.lang.Long.bitCount(sim(base) ^ sim(spam))
    // the test's premises, asserted so a failure is loud and local
    assert(jac(base, spam) >= 0.7, s"premise: jaccard ${jac(base, spam)} < 0.7")
    assert(hamming > 3, s"premise: simhash hamming $hamming <= 3 — " +
      "streamingBandedNearDedup would already catch this pair")
    val far = "completely different content about spark window aggregation semantics"
    withRocksDb {
      val input = MemoryStream[(Long, Timestamp, String)]
      val deduped = StreamOps.streamingMinHashNearDedup(
        input.toDF().toDF("doc_id", "ts", "text"), "text", "ts", "10 minutes",
        bands = 8)
      val q = deduped.writeStream.format("memory").queryName("minhash_near_stream")
        .outputMode("append").start()
      try {
        input.addData((0L, ts(0), base), (1L, ts(1), far))
        q.processAllAvailable()
        input.addData(
          (2L, ts(2), spam),    // shingle-set near-dup of doc 0 -> dropped
          (3L, ts(3), "???"),   // token-less -> passes through
          (4L, ts(4), null.asInstanceOf[String])) // null text -> passes through
        q.processAllAvailable()
        val kept = spark.sql("SELECT doc_id FROM minhash_near_stream ORDER BY doc_id")
          .collect().map(_.getLong(0)).toSeq
        assert(kept == Seq(0L, 1L, 3L, 4L),
          s"got $kept (hamming $hamming, jaccard ${jac(base, spam)})")
      } finally q.stop()
    }
  }

  test("minHashDedupOnSets verifies Jaccard on band collisions: exact-set " +
       "and signature-estimate modes") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      // exact mode: sorted hash sets, merge-intersection Jaccard
      val input = MemoryStream[(Long, Timestamp, Seq[Long], Seq[Long])]
      val deduped = StreamOps.minHashDedupOnSets(
        input.toDF().toDF("doc_id", "ts", "shset", "bandkeys"),
        "shset", "bandkeys", "ts", "10 minutes",
        bands = 2, threshold = 0.7, exact = true)
      val q = deduped.writeStream.format("memory").queryName("minhash_sets_exact")
        .outputMode("append").start()
      try {
        input.addData((0L, ts(0), Seq(1L, 2L, 3L, 4L), Seq(7L, 8L)))
        q.processAllAvailable()
        input.addData(
          // band-0 collision, disjoint sets: J = 0 -> verified distinct, KEPT
          (1L, ts(1), Seq(10L, 20L, 30L), Seq(7L, 99L)),
          // band-1 collision, J = 3/4 -> dropped
          (2L, ts(2), Seq(1L, 2L, 3L), Seq(55L, 8L)),
          // both bands collide with doc 0 but J = 4/8 -> KEPT
          (3L, ts(3), Seq(1L, 2L, 3L, 4L, 50L, 60L, 70L, 80L), Seq(7L, 8L)))
        q.processAllAvailable()
        val kept = spark.sql("SELECT doc_id FROM minhash_sets_exact ORDER BY doc_id")
          .collect().map(_.getLong(0)).toSeq
        assert(kept == Seq(0L, 1L, 3L),
          s"got $kept — a bare band-key dedup would also have dropped 1 and 3")
      } finally q.stop()
      // estimate mode: positional signature agreement
      val input2 = MemoryStream[(Long, Timestamp, Seq[Long], Seq[Long])]
      val deduped2 = StreamOps.minHashDedupOnSets(
        input2.toDF().toDF("doc_id", "ts", "sig", "bandkeys"),
        "sig", "bandkeys", "ts", "10 minutes",
        bands = 2, threshold = 0.7, exact = false)
      val q2 = deduped2.writeStream.format("memory").queryName("minhash_sets_est")
        .outputMode("append").start()
      try {
        input2.addData((0L, ts(0), Seq(5L, 6L, 7L, 9L), Seq(7L, 8L)))
        q2.processAllAvailable()
        input2.addData(
          (1L, ts(1), Seq(5L, 6L, 7L, 99L), Seq(7L, 42L)),  // 3/4 agree -> dropped
          (2L, ts(2), Seq(5L, 6L, 98L, 99L), Seq(42L, 8L))) // 2/4 agree -> kept
        q2.processAllAvailable()
        val kept2 = spark.sql("SELECT doc_id FROM minhash_sets_est ORDER BY doc_id")
          .collect().map(_.getLong(0)).toSeq
        assert(kept2 == Seq(0L, 2L))
      } finally q2.stop()
    }
  }

  test("chained near-dedup routes null event-time rows around the stateful " +
       "chain: they pass through and leave no state behind") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[(Long, Timestamp, String)]
      val deduped = StreamOps.streamingBandedNearDedup(
        input.toDF().toDF("doc_id", "ts", "text"), "text", "ts", "10 minutes")
      val q = deduped.writeStream.format("memory").queryName("banded_null_ts")
        .outputMode("append").start()
      try {
        val text = "the quick brown fox jumps over the lazy dog again and again"
        input.addData((0L, ts(0), text),
          (1L, null.asInstanceOf[Timestamp], text))
        q.processAllAvailable()
        input.addData((2L, null.asInstanceOf[Timestamp], text))
        q.processAllAvailable()
        // docs 1 and 2 are sketch-identical to retained doc 0, but with no
        // event time they cannot enter watermark-bounded state: both pass
        // through (and doc 1 leaves no registration that could drop doc 2)
        val kept = spark.sql("SELECT doc_id FROM banded_null_ts ORDER BY doc_id")
          .collect().map(_.getLong(0)).toSeq
        assert(kept == Seq(0L, 1L, 2L))
      } finally q.stop()
    }
  }

  test("fromText parses in-memory content (StringIO analog)") {
    val text = new String(
      graft.io.RawFile.bytes(s"$dataDir/CTD_with_sigma_e00.cnv"), "UTF-8")
    val df = graft.sources.CtdRead.fromText(spark, "cnv", "mem-cast", text)
    assert(df.count() == 199)
    assert(df.columns.take(3).toSeq == Seq("cast_id", "scan_order", "pressure"))
  }

  test("paragraphDedupBatch: store-owned paragraphs excise, the append " +
       "makes batch 2 catch batch-1 survivors, replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val store = "graft_stream_para_spec"
    Seq("_meta", "_paras").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS $store$s"))
    graft.ops.DedupOps.landParagraphStore(
      Seq((0L, "ALPHA\n\nBETA")).toDF("doc_id", "text"), "text", store)
    try {
      val delivered =
        scala.collection.mutable.ArrayBuffer[(Long, Long, String, Long)]()
      val input = MemoryStream[(Long, String)]
      val q = input.toDF().toDF("doc_id", "text")
        .writeStream
        .foreachBatch(StreamOps.paragraphDedupBatch("doc_id", "text", store) {
          (df, bid) =>
            val rows = df.select("doc_id", "text_dedup", "n_removed")
              .collect().map(r => (bid, r.getLong(0), r.getString(1),
                r.getLong(2)))
            delivered.synchronized { delivered ++= rows }
        })
        .start()
      try {
        input.addData(
          (10L, "BETA\n\nGAMMA"),   // BETA store-owned -> excised
          (11L, "GAMMA\n\nDELTA"))  // GAMMA's batch keeper is (10, 1)
        q.processAllAvailable()
        input.addData(
          (20L, "DELTA\n\nEPSILON")) // DELTA owned via batch-1's append
        q.processAllAvailable()
      } finally q.stop()
      val byDoc = delivered.map(r => r._2 -> (r._3, r._4)).toMap
      assert(byDoc == Map(
        10L -> ("GAMMA", 1L), 11L -> ("DELTA", 1L),
        20L -> ("EPSILON", 1L)), s"delivered: $delivered")
      // appends ran in the stream's cloned session; refresh, then verify
      // batch-2's survivor owns its paragraph for any later batch
      spark.catalog.refreshTable(s"${store}_paras")
      val again = graft.ops.DedupOps.paragraphDedupAgainstStore(
        Seq((30L, "EPSILON\n\nZETA")).toDF("doc_id", "text"),
        "doc_id", "text", store)
        .select("text_dedup").head().getString(0)
      assert(again == "ZETA", s"got '$again'")
      // TRUE REPLAY: re-run batch 0 under its original id AFTER its
      // appends are in the store. The src_batch mask must reproduce the
      // first attempt's delivery byte-identically — without it, GAMMA
      // (appended by batch 0 itself) would be excised from doc 10 and
      // the replay would ship a gutted document
      val replayed =
        scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
      val replayBody = StreamOps.paragraphDedupBatch("doc_id", "text",
        store) { (df, _) =>
          replayed ++= df.select("doc_id", "text_dedup", "n_removed")
            .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        }
      replayBody(Seq((10L, "BETA\n\nGAMMA"), (11L, "GAMMA\n\nDELTA"))
        .toDF("doc_id", "text"), 0L)
      assert(replayed.toSet == Set((10L, "GAMMA", 1L), (11L, "DELTA", 1L)),
        s"replay must be byte-identical: $replayed")
      // and the replayed append converged: batch-1's DELTA ownership by
      // batch 0 is unchanged (still exactly one row per hash)
      spark.catalog.refreshTable(s"${store}_paras")
      val dup = spark.table(s"${store}_paras").groupBy("para_hash")
        .count().filter(col("count") > 1).count()
      assert(dup == 0L, "replayed append must not duplicate store rows")
    } finally Seq("_meta", "_paras").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS $store$s"))
  }

  test("dedupAgainstIndexBatch: landed near-dups drop, the append makes " +
       "batch 2 catch batch-1 survivors, within-batch twins collapse") {
    implicit val sqlCtx = spark.sqlContext
    // deterministic pseudo-random 30-word docs over a 503-word vocabulary;
    // distinct seeds share almost no shingles, "+ tail" stays ~0.93 Jaccard
    def words(seed: Long): String = {
      var s = seed * 2654435761L + 11L
      (0 until 30).map { _ =>
        s = (s * 6364136223846793005L + 1442695040888963407L) & 0x7fffffffffffffffL
        "w" + (s % 503)
      }.mkString(" ")
    }
    val idx = "graft_stream_idx_spec"
    val tmp = java.nio.file.Files.createTempDirectory("graft_sidx").toString
    val corpus = Seq((0L, words(1)), (1L, words(2))).toDF("doc_id", "text")
    graft.ops.DedupOps.landNearDupIndex(corpus, "text", idx,
      numHashes = 64, bands = 16, path = Some(s"$tmp/$idx"))
    try {
      val accepted = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      val input = MemoryStream[(Long, String)]
      val q = input.toDF().toDF("doc_id", "text")
        .writeStream
        .foreachBatch(StreamOps.dedupAgainstIndexBatch("doc_id", "text", idx,
          threshold = 0.7, compactEvery = 2) { (df, bid) =>
            val ids = df.select("doc_id").collect().map(_.getLong(0))
            accepted.synchronized { accepted ++= ids.map(bid -> _) }
          })
        .start()
      try {
        input.addData(
          (10L, words(1) + " tail"),                 // near-dup of landed 0 -> drop
          (11L, words(7)),                           // novel -> accept
          (12L, words(9)), (13L, words(9) + " tail")) // twins -> lower id only
        q.processAllAvailable()
        input.addData(
          (20L, words(7) + " tail"),                 // near-dup of ACCEPTED 11:
                                                     // caught only via the append
          (21L, words(5)))                           // novel -> accept
        q.processAllAvailable()
      } finally q.stop()
      val ids = accepted.map(_._2).toSet
      assert(ids == Set(11L, 12L, 21L), s"accepted: ${accepted.toSeq.sorted}")
      // and the index itself grew: survivors' identities are probeable now.
      // The appends ran in the STREAM's cloned session; this session's
      // relation cache is stale (standard cross-session catalog-table
      // semantics, pinned here) until an explicit refresh
      Seq("_shingles", "_bands").foreach(s =>
        spark.catalog.refreshTable(s"$idx$s"))
      val again = graft.ops.DedupOps.nearDedupAgainstIndex(
        Seq((30L, words(5) + " tail")).toDF("doc_id", "text"),
        "doc_id", "text", idx, threshold = 0.7)
      assert(again.isEmpty, "a near-dup of batch-2 survivor 21 must drop")
      // compactEvery = 2 fired after batch 1 (the LAST batch), so the file
      // history (land + 2 appends) is collapsed back to <= one file per
      // bucket — and the probe above already proved the rewrite was
      // row-preserving in the live stream
      Seq("_shingles", "_bands").foreach { s =>
        val files = new java.io.File(s"$tmp/$idx$s").listFiles()
          .count(_.getName.endsWith(".parquet"))
        assert(files <= 8, s"$idx$s: expected <= one file per bucket " +
          s"after in-stream compaction, got $files")
      }
    } finally {
      Seq("_meta", "_shingles", "_bands").foreach { s =>
        spark.sql(s"DROP TABLE IF EXISTS $idx$s")
      }
    }
  }

  test("dedupAgainstIndexBatch: a replay after a transient sink failure " +
       "re-delivers the accepted rows (sink-before-append invariant)") {
    def words(seed: Long): String = {
      var s = seed * 2654435761L + 11L
      (0 until 30).map { _ =>
        s = (s * 6364136223846793005L + 1442695040888963407L) & 0x7fffffffffffffffL
        "w" + (s % 503)
      }.mkString(" ")
    }
    val idx = "graft_replay_idx_spec"
    val tmp = java.nio.file.Files.createTempDirectory("graft_ridx").toString
    graft.ops.DedupOps.landNearDupIndex(
      Seq((0L, words(1))).toDF("doc_id", "text"), "text", idx,
      numHashes = 64, bands = 16, path = Some(s"$tmp/$idx"))
    try {
      val delivered = scala.collection.mutable.ArrayBuffer[Long]()
      var failOnce = true
      val fn = StreamOps.dedupAgainstIndexBatch("doc_id", "text", idx,
        threshold = 0.7) { (df, _) =>
          val ids = df.select("doc_id").collect().map(_.getLong(0))
          if (failOnce) { failOnce = false; throw new RuntimeException("transient") }
          delivered ++= ids
        }
      val batch = Seq((10L, words(7))).toDF("doc_id", "text")
      // attempt 1: the sink throws BEFORE the append runs, so the index
      // must be unchanged — were the append first, the replay would
      // self-match doc 10 against its own entry and deliver NOTHING
      intercept[RuntimeException] { fn(batch, 0L) }
      fn(batch, 0L) // the replay
      assert(delivered.toSeq == Seq(10L),
        s"replay must re-deliver the accepted row: $delivered")
    } finally {
      Seq("_meta", "_shingles", "_bands").foreach { s =>
        spark.sql(s"DROP TABLE IF EXISTS $idx$s")
      }
    }
  }

  test("streamingTransitions: out-of-order arrivals slot into event-time " +
       "order, gaps split, and the emitted pairs match the batch matrix") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, Timestamp, String)]
      val trans = StreamOps.streamingTransitions(
        input.toDF().toDF("user_id", "ts", "event_type"),
        "user_id", "ts", "event_type", gapSeconds = 1800,
        watermark = "10 minutes")
      val q = trans.writeStream.format("memory").queryName("trans_stream")
        .outputMode("append").start()
      try {
        // user 1 arrives OUT OF ORDER: a@0, c@300 first, then b@200 —
        // arrival order would fabricate a->c; event-time order must give
        // a->b, b->c. user 2: a@0 then b far beyond the gap -> no pair.
        input.addData((1L, ts(0), "a"), (1L, ts(300), "c"), (2L, ts(0), "a"))
        q.processAllAvailable()
        input.addData((1L, ts(200), "b"), (2L, ts(5000), "b"))
        q.processAllAvailable()
        // advance the watermark far past everything so all pairs finalize
        input.addData((9L, ts(100000), "z"))
        q.processAllAvailable()
        input.addData((9L, ts(200000), "z"))
        q.processAllAvailable()
        val got = spark.sql(
          "SELECT user_id, prev_type, next_type, ts FROM trans_stream")
          .collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2),
            r.getTimestamp(3)))
          .toSet
        // user 9's z events are 100000s apart (>> gap) -> never pair;
        // they exist only to push the watermark forward
        assert(got == Set(
          (1L, "a", "b", ts(200)),
          (1L, "b", "c", ts(300))), s"got $got")
        // the streamed pair counts reproduce the batch matrix on the
        // same events (the op's headline contract)
        val batchEvents = Seq(
          (1L, Option(1L), Option(ts(0)), Option("a")),
          (2L, Option(1L), Option(ts(300)), Option("c")),
          (3L, Option(1L), Option(ts(200)), Option("b")),
          (4L, Option(2L), Option(ts(0)), Option("a")),
          (5L, Option(2L), Option(ts(5000)), Option("b")),
          (6L, Option(9L), Option(ts(100000)), Option("z")),
          (7L, Option(9L), Option(ts(200000)), Option("z"))
        ).toDF("event_id", "user_id", "ts", "event_type")
        val batch = graft.ops.EventOps.transitions(batchEvents, "user_id",
            "ts", "event_id", "event_type", gapSeconds = 1800)
          .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
          .toMap
        val streamed = got.toSeq.groupBy(p => (p._2, p._3))
          .map { case (k, v) => k -> v.size.toLong }
        assert(streamed == batch,
          s"streamed matrix $streamed != batch matrix $batch")
      } finally q.stop()
    }
  }

  test("streamingEwma: out-of-order rows fold in event-time order, nulls " +
       "carry state across micro-batches, and the finalized rows " +
       "reconcile with the batch op row-for-row") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, Timestamp, Long, Option[Double])]
      val out = StreamOps.streamingEwma(
        input.toDF().toDF("user_id", "ts", "event_id", "value"),
        "user_id", "ts", "event_id", "value", alpha = 0.5,
        watermark = "10 minutes")
      val q = out.writeStream.format("memory").queryName("ewma_stream")
        .outputMode("append").start()
      try {
        // user 1 OUT OF ORDER: 4@0 and 8@300 arrive before null@200 —
        // arrival-order folding would give 4, 6, 6; event-time order
        // must give 4, 4 (null carries), 6. user 2: leading null -> null.
        input.addData((1L, ts(0), 1L, Some(4.0)), (1L, ts(300), 3L, Some(8.0)),
          (2L, ts(0), 4L, None))
        q.processAllAvailable()
        input.addData((1L, ts(200), 2L, None), (2L, ts(400), 5L, Some(10.0)))
        q.processAllAvailable()
        // push the watermark far past everything
        input.addData((9L, ts(100000), 6L, Some(0.0)))
        q.processAllAvailable()
        input.addData((9L, ts(200000), 7L, Some(0.0)))
        q.processAllAvailable()
        val got = spark.sql(
          "SELECT user_id, event_id, value, ewma FROM ewma_stream " +
          "WHERE user_id IN (1, 2)")
          .collect()
          .map(r => (r.getLong(0), r.getLong(1),
            Option(r.get(2)).map(_.asInstanceOf[Double]),
            Option(r.get(3)).map(_.asInstanceOf[Double])))
          .toSet
        assert(got == Set(
          (1L, 1L, Some(4.0), Some(4.0)),
          (1L, 2L, None, Some(4.0)),      // null carries, does not reset
          (1L, 3L, Some(8.0), Some(6.0)), // 0.5*8 + 0.5*4
          (2L, 4L, None, None),           // no state yet
          (2L, 5L, Some(10.0), Some(10.0))), s"got $got")
        // row-for-row reconciliation with the batch kernel on the same events
        val batchEvents = Seq(
          (1L, ts(0), 1L, Option(4.0)), (1L, ts(300), 3L, Option(8.0)),
          (2L, ts(0), 4L, Option.empty[Double]),
          (1L, ts(200), 2L, Option.empty[Double]),
          (2L, ts(400), 5L, Option(10.0))
        ).toDF("user_id", "ts", "event_id", "value")
        val batch = graft.ops.EventOps.ewma(batchEvents, "user_id", "ts",
            "event_id", "value", alpha = 0.5)
          .collect()
          .map(r => (r.getLong(0), r.getLong(2),
            Option(r.get(3)).map(_.asInstanceOf[Double]),
            Option(r.get(4)).map(_.asInstanceOf[Double])))
          .toSet
        assert(got == batch, s"streamed $got != batch $batch")
      } finally q.stop()
    }
  }

  test("streamingRateSpikes: a planted burst flags against the landed " +
       "baseline; normal-rate windows and unknown types do not") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // baseline: type a averages 2 events/window, sigma 1
    val baseline = Seq(("a", 2.0, 1.0)).toDF("event_type", "mu", "sigma")
    val input = MemoryStream[(Timestamp, String, Double)]
    val out = StreamOps.streamingRateSpikes(
      input.toDF().toDF("ts", "event_type", "value"), baseline,
      "ts", "event_type", "value", widthSeconds = 3600, hopSeconds = 900,
      zThreshold = 2.0)
    val q = out.writeStream.format("memory").queryName("spike_stream")
      .outputMode("append").start()
    try {
      // burst: 8 'a' events in one second (z = 6) + one 'mystery' event
      val burst = (0 until 8).map(i => (ts(i), "a", 1.0)) :+
        ((ts(0), "mystery", 1.0))
      input.addData(burst: _*)
      q.processAllAvailable()
      input.addData((ts(10000000), "zz", 0.0))
      q.processAllAvailable()
      input.addData((ts(20000000), "zz", 0.0))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT event_type, n_events, z, is_spike FROM spike_stream " +
        "WHERE event_type IN ('a', 'mystery')")
        .collect()
        .map(r => (r.getString(0), r.getLong(1),
          Option(r.get(2)).map(_.asInstanceOf[Double]), r.getBoolean(3)))
        .toSet
      // each of the 4 overlapping windows holds all 8 'a' events
      assert(got.collect { case ("a", n, z, s) => (n, z, s) } ==
        Set((8L, Some(6.0), true)), s"got $got")
      // unknown type: null z, never flags
      assert(got.collect { case ("mystery", n, z, s) => (n, z, s) } ==
        Set((1L, None, false)), s"got $got")
      // batch reconciliation: the streamed rows equal the batch
      // rateSpikesAgainstBaseline (shared spikeJoin) on the same events —
      // the q142 oracle therefore covers this streaming composite
      val burstBatch = burst.toDF("ts", "event_type", "value")
      val batchRows = graft.ops.EventOps.rateSpikesAgainstBaseline(
          burstBatch, baseline, "ts", "event_type", "value",
          widthSeconds = 3600, hopSeconds = 900, zThreshold = 2.0)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Double]), r.getBoolean(4)))
        .toSet
      val streamRows = spark.sql(
        "SELECT window_start_us, event_type, n_events, z, is_spike " +
        "FROM spike_stream WHERE event_type IN ('a', 'mystery')")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Double]), r.getBoolean(4)))
        .toSet
      assert(streamRows == batchRows,
        s"stream $streamRows != batch $batchRows")
    } finally q.stop()
  }

  test("streamingContaminationFlag: a contaminated doc ALWAYS flags on a " +
       "live stream (no false negatives), clean docs pass; null text " +
       "flags false") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // realistic probe-set size (~100 distinct shingles): Spark's bloom
    // sizing honors fpp here; a single-shingle probe set would not (see
    // the op's scaladoc)
    val probes = (0 until 20).map(i =>
      Tuple1(s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i " +
        s"theta$i iota$i")).toDF("text")
    val input = MemoryStream[(Long, String)]
    val flagged = graft.ops.DedupOps.streamingContaminationFlag(
      input.toDF().toDF("doc_id", "text").withColumn("text",
        org.apache.spark.sql.functions.when(
          org.apache.spark.sql.functions.col("doc_id") === 99L,
          org.apache.spark.sql.functions.lit(null:String))
          .otherwise(org.apache.spark.sql.functions.col("text"))),
      "text", probes, "text", shingleSize = 5, fpp = 0.001)
    val q = flagged.writeStream.format("memory").queryName("contam_stream")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "prefix words then alpha7 beta7 gamma7 delta7 epsilon7 pasted"),
        (2L, "totally unrelated clean content nothing shared here"),
        (99L, "ignored"))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT doc_id, maybe_contaminated FROM contam_stream")
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(got == Map(1L -> true, 2L -> false, 99L -> false), s"got $got")
    } finally q.stop()
  }

  test("streamingHoppingStats reconciles with the batch hopping windows " +
       "row-for-row once the watermark finalizes them") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val out = StreamOps.streamingHoppingStats(
      input.toDF().toDF("ts", "event_type", "value"),
      "ts", "event_type", "value", widthSeconds = 3600, hopSeconds = 900)
    val q = out.writeStream.format("memory").queryName("hop_stream")
      .outputMode("append").start()
    try {
      val evs = Seq((ts(0), "a", 1.25), (ts(100), "a", 2.5),
        (ts(950), "b", -0.75), (ts(4000), "a", 3.0))
      input.addData(evs: _*)
      q.processAllAvailable()
      // far-future sentinel pushes the watermark past everything real
      input.addData((ts(10000000), "zz", 0.0))
      q.processAllAvailable()
      input.addData((ts(20000000), "zz", 0.0))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT window_start_us, event_type, n_events, sum_value_micro " +
        "FROM hop_stream WHERE event_type <> 'zz'")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      import spark.implicits._
      val batch = graft.ops.EventOps.hoppingStats(
          evs.toDF("ts", "event_type", "value"),
          "ts", "event_type", "value", 3600, 900)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got == batch, s"streamed $got\n!= batch $batch")
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("streamingEwma orders SAME-MILLISECOND events by their microsecond " +
       "parts, matching the batch kernel (ms truncation would fold by the " +
       "tie id instead)") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, Timestamp, Long, Option[Double])]
      val out = StreamOps.streamingEwma(
        input.toDF().toDF("user_id", "ts", "event_id", "value"),
        "user_id", "ts", "event_id", "value", alpha = 0.5,
        watermark = "10 minutes")
      val q = out.writeStream.format("memory").queryName("ewma_us_stream")
        .outputMode("append").start()
      try {
        // two events in the SAME millisecond, micro parts 900 then 100 —
        // and tie ids DISAGREEING with time order: event_id 1 is LATER
        def tsUs(us: Long): Timestamp = {
          val t = new Timestamp(1700000000000L + us / 1000)
          t.setNanos(((us % 1000000L) * 1000L).toInt)
          t
        }
        input.addData((1L, tsUs(900), 1L, Some(10.0)),
          (1L, tsUs(100), 2L, Some(0.0)))
        q.processAllAvailable()
        input.addData((9L, tsUs(100000L * 1000000L), 3L, Some(0.0)))
        q.processAllAvailable()
        input.addData((9L, tsUs(200000L * 1000000L), 4L, Some(0.0)))
        q.processAllAvailable()
        val got = spark.sql(
          "SELECT event_id, ewma FROM ewma_us_stream WHERE user_id = 1")
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
        // time order: id2 (v=0, us=100) seeds, then id1 (v=10, us=900)
        // folds -> 5.0. A ms-truncating fold would order by id: 10, 5.
        assert(got == Map(2L -> 0.0, 1L -> 5.0), s"got $got")
      } finally q.stop()
    }
  }

  test("streaming JSONL ingest quarantines poisons per micro-batch: good " +
       "rows flow, raw bad lines surface, later drops keep the split") {
    import org.apache.spark.sql.types._
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_jsonl_stream").toString
    Files.write(Paths.get(dir, "drop1.json"),
      ("{\"doc_id\": 1, \"text\": \"alpha\"}\n" +
        "not json\n").getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // the batch reader's PERMISSIVE + corrupt-column contract drops into
    // readStream unchanged; the good/quarantine split runs inside each
    // micro-batch (foreachBatch, the ingest convention — the corrupt
    // column is filterable there because the batch frame is concrete)
    val full = schema.add("_corrupt_record", StringType)
    val good = scala.collection.mutable.Set[(Long, String)]()
    val bad = scala.collection.mutable.Set[String]()
    val q = spark.readStream.schema(full)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir)
      .writeStream
      .foreachBatch { (bdf: org.apache.spark.sql.DataFrame, _: Long) =>
        val staged = graft.ops.Snapshots.stage(bdf)
        good ++= staged.filter(col("_corrupt_record").isNull)
          .collect().map(r => (r.getLong(0), r.getString(1)))
        bad ++= staged.filter(col("_corrupt_record").isNotNull)
          .collect().map(_.getAs[String]("_corrupt_record"))
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      assert(good == Set((1L, "alpha")) && bad == Set("not json"),
        s"good=$good bad=$bad")
      Files.write(Paths.get(dir, "drop2.json"),
        ("{\"doc_id\": 2, \"text\": \"beta\"}\n" +
          "{\"doc_id\": \"oops\", \"text\": \"g\"}\n").getBytes("UTF-8"))
      q.processAllAvailable()
      assert(good == Set((1L, "alpha"), (2L, "beta")), s"good=$good")
      assert(bad.size == 2 && bad.exists(_.contains("oops")), s"bad=$bad")
    } finally q.stop()
  }

  test("dsirScoreIndexed scores a stream against the landed model, " +
       "row-identical to the batch path (stateless: explode + broadcast " +
       "ratio join + per-doc sum inside one micro-batch)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val idx = "graft_stream_dsir_idx"
    val tmp = java.nio.file.Files.createTempDirectory("graft_sdsir").toString
    val target = Seq((1L, "simmer the garlic butter sauce"),
      (2L, "bake the cake with sugar and flour")).toDF("doc_id", "text")
    val raw = Seq((10L, "the court held the contract void"),
      (11L, "whisk butter sugar into the batter")).toDF("doc_id", "text")
    try {
      graft.ops.TextOps.landDsir(target, raw, "text", idx, dim = 256,
        path = Some(s"$tmp/$idx"))
      val input = MemoryStream[(Long, String)]
      // the per-doc feature sum is an aggregation, so the streaming shape
      // is foreachBatch (a document arrives whole within one micro-batch
      // — the q143/q159 ingest convention), scoring each batch against
      // the landed model with the IDENTICAL batch operator
      val results = scala.collection.mutable.Set[(Long, Long, Long)]()
      val q = input.toDF().toDF("doc_id", "text").writeStream
        .foreachBatch { (bdf: org.apache.spark.sql.DataFrame, _: Long) =>
          results ++= graft.ops.TextOps
            .dsirScoreIndexed(bdf, "doc_id", "text", idx)
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          ()
        }
        .start()
      try {
        val batchDocs = Seq((20L, "simmer butter sauce with garlic"),
          (21L, "statutory damages under contract law"))
        input.addData(batchDocs: _*)
        q.processAllAvailable()
        val got = results.toSet
        val batch = graft.ops.TextOps.dsirScoreIndexed(
            batchDocs.toDF("doc_id", "text"), "doc_id", "text", idx)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(got == batch && got.nonEmpty,
          s"stream $got != batch $batch")
        // the importance model separates the streams' domains
        val byId = got.map(t => t._1 -> t._3).toMap
        assert(byId(20L) > byId(21L), s"cooking doc must outscore legal: $byId")
      } finally q.stop()
    } finally Seq("_meta", "_ratios").foreach { s =>
      spark.sql(s"DROP TABLE IF EXISTS $idx$s")
    }
  }

  test("watermark late-data contract: a beyond-watermark straggler is " +
       "dropped, a within-horizon late row is kept, and the stream " +
       "equals the batch replay of the drop rule (q180's contract)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val agg = input.toDF().toDF("ts", "event_type")
      .withWatermark("ts", "24 hours")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("wm_contract").start()
    def day(d: Int, h: Int = 0) =
      Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00")
    try {
      // batch 0: live head on day 25 + the clock row at day 31 00:00
      // -> watermark after this batch = day 30 00:00 (24 h delay)
      input.addData((day(25, 3), "a"), (day(25, 9), "a"), (day(25, 10), "b"),
        (Timestamp.valueOf("2024-01-31 00:00:00"), "__clock"))
      q.processAllAvailable()
      // spacer: the LATE-event filter uses the PREVIOUS batch's committed
      // watermark (SPARK-24634 two-phase rule) — processAllAvailable's
      // automatic no-data batch usually provides the gap, but an explicit
      // spacer removes the dependence on noDataMicroBatches being enabled
      input.addData((Timestamp.valueOf("2024-01-31 00:00:00"), "__clock"))
      q.processAllAvailable()
      // next batch: one straggler on day 10 (window end Jan 11 <=
      // watermark Jan 30 -> MUST drop) and one late-but-within row on
      // day 30 (window end Jan 31 > watermark -> MUST keep)
      input.addData((day(10, 5), "a"), (day(30, 7), "a"))
      q.processAllAvailable()
      // batch 2: flush anchor -> watermark Feb 9, all data windows final
      input.addData((Timestamp.valueOf("2024-02-10 00:00:00"), "__flush"))
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT window.start, event_type, n FROM wm_contract
          |WHERE event_type NOT IN ('__clock', '__flush')
          |ORDER BY 1, 2""".stripMargin)
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
        .toSeq
      // batch replay of the drop rule: everything except the straggler
      assert(got == Seq(
        (day(25), "a", 2L), (day(25), "b", 1L), (day(30), "a", 1L)),
        s"got $got")
    } finally q.stop()
  }
}
