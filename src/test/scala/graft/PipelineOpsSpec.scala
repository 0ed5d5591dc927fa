package graft

import org.apache.spark.sql.functions._

import graft.ops.{DedupOps, MultimodalOps, SimOps, TextOps}

class PipelineOpsSpec extends SparkTestBase {

  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again"),
    (1L, "the quick brown fox jumps over the lazy dog again and again today"), // near-dup of 0
    (2L, "completely different content about spark window aggregation semantics"),
    (3L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 0
    (4L, "der hund ist nicht mit der katze und der maus")
  ).toDF("doc_id", "text")

  test("exactDedup keeps the lowest id per identical text") {
    val out = DedupOps.exactDedup(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(0L, 1L, 2L, 4L)) // doc 3 (dup of 0) dropped
  }

  test("nearDuplicatePairs finds the near-dup and the exact dup, not the distinct doc") {
    val pairs = DedupOps.nearDuplicatePairs(docs, "doc_id", "text",
        numHashes = 64, bands = 32, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L)), s"exact dup pair missing: $pairs")
    assert(pairs.contains((0L, 1L)) || pairs.contains((1L, 3L)),
      s"near dup pair missing: $pairs")
    assert(!pairs.exists { case (a, b) => a == 2L || b == 2L },
      s"distinct doc should not pair: $pairs")
  }

  test("nearDedup drops near/exact dups, keeps distinct docs") {
    val kept = DedupOps.nearDedup(docs, "doc_id", "text",
        numHashes = 64, bands = 32, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept.contains(0L) && kept.contains(2L) && kept.contains(4L))
    assert(!kept.contains(3L))
  }

  test("maxBucket cap drops hot-bucket candidates (boilerplate guard)") {
    // 20 identical docs: every band bucket holds all 20 -> capped out
    val boiler = (0L until 20L).map(i => (i, "identical boilerplate header text"))
      .toDF("doc_id", "text")
    val uncapped = DedupOps.nearDuplicatePairs(boiler, "doc_id", "text",
        numHashes = 64, bands = 16, threshold = 0.5).count()
    assert(uncapped == 20L * 19 / 2)
    val capped = DedupOps.nearDuplicatePairs(boiler, "doc_id", "text",
        numHashes = 64, bands = 16, threshold = 0.5, maxBucket = 10).count()
    assert(capped == 0L)
  }

  test("simhash: identical texts identical, near-dups close, distinct far") {
    val sh = docs.withColumn("sh", DedupOps.simHash64(TextOps.tokens(col("text"))))
      .select("doc_id", "sh").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) == sh(3L))
    assert(java.lang.Long.bitCount(sh(0L) ^ sh(1L)) < 12)
    assert(java.lang.Long.bitCount(sh(0L) ^ sh(2L)) > 12)
  }

  test("langId picks the marker-dense language") {
    val out = TextOps.langId(docs, "text")
      .select("doc_id", "lang_pred").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) == "en")
    assert(out(4L) == "de")
  }

  test("qualityScore: empty-ish text scores 0, normal text in (0, 1]") {
    val df = Seq((0L, "x"), (1L, "the quick brown fox is a good dog and that is that"))
      .toDF("doc_id", "text")
    val out = TextOps.qualityScore(df, "text")
      .select("doc_id", "quality").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(0L) == 0.0)
    assert(out(1L) > 0.3 && out(1L) <= 1.0)
  }

  test("fingerprint is formatting-insensitive") {
    val df = Seq((0L, "Hello,  World! 42"), (1L, "hello world 42"), (2L, "other"))
      .toDF("doc_id", "text")
    val fp = df.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(0L) == fp(1L))
    assert(fp(0L) != fp(2L))
  }

  test("cosineTopK: identical vector ranks first with sim 1") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.7f, 0.7f, 0.0f))
    ).toDF("vec_id", "embedding")
    val top = SimOps.cosineTopK(e, e.filter(col("vec_id") === 0), "vec_id", "embedding", 3)
      .orderBy("rank").collect()
    assert(top(0).getAs[Long]("neighbor_id") == 1L)
    assert(top(0).getAs[Double]("cos_sim") == 1.0)
    assert(top(1).getAs[Long]("neighbor_id") == 3L)
    assert(top(2).getAs[Long]("neighbor_id") == 2L)
  }

  test("lshCosineTopK returns a subset consistent with brute force ranking") {
    val rng = new scala.util.Random(7)
    val e = (0L until 200L).map(i =>
      (i, Array.fill(16)(rng.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 3)
    val brute = SimOps.cosineTopK(e, q, "vec_id", "embedding", 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = SimOps.lshCosineTopK(e, q, "vec_id", "embedding", 5, nPlanes = 4)
    val lshRows = lsh.collect()
    assert(lshRows.nonEmpty)
    // every LSH neighbor's sim must equal the brute-force sim for that pair
    val recall = lshRows.count(r => brute.contains((r.getLong(0), r.getLong(2))))
    assert(recall > 0, "LSH found none of the true top-5")
  }

  test("ivfTopK: exact copy found when its cell is probed; sims match brute force") {
    val rng = new scala.util.Random(13)
    val base = (0L until 100L).map(i => (i, Array.fill(16)(rng.nextGaussian().toFloat)))
    val withDup = base ++ Seq((200L, base(2)._2)) // exact copy of query 2
    val e = withDup.toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 3)
    val ivf = SimOps.ivfTopK(e, q, "vec_id", "embedding",
        k = 5, nCells = 8, nProbe = 8) // probe ALL cells -> exhaustive
    val rows = ivf.collect()
    // with nProbe = nCells the search is exhaustive: must equal brute force
    val brute = SimOps.cosineTopK(e, q, "vec_id", "embedding", 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val got = rows.map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == brute, s"exhaustive IVF diverged:\n got=$got\n want=$brute")
    // the exact copy of query 2 ranks first with sim 1
    val top2 = rows.filter(r => r.getLong(0) == 2L && r.getInt(1) == 1).head
    assert(top2.getLong(2) == 200L && top2.getDouble(3) == 1.0)
    // restricted probing returns a subset of cells but still valid sims
    val narrow = SimOps.ivfTopK(e, q, "vec_id", "embedding",
        k = 5, nCells = 8, nProbe = 2).collect()
    assert(narrow.nonEmpty && narrow.forall(_.getDouble(3) <= 1.0))
  }

  test("embeddingNearDupPairs finds exact copies, nearDedup drops them") {
    val rng = new scala.util.Random(11)
    val base = (0L until 50L).map(i => (i, Array.fill(16)(rng.nextGaussian().toFloat)))
    val withDups = base ++ Seq((100L, base(3)._2), (101L, base(7)._2))
    val e = withDups.toDF("vec_id", "embedding")
    val pairs = graft.ops.SimOps.embeddingNearDupPairs(e, "vec_id", "embedding",
        threshold = 0.999, nPlanes = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((3L, 100L)) && pairs.contains((7L, 101L)), s"got $pairs")
    val kept = graft.ops.SimOps.embeddingNearDedup(e, "vec_id", "embedding",
        threshold = 0.999, nPlanes = 6)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(3L) && kept.contains(7L))
    assert(!kept.contains(100L) && !kept.contains(101L))
  }

  test("decontamination flags docs sharing an n-gram with the probe set") {
    val corpus = Seq(
      (0L, "what is the capital of france paris obviously"),
      (1L, "the model should answer what is the capital of france correctly"), // contains probe 5-gram
      (2L, "entirely unrelated content about oceanographic instruments and casts")
    ).toDF("doc_id", "text")
    val probes = Seq((100L, "what is the capital of france")).toDF("doc_id", "text")
    val flagged = DedupOps.contaminatedIds(corpus, "doc_id", "text",
        probes, "text", shingleSize = 5)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(flagged == Seq(0L, 1L), s"got $flagged")
  }

  test("PII redaction replaces emails/IPs/phones, counts match") {
    val d = Seq((0L,
      "mail me at jane.doe+x@example.org or call +1 (555) 123-4567 from 10.0.0.1")
    ).toDF("doc_id", "text")
    val (ne, ni, np) = TextOps.piiCounts(col("text"))
    val r = d.select(TextOps.redactPii(col("text")).as("red"),
        ne.as("e"), ni.as("i"), np.as("p")).collect()(0)
    assert(r.getString(0) == "mail me at <EMAIL> or call <PHONE> from <IP>",
      s"got: ${r.getString(0)}")
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((1L, 1L, 1L)))
  }

  test("repetition signals: degenerate doc scores high, varied doc low") {
    val d = Seq(
      (0L, "spam spam spam spam spam spam spam spam"),
      (1L, "eight entirely different tokens compose this varied sentence")
    ).toDF("doc_id", "text")
    val rows = TextOps.repetitionSignals(d, "text")
      .select("doc_id", "dup_2gram_frac", "top_token_frac")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(rows(0L)._1 > 0.8 && rows(0L)._2 == 1.0, s"degenerate: ${rows(0L)}")
    assert(rows(1L)._1 == 0.0 && rows(1L)._2 < 0.2, s"varied: ${rows(1L)}")
  }

  test("winnowFingerprints: every full window selects a fingerprint " +
       "(coverage guarantee), shared runs >= w+k-1 tokens share a hash, " +
       "selection is ~1/w dense") {
    val rng = new scala.util.Random(7)
    val words = (0 until 400).map(_ => s"w${rng.nextInt(5000)}")
    val docA = (1L, words.mkString(" "))
    // doc B: different prefix/suffix, but shares words[100..139] (40 >> 6)
    val docB = (2L, ((0 until 80).map(_ => s"x${rng.nextInt(5000)}") ++
      words.slice(100, 140) ++
      (0 until 80).map(_ => s"y${rng.nextInt(5000)}")).mkString(" "))
    val fps = DedupOps.winnowFingerprints(
      Seq(docA, docB).toDF("doc_id", "text"), "doc_id", "text", k = 3, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val a = fps.filter(_._1 == 1L)
    // coverage: every window of 4 consecutive gram positions contains a
    // selected position (the winnowing guarantee, checked exhaustively)
    val selPos = a.map(_._2).toSet
    val nGrams = 400 - 2
    (3 until nGrams).foreach { t =>
      assert((t - 3 to t).exists(q => selPos.contains(q.toLong)),
        s"window ending at $t has no fingerprint")
    }
    // density ~ 2/(w+1) = 0.4: allow a generous band
    assert(a.length > nGrams / 5 && a.length < nGrams * 3 / 5,
      s"selected ${a.length} of $nGrams grams")
    // overlap: the 40-token shared run guarantees >= 1 common hash
    val shared = a.map(_._3).toSet
      .intersect(fps.filter(_._1 == 2L).map(_._3).toSet)
    assert(shared.nonEmpty, "shared 40-token run must share a fingerprint")
    // hand-check the rightmost-min rule on a tiny fixed case: doc of 7
    // tokens -> 5 grams; recompute selection in driver scala
    val tiny = Seq((9L, "a b c d e f g")).toDF("doc_id", "text")
    val toks = Array("a", "b", "c", "d", "e", "f", "g")
    val hashes = (0 to 4).map { i =>
      org.apache.spark.sql.catalyst.expressions.graftdedup.GraftHashKernels
        .md5Hash31(org.apache.spark.unsafe.types.UTF8String.fromString(
          toks.slice(i, i + 3).mkString(" ")))
    }
    val expected = (3 to 4).flatMap { t =>
      val win = (t - 3 to t)
      val minH = win.map(hashes).min
      Some(win.filter(q => hashes(q) == minH).max)
    }.distinct.map(q => (9L, q.toLong, hashes(q))).toSet
    val gotTiny = DedupOps.winnowFingerprints(tiny, "doc_id", "text",
      k = 3, w = 4).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotTiny == expected, s"got $gotTiny expected $expected")
  }

  test("winnowOverlapPairs: an excerpt resolves to its source, unrelated " +
       "docs stay out, and maxHashDocs drops boilerplate hashes") {
    val rng = new scala.util.Random(11)
    val src = (0 until 120).map(_ => s"s${rng.nextInt(9000)}").mkString(" ")
    val corpus = Seq(
      (1L, src),
      (2L, (0 until 120).map(_ => s"u${rng.nextInt(9000)}").mkString(" "))
    ).toDF("doc_id", "text")
    // probe: tokens 40..69 of doc 1 (30 tokens >> w+k-1 = 6)
    val probe = Seq(
      (100L, src.split(" ").slice(40, 70).mkString(" "))
    ).toDF("doc_id", "text")
    val got = DedupOps.winnowOverlapPairs(probe, corpus, "doc_id", "doc_id",
        "text", "text", k = 3, w = 4, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 1 && got(0)._1 == 100L && got(0)._2 == 1L
      && got(0)._3 >= 1L, s"got ${got.toList}")
    // boilerplate suppression: a gram shared by EVERY corpus doc fans out
    // to every pair; maxHashDocs = 1 on the corpus side drops it
    val boiler = "common header line alpha beta gamma"
    val bcorpus = Seq(
      (1L, s"$boiler one two three four five six seven"),
      (2L, s"$boiler eight nine ten eleven twelve thirteen")
    ).toDF("doc_id", "text")
    val bprobe = Seq((100L, boiler)).toDF("doc_id", "text")
    val uncapped = DedupOps.winnowOverlapPairs(bprobe, bcorpus, "doc_id",
      "doc_id", "text", "text", k = 3, w = 4, minShared = 1).count()
    val capped = DedupOps.winnowOverlapPairs(bprobe, bcorpus, "doc_id",
      "doc_id", "text", "text", k = 3, w = 4, minShared = 1,
      maxHashDocs = 1).count()
    assert(uncapped == 2L && capped < uncapped,
      s"uncapped $uncapped capped $capped")
  }

  test("collocations: hand-computed PMI, micro-nat tie-break on bigram " +
       "strings, minCount gates rare pairs") {
    // unigrams a:3 b:2 c:1 (N=6); bigrams (a,b):2 (b,a):1 (a,c):1 (N=4)
    val d = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val got = graft.ops.TextOps.collocations(d, "doc_id", "text",
        k = 10, minCount = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    def pmi(np: Long, ca: Long, cb: Long): Double =
      math.floor(math.log((np.toDouble * 6 * 6) / (4.0 * ca * cb))
        * 1e6 + 0.5) / 1e6
    // PMI(a,b) = PMI(a,c) = ln 3 -> exact micro-nat tie, broken by
    // token_b ('b' < 'c'); PMI(b,a) = ln 1.5 ranks last
    assert(got.toList == List(
      ("a", "b", 2L, pmi(2, 3, 2), 1L),
      ("a", "c", 1L, pmi(1, 3, 1), 2L),
      ("b", "a", 1L, pmi(1, 2, 3), 3L)), s"got ${got.toList}")
    // minCount = 2 keeps only the repeated pair
    val gated = graft.ops.TextOps.collocations(d, "doc_id", "text",
        k = 10, minCount = 2).collect()
    assert(gated.length == 1 && gated(0).getString(0) == "a"
      && gated(0).getString(1) == "b")
  }

  test("hash split is deterministic, covers all splits, sample rate ~ requested") {
    val d = (0L until 2000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val s1 = graft.ops.SampleOps.hashSplit(d, "doc_id", 10)
      .groupBy("split").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s2 = graft.ops.SampleOps.hashSplit(d, "doc_id", 10)
      .groupBy("split").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s1 == s2, "split not deterministic")
    assert(s1.keySet == (0L until 10L).toSet, s"missing splits: ${s1.keySet}")
    val kept = graft.ops.SampleOps.sampleByHash(d, "doc_id", 0.25).count()
    assert(kept > 2000 * 0.18 && kept < 2000 * 0.32, s"rate off: $kept / 2000")
    // different salt -> different (but still deterministic) assignment
    val other = graft.ops.SampleOps.hashSplit(d, "doc_id", 10, salt = "other")
      .groupBy("split").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(other != s1, "salt had no effect")
  }

  test("leakageFreeSplit: cluster members take their canonical's split, " +
       "unclustered docs degrade to hashSplit") {
    val d = (0L until 100L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val canon = Seq((50L, 1L), (51L, 1L), (1L, 1L), (70L, 2L), (2L, 2L))
      .toDF("doc_id", "canonical_id")
    val got = graft.ops.SampleOps.leakageFreeSplit(d, "doc_id", canon, 10)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("split")).toMap
    val plain = graft.ops.SampleOps.hashSplit(d, "doc_id", 10)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("split")).toMap
    // the whole cluster rides canonical 1's own-id split
    assert(got(50L) == plain(1L) && got(51L) == plain(1L) && got(1L) == plain(1L))
    assert(got(70L) == plain(2L) && got(2L) == plain(2L))
    // everyone else is the plain hash split; empty map == hashSplit exactly
    assert((got -- Seq(50L, 51L, 1L, 70L, 2L)) == (plain -- Seq(50L, 51L, 1L, 70L, 2L)))
    val empty = Seq.empty[(Long, Long)].toDF("doc_id", "canonical_id")
    val viaEmpty = graft.ops.SampleOps.leakageFreeSplit(d, "doc_id", empty, 10)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("split")).toMap
    assert(viaEmpty == plain)
    intercept[IllegalArgumentException] {
      graft.ops.SampleOps.leakageFreeSplit(d, "doc_id",
        canon.withColumnRenamed("canonical_id", "c"), 10)
    }
  }

  test("blocklistHits: word-boundary literal phrases, case-insensitive, " +
       "metacharacters escaped RE2-portably, null text counts zero") {
    val phrases = Seq("bad word", "c++ (fast)", "spam")
    val d = Seq(
      (1L, Some("a BAD Word here and spam twice spam")),
      (2L, Some("badword spamming windows")), // no boundary matches
      (3L, Some("we love c++ (fast) builds")),
      (4L, None: Option[String]))
      .toDF("doc_id", "text")
    val got = d.select(col("doc_id"),
        graft.ops.TextOps.blocklistHits(col("text"), phrases).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 0L, 3L -> 1L, 4L -> 0L), s"got $got")
    // case-sensitive mode: the uppercased phrase no longer matches
    val cs = d.select(col("doc_id"),
        graft.ops.TextOps.blocklistHits(col("text"), phrases,
          caseInsensitive = false).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cs(1L) == 2L, s"got $cs") // 'BAD Word' out, two 'spam' stay
    // the exposed pattern is what the engine ran; escaping is RE2-legal,
    // and boundaries attach only at word-char edges (trailing ')' gets
    // none — a blanket \b would make that phrase unmatchable)
    val p = graft.ops.TextOps.blocklistPattern(phrases)
    assert(p.contains("\\bc\\+\\+ \\(fast\\)|") && p.startsWith("(?i)(?:\\b"), p)
    intercept[IllegalArgumentException] {
      graft.ops.TextOps.blocklistPattern(Seq.empty)
    }
  }

  test("mixtureInterleave: strides invert weights, any vtime prefix blends " +
       "at the weights, unweighted sources ship nothing, layout-invariant") {
    val strides = graft.ops.SampleOps.interleaveStrides(
      Map("a" -> 4.0, "b" -> 2.0, "c" -> 1.0, "d" -> 1.0, "z" -> 0.0))
    assert(strides == Seq("a" -> 2000000L, "b" -> 4000000L,
      "c" -> 8000000L, "d" -> 8000000L), s"got $strides")
    val rows = (0L until 160L).map(i =>
      (i, Seq("a", "b", "c", "d", "x")(
        (i % 5).toInt))).toDF("doc_id", "source")
    val out = graft.ops.SampleOps.mixtureInterleave(rows, "doc_id", "source",
      Map("a" -> 4.0, "b" -> 2.0, "c" -> 1.0, "d" -> 1.0))
    val got = out.collect()
    assert(!got.exists(_.getString(1) == "x"), "unweighted source shipped")
    // leaky-bucket exactness: rows with vtime <= T are floor(T/stride_s)
    // per source (schedule positions stride, 2*stride, ...)
    val pre = got.filter(_.getAs[Long]("vtime") <= 8000000L)
      .groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(pre == Map("a" -> 4, "b" -> 2, "c" -> 1, "d" -> 1), s"got $pre")
    // pure function of (salt, key, source): layout cannot move a row
    val a = got.map(r => r.getLong(0) -> ((r.getAs[Long]("src_pos"),
      r.getAs[Long]("vtime")))).toMap
    val b = graft.ops.SampleOps.mixtureInterleave(rows.repartition(7),
        "doc_id", "source", Map("a" -> 4.0, "b" -> 2.0, "c" -> 1.0, "d" -> 1.0))
      .collect().map(r => r.getLong(0) -> ((r.getAs[Long]("src_pos"),
        r.getAs[Long]("vtime")))).toMap
    assert(a == b)
    intercept[IllegalArgumentException] {
      graft.ops.SampleOps.interleaveStrides(Map("a" -> 0.0))
    }
  }

  test("lengthBucketBatches: boundary edges, full-then-remainder chunking, " +
       "partitioning invariance, salt redraws the roster") {
    // edges: < boundary stays below it; null/negative coalesce to 0
    val edges = Seq((1L, Some(149L)), (2L, Some(150L)), (3L, Some(299L)),
      (4L, Some(300L)), (5L, Some(449L)), (6L, Some(450L)),
      (7L, None: Option[Long]), (8L, Some(-3L)))
      .toDF("doc_id", "n")
    val tiers = graft.ops.SampleOps.lengthBucketBatches(edges, "doc_id", "n",
        Seq(150L, 300L, 450L), 8)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(tiers == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 2,
      6L -> 3, 7L -> 0, 8L -> 0), s"got $tiers")
    // 19 same-tier rows at batchSize 8 -> batches of 8, 8, 3; positions 0..7
    val uni = (0L until 19L).map(i => (i, 10L)).toDF("doc_id", "n")
    val got = graft.ops.SampleOps.lengthBucketBatches(uni, "doc_id", "n",
      Seq(100L), 8).collect()
    val sizes = got.groupBy(_.getAs[Long]("batch_id")).view
      .mapValues(_.length).toMap
    assert(sizes == Map(0L -> 8, 1L -> 8, 2L -> 3), s"got $sizes")
    assert(got.filter(_.getAs[Long]("batch_id") == 0L)
      .map(_.getAs[Int]("batch_pos")).sorted.toSeq == (0 until 8))
    // pure function of (salt, id): layout-invariant, salt-sensitive
    val a = got.map(r => r.getLong(0) -> ((r.getAs[Long]("batch_id"),
      r.getAs[Int]("batch_pos")))).toMap
    val b = graft.ops.SampleOps.lengthBucketBatches(uni.repartition(7),
      "doc_id", "n", Seq(100L), 8)
      .collect().map(r => r.getLong(0) -> ((r.getAs[Long]("batch_id"),
        r.getAs[Int]("batch_pos")))).toMap
    assert(a == b)
    val c = graft.ops.SampleOps.lengthBucketBatches(uni, "doc_id", "n",
        Seq(100L), 8, salt = "other")
      .collect().map(r => r.getLong(0) -> ((r.getAs[Long]("batch_id"),
        r.getAs[Int]("batch_pos")))).toMap
    assert(a != c, "salt had no effect on the roster")
    intercept[IllegalArgumentException] {
      graft.ops.SampleOps.lengthBucketBatches(uni, "doc_id", "n",
        Seq(300L, 150L), 8)
    }
  }

  test("curriculumOrder: threshold tiers (at-threshold promotes), null " +
       "scores sort last with null tier, schedule is tier-then-hash, " +
       "and the plan has no window") {
    val d = Seq(
      (1L, Some(10.0)), (2L, Some(20.0)), (3L, Some(19.9)),
      (4L, Some(35.0)), (5L, None), (6L, Some(5.0))
    ).toDF("doc_id", "score")
    val out = graft.ops.SampleOps.curriculumOrder(d, "doc_id", col("score"),
      thresholds = Seq(20.0, 30.0), salt = "t1")
    val rows = out.collect().map(r => (r.getLong(0),
      Option(r.getAs[java.lang.Long]("tier")).map(_.toLong)))
    val tiers = rows.toMap
    // score == threshold promotes (>=); nulls get null tier
    assert(tiers == Map(1L -> Some(0L), 2L -> Some(1L), 3L -> Some(0L),
      4L -> Some(2L), 5L -> None, 6L -> Some(0L)), s"got $tiers")
    // schedule order: tiers ascending, null-score row LAST
    val order = rows.map(_._1).toSeq
    assert(order.last == 5L, s"null-score row must schedule last: $order")
    val tierSeq = rows.flatMap(_._2).toSeq
    assert(tierSeq == tierSeq.sorted, s"tiers must be non-decreasing: $tierSeq")
    // within tier 0 the order is the hash order, not id order (the three
    // tier-0 ids appear in shuffle_key order)
    val t0 = out.filter(col("tier") === 0)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("shuffle_key")))
    assert(t0.map(_._2).toSeq == t0.map(_._2).sorted.toSeq)
    // map-side scalars + sort only: a window (ntile-style) would
    // single-partition the corpus
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"curriculum must not use a window:\n$plan")
    intercept[IllegalArgumentException] {
      graft.ops.SampleOps.curriculumOrder(d, "doc_id", col("score"),
        thresholds = Seq(30.0, 20.0))
    }
    // quantile-derived thresholds feed straight back in: 3 tiers over
    // 1..90 -> cuts near 30/60, every tier non-empty
    val wide = (1L to 90L).map(i => (i, i.toDouble)).toDF("doc_id", "score")
    val cuts = graft.ops.SampleOps.quantileThresholds(wide, col("score"), 3)
    assert(cuts.length == 2 && cuts == cuts.sorted
      && cuts.head > 20 && cuts.head < 40 && cuts(1) > 50 && cuts(1) < 70,
      s"cuts: $cuts")
    val tiered = graft.ops.SampleOps.curriculumOrder(wide, "doc_id",
        col("score"), cuts)
      .groupBy("tier").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tiered.keySet == Set(0L, 1L, 2L) && tiered.values.forall(_ > 20),
      s"tier sizes: $tiered")
  }

  test("multimodal: feature extraction and frame sampling plumbing") {
    val d = Seq((0L, "abc"), (1L, "defgh"), (2L, "ijklmnop")).toDF("doc_id", "text")
    val media = MultimodalOps.syntheticMedia(d, "doc_id", "text")
    assert(media.schema.fieldNames.toSeq == Seq("media_id", "kind", "bytes", "meta"))
    val feats = MultimodalOps.extractFeatures(media, dim = 8).collect()
    assert(feats.length == 3)
    assert(feats.forall(_.getAs[scala.collection.Seq[Double]]("feat").length == 8))
    assert(feats.find(_.getLong(0) == 1L).get.getAs[Long]("n_bytes") == 5L)
    // determinism: same input -> same features
    val feats2 = MultimodalOps.extractFeatures(media, dim = 8).collect()
    assert(feats.map(_.getAs[scala.collection.Seq[Double]]("feat")).toSeq ==
      feats2.map(_.getAs[scala.collection.Seq[Double]]("feat")).toSeq)
    val frames = MultimodalOps.sampleFrames(media, stride = 30)
    assert(frames.columns.toSeq == Seq("media_id", "frame_idx"))
  }

  test("multimodal: real PNG bytes decode to pixel features; non-images fall back to stub") {
    import java.awt.image.BufferedImage
    // 32x32 PNG, left half black / right half white
    val img = new BufferedImage(32, 32, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 32)
      img.setRGB(x, y, if (x < 16) 0x000000 else 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val png = bos.toByteArray
    val rows = Seq(
      (0L, "image", png),                         // decodable image
      (1L, "image", "not an image".getBytes("UTF-8")), // stub fallback
      (2L, "audio", png))                         // audio kind never decodes
      .toDF("media_id", "kind", "bytes")
      .withColumn("meta", struct(lit(32).as("width"), lit(32).as("height"),
        lit(16000).as("sample_rate"), lit(1).as("n_frames")))
    val feats = MultimodalOps.extractFeatures(rows, dim = 4).collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Double]]("feat")).toMap
    // dim=4 -> 2x2 grid: left column ~0 luminance, right column ~1
    val f0 = feats(0L)
    assert(f0(0) < 0.01 && f0(2) < 0.01, s"left cells should be black: $f0")
    assert(f0(1) > 0.99 && f0(3) > 0.99, s"right cells should be white: $f0")
    // undecodable bytes under kind=image and real bytes under kind=audio
    // both take the deterministic stub path (content-independent contract)
    val viaStub = MultimodalOps.extractFeatures(
      rows.filter(col("media_id") === 2L).withColumn("kind", lit("video")),
      dim = 4).collect().head.getAs[scala.collection.Seq[Double]]("feat")
    assert(feats(2L) == viaStub, "audio/video kinds must share the stub path")
    assert(feats(1L) != f0, "stub features must not masquerade as pixel features")
  }

  test("multimodal: real WAV bytes decode to segment-RMS features; " +
       "non-audio falls back to stub") {
    import javax.sound.sampled._
    // 16 kHz mono 16-bit PCM: first half a 0.5-amplitude square wave
    // (RMS exactly 0.5), second half silence
    val n = 16000
    val pcm = new Array[Byte](n * 2)
    for (i <- 0 until n / 2) {
      val s = (if ((i / 20) % 2 == 0) 16384 else -16384).toShort
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new AudioFormat(16000f, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
      AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray
    val rows = Seq(
      (0L, "audio", wav),                               // decodable WAV
      (1L, "audio", "not audio at all".getBytes("UTF-8")), // stub fallback
      (2L, "video", wav))                               // video kind: stub
      .toDF("media_id", "kind", "bytes")
      .withColumn("meta", struct(lit(0).as("width"), lit(0).as("height"),
        lit(16000).as("sample_rate"), lit(1).as("n_frames")))
    val feats = MultimodalOps.extractFeatures(rows, dim = 4).collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Double]]("feat")).toMap
    val f0 = feats(0L)
    assert(math.abs(f0(0) - 0.5) < 0.01 && math.abs(f0(1) - 0.5) < 0.01,
      s"loud half should have RMS ~0.5: $f0")
    assert(f0(2) < 0.01 && f0(3) < 0.01, s"silent half should be ~0: $f0")
    // same WAV under kind=video takes the stub path; undecodable audio too
    val stubOfWav = MultimodalOps.extractFeatures(
      rows.filter(col("media_id") === 0L).withColumn("kind", lit("video")),
      dim = 4).collect().head.getAs[scala.collection.Seq[Double]]("feat")
    assert(feats(2L) == stubOfWav)
    assert(feats(0L) != feats(2L), "real RMS must differ from the stub")
    assert(feats(1L) != f0, "stub features must not masquerade as RMS features")
  }

  test("audio near-dup: gain-scaled copy hashes identically (delta hash " +
       "is level-invariant) and pairs at Hamming 0; different program " +
       "material stays out; undecodable bytes leave the flow") {
    import javax.sound.sampled._
    // 16 kHz mono PCM with a seeded per-segment amplitude envelope —
    // adjacent-segment energies differ, so every delta bit is decisive
    def wavBytes(seed: Int, gain: Double): Array[Byte] = {
      val n = 16000
      val pcm = new Array[Byte](n * 2)
      for (i <- 0 until n) {
        val seg = i * 130 / n
        val amp = ((((seg + seed) * 2654435761L) >>> 8) % 1000).toDouble / 1000.0
        val base = if ((i / 10) % 2 == 0) amp else -amp
        val s = (base * gain * 30000).toShort
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      }
      val fmt = new AudioFormat(16000f, 16, 1, true, false)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(
        new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
        AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val rows = Seq(
      (0L, wavBytes(7, 1.0)),   // original
      (1L, wavBytes(7, 0.5)),   // same program at half gain -> same hash
      (2L, wavBytes(99, 1.0)),  // different program -> far in Hamming
      (3L, "not audio".getBytes("UTF-8"))) // undecodable -> excluded
      .toDF("media_id", "bytes")
    val hashes = MultimodalOps.audioAHashes(rows)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(hashes(3L).isEmpty, "undecodable bytes must hash to null")
    assert(hashes(0L) == hashes(1L),
      s"half-gain copy must hash identically: ${hashes(0L)} vs ${hashes(1L)}")
    assert(java.lang.Long.bitCount(hashes(0L).get ^ hashes(2L).get) > 10,
      "different program material must sit far in Hamming space")
    val pairs = MultimodalOps.audioNearDupPairs(rows, bands = 4, radius = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((0L, 1L, 0L)),
      s"exactly the planted gain pair at Hamming 0: ${pairs.toSeq}")
  }

  test("multimodal: animated GIF decodes to per-frame luminance; single " +
       "images and non-GIF video fall back to stub") {
    import java.awt.image.BufferedImage
    // two-frame animated GIF: black frame then white frame
    def frame(rgb: Int): BufferedImage = {
      val img = new BufferedImage(16, 16, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16) img.setRGB(x, y, rgb)
      img
    }
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    Seq(frame(0x000000), frame(0xffffff)).foreach { f =>
      writer.writeToSequence(new javax.imageio.IIOImage(f, null, null), null)
    }
    writer.endWriteSequence(); writer.dispose(); ios.close()
    val gif = bos.toByteArray

    val rows = Seq(
      (0L, "video", gif),                                // animated: real decode
      (1L, "video", "definitely not video".getBytes("UTF-8"))) // stub
      .toDF("media_id", "kind", "bytes")
      .withColumn("meta", struct(lit(16).as("width"), lit(16).as("height"),
        lit(0).as("sample_rate"), lit(2).as("n_frames")))
    val feats = MultimodalOps.extractFeatures(rows, dim = 4).collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Double]]("feat")).toMap
    val f0 = feats(0L)
    assert(f0(0) < 0.01, s"first frame is black: $f0")
    assert(f0(1) > 0.95, s"second frame is white: $f0")
    assert(f0(2) == 0.0 && f0(3) == 0.0, s"no more frames: $f0")
    assert(feats(1L) != f0, "non-video bytes must take the stub path")
  }

  test("video near-dup: videos sharing one frame pair via that frame; " +
       "disjoint videos and same-video frame pairs stay out") {
    import java.awt.image.BufferedImage
    // distinct 16x16 patterns with well-separated dHashes: horizontal
    // gradients of different period/phase
    def pattern(k: Int): BufferedImage = {
      val img = new BufferedImage(16, 16, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16) {
        val g = ((x * (k + 1) + y * k + (if ((x / (k + 2)) % 2 == 0) 0 else 128)) % 256)
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      img
    }
    def gif(frames: Seq[BufferedImage]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach(f =>
        writer.writeToSequence(new javax.imageio.IIOImage(f, null, null), null))
      writer.endWriteSequence(); writer.dispose(); ios.close()
      bos.toByteArray
    }
    val shared = pattern(1)
    val rows = Seq(
      (0L, gif(Seq(pattern(3), shared))),   // A: ends with the shared scene
      (1L, gif(Seq(shared, pattern(5)))),   // B: starts with it -> pair (A,B)
      (2L, gif(Seq(pattern(7), pattern(9)))), // C: disjoint scenes
      (3L, "not a video".getBytes("UTF-8")))  // undecodable: no frames
      .toDF("media_id", "bytes")
    val pairs = MultimodalOps.videoNearDupPairs(rows, bands = 4, radius = 3,
        stride = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((0L, 1L, 0L)),
      s"exactly the shared-frame pair at Hamming 0: ${pairs.toSeq}")
  }

  test("every staging op holds its staged input only while its result is " +
       "reachable") {
    val text = "staged inputs live exactly as long as the result of the op"
    val pairDocs = Seq((0L, text), (1L, text + " today"),
      (2L, "completely unrelated content about parquet footer caching"))
      .toDF("doc_id", "text")
    val landed = Seq((0L, text), (1L, "landed corpus row about ocean casts"))
      .toDF("ref_id", "body")
    val incoming = Seq((10L, text + " extra"),
      (12L, "completely unrelated content about parquet footer caching"))
      .toDF("doc_id", "text")
    val probeDocs = Seq((0L, "alpha beta gamma delta zeta"),
      (1L, "totally different words here now")).toDF("doc_id", "text")
    val probes = Seq("alpha beta gamma delta zeta").toDF("text")
    val shared = (0 until 10).map(i => s"shared$i").mkString(" ")
    val spanDocs = Seq((0L, s"alpha0 alpha1 $shared beta0"),
      (1L, s"gamma0 $shared delta0 delta1"),
      (2L, "untouched document with its own words")).toDF("doc_id", "text")
    // ten distinct directions plus one exact copy of vector 0
    val vecs = ((0 until 10).map(i => (i.toLong, Seq(math.cos(i * 0.3), math.sin(i * 0.3)))) :+
      ((100L, Seq(1.0, 0.0)))).toDF("vec_id", "embedding")
    // (op, stages it must hold while in use, rows it must return)
    val cases: Seq[(String, () => org.apache.spark.sql.DataFrame, Int, Long)] = Seq(
      ("nearDuplicatePairs", () => DedupOps.nearDuplicatePairs(
        pairDocs, "doc_id", "text", numHashes = 64, bands = 32, threshold = 0.5), 1, 1L),
      ("nearDedupAgainst", () => DedupOps.nearDedupAgainst(
        incoming, "doc_id", "text", landed, "body",
        numHashes = 64, bands = 16, threshold = 0.5), 2, 1L),
      ("contaminatedIdsBloom", () => DedupOps.contaminatedIdsBloom(
        probeDocs, "doc_id", "text", probes, "text", shingleSize = 5), 1, 1L),
      ("duplicateSpans", () => DedupOps.duplicateSpans(
        spanDocs, "doc_id", "text", k = 8), 1, 2L),
      ("stripDuplicateSpans", () => DedupOps.stripDuplicateSpans(
        spanDocs, "doc_id", "text", k = 8), 1, 3L),
      ("semanticDedupPairs", () => SimOps.semanticDedupPairs(
        vecs, "vec_id", "embedding", threshold = 0.9999, nCells = 2), 1, 1L))
    // the result is referenced only inside this frame
    def inUse(run: () => org.apache.spark.sql.DataFrame, before: Set[Int]): (Long, Int) = {
      val result = run()
      (result.collect().length.toLong, (PersistedRdds.ids(spark) -- before).size)
    }
    cases.foreach { case (name, run, staged, rows) =>
      val before = PersistedRdds.ids(spark)
      val (n, held) = inUse(run, before)
      assert(n == rows, s"$name: row count")
      assert(held >= staged,
        s"$name: expected $staged staged RDD(s) while in use, got $held")
      val left = PersistedRdds.leftAfterGc(spark, before)
      assert(left.isEmpty, s"$name: persisted RDDs left once the result is dropped: $left")
    }
  }

  test("Snapshots.stage computes its input once across a self-join and a " +
       "second action") {
    val evals = spark.sparkContext.longAccumulator("stage evaluations")
    val tag = udf((i: Long) => { evals.add(1); i % 97 }).asNondeterministic()
    val before = PersistedRdds.ids(spark)
    def useTwice(): Unit = {
      val staged = graft.ops.Snapshots.stage(
        spark.range(20000).select(col("id"), tag(col("id")).as("v")))
      val self = staged.as("a").join(staged.as("b"), col("a.id") === col("b.id"))
        .filter(col("a.v") === col("b.v"))
      assert(self.count() == 20000L)
      assert(staged.agg(sum(col("v"))).head().getLong(0) ==
        (0L until 20000L).map(_ % 97).sum)
    }
    useTwice()
    assert(evals.value == 20000L, s"the UDF ran ${evals.value} times")
    val left = PersistedRdds.leftAfterGc(spark, before)
    assert(left.isEmpty, s"persisted RDDs left once the stage is dropped: $left")
  }

  test("near-dup docs with null text are skipped, not banded (overflow guard)") {
    val withNull = docs.unionByName(
      Seq((9L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val pairs = DedupOps.nearDuplicatePairs(withNull, "doc_id", "text",
        numHashes = 64, bands = 32, threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.exists { case (a, b) => a == 9L || b == 9L },
      s"null-text doc must not appear in any pair: $pairs")
    assert(pairs.contains((0L, 3L)))
  }

  test("connectedMinLabels propagates the component minimum through hops") {
    // V-shape: 0-2 and 1-2 (0 and 1 NOT direct pairs). The min label 0 must
    // reach node 1 THROUGH node 2 — two propagation rounds.
    val pairs = Seq((0L, 2L), (1L, 2L)).toDF("id_a", "id_b")
    val labels = DedupOps.connectedMinLabels(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(0L -> 0L, 1L -> 0L, 2L -> 0L), s"labels: $labels")
    // two components stay separate
    val two = Seq((0L, 1L), (5L, 6L), (6L, 7L)).toDF("id_a", "id_b")
    val l2 = DedupOps.connectedMinLabels(two)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l2 == Map(0L -> 0L, 1L -> 0L, 5L -> 5L, 6L -> 5L, 7L -> 5L), s"labels: $l2")
  }

  test("connectedStars matches min-label semantics and converges on a long chain in O(log d)") {
    // path graph 0-1-2-...-25: diameter 25 > connectedMinLabels' default
    // maxIter 20 (min-label moves one hop per round and would throw);
    // the star algorithm needs ~log2(25) rounds
    val chain = (0L until 25L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] { DedupOps.connectedMinLabels(chain).collect() }
    val labels = DedupOps.connectedStars(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == (0L to 25L).map(_ -> 0L).toMap, s"labels: $labels")
    // multi-component + V-shape agreement with connectedMinLabels
    val g = Seq((0L, 2L), (1L, 2L), (5L, 6L), (6L, 7L), (40L, 41L)).toDF("id_a", "id_b")
    val stars = DedupOps.connectedStars(g)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val minl = DedupOps.connectedMinLabels(g)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stars == minl, s"stars $stars != minlabel $minl")
    // string ids: ordering semantics carry over to any orderable type
    val s = Seq(("b", "c"), ("a", "c")).toDF("id_a", "id_b")
    val sl = DedupOps.connectedStars(s)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sl == Map("a" -> "a", "b" -> "a", "c" -> "a"), s"labels: $sl")
  }

  test("connectedStars convergence probe costs <= 2 jobs per round") {
    // r6 VERDICT #7: the probe used to be two count() jobs plus an
    // exceptAll() job per round on top of two localCheckpoints; folding it
    // into one checksum aggregation and un-checkpointing the intra-round
    // edge set leaves 2 jobs/round (checkpoint + checksum)
    val chain = (0L until 25L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        synchronized {
          // broadcast-exchange submissions surface as separate jobs named
          // after SQLExecution.withThreadLocalCaptured — coordination, not
          // driver actions; the probe budget is about ACTIONS
          if (!js.stageInfos.exists(_.name.contains("withThreadLocalCaptured")))
            jobs += 1
        }
    }
    spark.sparkContext.addSparkListener(listener)
    // AQE re-submits one job per re-optimized stage, which makes job count
    // a property of the data, not the algorithm — switch it off so
    // 1 action == 1 job and the per-round budget is observable
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val labels = try {
      val out = DedupOps.connectedStars(chain) // internal jobs run eagerly here
      // let the async listener bus drain before reading the counter
      var last = -1
      var stable = 0
      while (stable < 3) {
        Thread.sleep(200)
        val now = synchronized(jobs)
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
      out
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.sparkContext.removeSparkListener(listener)
    }
    // setup = nodes ckpt + edges ckpt + initial checksum (3 action jobs,
    // one spare); a 25-node path converges in <= 8 star rounds (observed:
    // 6 rounds, 15 action jobs). The r5 shape — 2 checkpoints + 2-3 probe
    // actions per round — would blow through this.
    val maxRounds = 8
    assert(jobs <= 4 + 2 * maxRounds,
      s"connectedStars ran $jobs action jobs — more than 2 per round plus setup")
    // and the fold didn't break the answer
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 25L).map(_ -> 0L).toMap)
  }

  test("nearDedupConnected collapses a transitive chain to exactly one doc") {
    // A~B and B~C near-dup (one word changed each step); A~C still >= the
    // threshold chainwise but the point is the component collapses to min id
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val chain = Seq(
      (10L, base),
      (20L, base.replace("mu", "nu")),       // ~ 10
      (30L, base.replace("mu", "nu").replace("alpha", "omega")), // ~ 20
      (99L, "completely unrelated content about catalyst plan shapes")
    ).toDF("doc_id", "text")
    val kept = DedupOps.nearDedupConnected(chain, "doc_id", "text",
        numHashes = 64, bands = 32, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(10L, 99L), s"kept: $kept")
    // force the DISTRIBUTED propagation path (localPairLimit = 0): same answer
    val keptDist = DedupOps.nearDedupConnected(chain, "doc_id", "text",
        numHashes = 64, bands = 32, threshold = 0.5, localPairLimit = 0)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(keptDist == kept, s"distributed path diverged: $keptDist")
    // the star-algorithm closure on the distributed path: same answer
    val keptStars = DedupOps.nearDedupConnected(chain, "doc_id", "text",
        numHashes = 64, bands = 32, threshold = 0.5, localPairLimit = 0,
        ccAlgorithm = "stars")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(keptStars == kept, s"stars path diverged: $keptStars")
  }

  test("nearDedupKeepBest keeps the highest-score member per cluster, ties " +
       "break on min id, and the local/distributed paths agree") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      (10L, base),                                // cluster A, len = base
      (20L, base + " extra trailing tail"),       // cluster A, LONGEST -> wins
      (30L, base.replace("mu", "nu")),            // cluster A (via 10/20)
      (40L, "tie candidate text one two three"),  // cluster B, equal length
      (41L, "tie candidate text one two four"),   // cluster B, equal length
      (99L, "completely unrelated content about catalyst plan shapes")
    ).toDF("doc_id", "text")
    val score = length(col("text")).cast("long")
    val kept = DedupOps.nearDedupKeepBest(docs, "doc_id", "text", score,
        numHashes = 64, bands = 32, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // cluster A: 20 is longest; cluster B: equal scores -> min id 40
    assert(kept == Seq(20L, 40L, 99L), s"kept: $kept")
    // the distributed closure path must pick identical survivors
    val keptDist = DedupOps.nearDedupKeepBest(docs, "doc_id", "text", score,
        numHashes = 64, bands = 32, threshold = 0.5, localPairLimit = 0)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(keptDist == kept, s"distributed path diverged: $keptDist")
    // and with a constant score it degenerates to nearDedupConnected's
    // min-id rule — the two ops pin each other's selection apart
    val keptConst = DedupOps.nearDedupKeepBest(docs, "doc_id", "text",
        lit(1L), numHashes = 64, bands = 32, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val keptCc = DedupOps.nearDedupConnected(docs, "doc_id", "text",
        numHashes = 64, bands = 32, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(keptConst == keptCc, s"constant-score keep-best $keptConst != " +
      s"min-id dedup $keptCc")
  }

  test("auto ccAlgorithm escalates min-label to stars on a >20-hop chain " +
       "(default arguments succeed)") {
    // sliding windows over distinct tokens: doc i = tokens[i, i+10). The
    // 3-gram Jaccard of adjacent docs is 7/9 ≈ 0.78 (>= 0.7), of
    // skip-one docs 6/10 = 0.6 (< 0.7) — the verified pair graph is a
    // PATH of 26 nodes, diameter 25 > connectedMinLabels' default
    // maxIter 20
    val words = (0 until 36).map(i => s"tok$i")
    val docs = (0 until 26).map { i =>
      (i.toLong, words.slice(i, i + 10).mkString(" "))
    }.toDF("doc_id", "text")
    // distributed closure (localPairLimit = 0) + DEFAULT ccAlgorithm:
    // min-label alone would throw at maxIter; "auto" escalates to the
    // O(log d) star rounds and the whole chain collapses to doc 0
    val kept = DedupOps.nearDedupConnected(docs, "doc_id", "text",
        numHashes = 64, bands = 32, threshold = 0.7, localPairLimit = 0)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(0L), s"kept: $kept")
    // explicit minlabel keeps the loud-failure contract on the same input
    intercept[IllegalStateException] {
      DedupOps.nearDedupConnected(docs, "doc_id", "text",
          numHashes = 64, bands = 32, threshold = 0.7, localPairLimit = 0,
          ccAlgorithm = "minlabel")
        .collect()
    }
  }

  test("embeddingNearDupPairs maxBucket cap drops a synthetic hot bucket") {
    // 30 identical vectors: one bucket holds all 30 -> capped out entirely;
    // a distinct pair of near-identical vectors in another bucket survives
    val hot = (0L until 30L).map(i => (i, Seq(1.0f, 0.0f, 0.0f, 0.0f)))
    val pair = Seq((100L, Seq(0.0f, 1.0f, 0.2f, 0.0f)), (101L, Seq(0.0f, 1.0f, 0.21f, 0.0f)))
    val e = (hot ++ pair).toDF("vec_id", "embedding")
    val uncapped = SimOps.embeddingNearDupPairs(e, "vec_id", "embedding",
      threshold = 0.9, nPlanes = 8)
    assert(uncapped.count() == 30L * 29 / 2 + 1)
    val capped = SimOps.embeddingNearDupPairs(e, "vec_id", "embedding",
        threshold = 0.9, nPlanes = 8, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((100L, 101L)), s"capped: $capped")
  }

  test("ivfTopK builds its codebook from sparse/offset id spaces") {
    // ids start at 5000: a `id < nCells` codebook filter would be empty
    val rng = new scala.util.Random(7)
    val e = (0 until 40).map { i =>
      (5000L + i * 3, Seq.fill(8)(rng.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val out = SimOps.ivfTopK(e, e.limit(2), "vec_id", "embedding",
      k = 3, nCells = 4, nProbe = 4)
    assert(out.count() > 0, "sparse-id codebook produced no results")
  }

  test("stratified sample: per-stratum rates honored, deterministic, subset of full") {
    val d = (0L until 4000L).map(i => (i, if (i % 4 == 0) "de" else "en"))
      .toDF("doc_id", "lang")
    val s1 = graft.ops.SampleOps.stratifiedSampleByHash(d, "doc_id", "lang",
      Map("en" -> 0.1, "de" -> 0.9))
    val byLang = s1.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // en: 3000 docs at 10%; de: 1000 docs at 90%
    assert(byLang("en") > 3000 * 0.05 && byLang("en") < 3000 * 0.16, byLang)
    assert(byLang("de") > 1000 * 0.82 && byLang("de") < 1000 * 0.97, byLang)
    // deterministic + consistent with the unstratified sampler: a kept row
    // of rate r is exactly a row sampleByHash(r) keeps (same hash, same cut)
    val en01 = graft.ops.SampleOps.sampleByHash(d.filter(col("lang") === "en"),
      "doc_id", 0.1).select("doc_id").collect().map(_.getLong(0)).toSet
    val s1en = s1.filter(col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1en == en01)
  }

  test("packSequences: greedy budget packing, window-deterministic") {
    val d = Seq(
      (0L, 0, 1000L), (1L, 0, 1000L), (2L, 0, 500L), (3L, 0, 2000L),
      (10L, 1, 2048L), (11L, 1, 1L)
    ).toDF("doc_id", "split", "n_tokens")
    val out = graft.ops.SampleOps.packSequences(d, "split", "doc_id", "n_tokens", 2048L)
      .select("doc_id", "pack_id", "pack_offset")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(0L) == (0L, 0L))      // starts pack 0
    assert(out(1L) == (0L, 1000L))   // fits in pack 0
    assert(out(2L) == (0L, 2000L))   // still pack 0 (starts at 2000 < 2048)
    assert(out(3L) == (1L, 452L))    // cum 2500 -> pack 1, offset 2500 % 2048
    assert(out(10L) == (0L, 0L))     // split 1 packs independently
    assert(out(11L) == (1L, 0L))     // exactly at budget boundary
  }

  test("vocabulary: top-k by occurrence with doc frequency; approx variant close") {
    val d = Seq(
      (0L, "spark spark spark window"),
      (1L, "spark window window"),
      (2L, "catalyst")
    ).toDF("doc_id", "text")
    val v = TextOps.vocabulary(d, "doc_id", "text", k = 2).collect()
    assert(v.map(_.getString(0)).toSeq == Seq("spark", "window"))
    assert(v(0).getLong(1) == 4 && v(0).getLong(2) == 2) // spark: 4 occ, 2 docs
    assert(v(1).getLong(1) == 3 && v(1).getLong(2) == 2)
    val approx = TextOps.vocabulary(d, "doc_id", "text", k = 2, exactDocFreq = false)
      .collect()
    assert(approx.map(_.getString(0)).toSeq == Seq("spark", "window"))
  }

  test("lineDedup: boilerplate lines in > maxDocFreq docs removed, order " +
       "and blank lines preserved, untouched docs byte-identical") {
    import spark.implicits._
    val header = "SITE NAVIGATION | HOME | ABOUT"
    val footer = "(c) 2026 example corp - all rights reserved"
    val docs = Seq(
      (0L, s"$header\nunique zero text\n\nmore zero\n$footer"),
      (1L, s"$header\nunique one text\n$footer"),
      (2L, s"$header\nsecond doc body here\n$footer"),
      (3L, "no boilerplate at all\n\ntrailing blank kept\n"),
      (4L, s"$header\n$footer") // every non-blank line blocked -> ""
    ).toDF("doc_id", "text")
    val out = DedupOps.lineDedup(docs, "doc_id", "text", maxDocFreq = 2)
      .select("doc_id", "text_dedup", "n_removed")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // header+footer appear in 4 docs > 2 -> blocked everywhere
    assert(out(0L) == ("unique zero text\n\nmore zero", 2L))
    assert(out(1L) == ("unique one text", 2L))
    assert(out(2L) == ("second doc body here", 2L))
    // untouched doc reassembles byte-identically (incl. trailing newline)
    assert(out(3L) == ("no boilerplate at all\n\ntrailing blank kept\n", 0L))
    // all non-blank lines blocked -> empty doc, correct count
    assert(out(4L) == ("", 2L))

    // blank lines are never blocklisted even when ultra-frequent; a corpus
    // below the threshold is returned byte-identical with n_removed = 0
    val calm = DedupOps.lineDedup(docs, "doc_id", "text", maxDocFreq = 10)
      .select("doc_id", "text_dedup", "n_removed")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    docs.collect().foreach { r =>
      assert(calm(r.getLong(0)) == (r.getString(1), 0L))
    }
  }

  test("paragraphDedup: first occurrence by (id, position) wins corpus-wide, " +
       "within-doc repeats excised, whitespace paragraphs and untouched " +
       "docs preserved byte-identically") {
    import spark.implicits._
    val docs = Seq(
      (1L, "A\n\nB"),          // both first occurrences -> untouched
      (2L, "B\n\nC\n\nB"),     // B already owned by (1, pos 1); both copies go
      (3L, "  \n\nA"),         // whitespace para survives; A owned by (1, 0)
      (4L, "Z"),               // unique -> byte-identical, no drop row at all
      (5L, "Q\n\nQ")           // within-doc dup: (5,0) keeps, (5,1) drops
    ).toDF("doc_id", "text")
    val out = DedupOps.paragraphDedup(docs, "doc_id", "text")
      .select("doc_id", "text_dedup", "n_removed")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) == ("A\n\nB", 0L))
    assert(out(2L) == ("C", 2L))
    assert(out(3L) == ("  ", 1L))
    assert(out(4L) == ("Z", 0L))
    assert(out(5L) == ("Q", 1L))
    // regex-special delimiter is treated literally
    val pipes = Seq((1L, "x||y"), (2L, "y||z")).toDF("doc_id", "text")
    val p = DedupOps.paragraphDedup(pipes, "doc_id", "text", delimiter = "||")
      .select("doc_id", "text_dedup", "n_removed")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(p == Map(1L -> ("x||y", 0L), 2L -> ("z", 1L)), s"got $p")
  }

  test("paragraphDedup invariants on random corpora: idempotent (a second " +
       "pass removes nothing) and exact accounting (removed = instances - " +
       "distinct paragraphs)") {
    import spark.implicits._
    for (seed <- Seq(11, 42, 97)) {
      val rng = new scala.util.Random(seed)
      // small paragraph vocabulary forces heavy cross-doc duplication
      val vocab = (0 until 12).map(i => s"para$i content ${"x" * (i % 4)}")
      val docs = (0L until 30L).map { id =>
        val n = 1 + rng.nextInt(5)
        (id, Seq.fill(n)(vocab(rng.nextInt(vocab.length))).mkString("\n\n"))
      }.toDF("doc_id", "text")
      val once = DedupOps.paragraphDedup(docs, "doc_id", "text")
        .select(col("doc_id"), col("text_dedup"), col("n_removed"))
        .localCheckpoint()
      // accounting: every non-whitespace instance beyond its paragraph's
      // single keeper is removed, exactly
      val inst = docs.select(posexplode(split(col("text"), "\n\n"))
          .as(Seq("p", "seg")))
        .where(trim(col("seg")) =!= "")
      val instances = inst.count()
      val distinct = inst.select("seg").distinct().count()
      val removed = once.agg(sum(col("n_removed"))).head().getLong(0)
      assert(removed == instances - distinct,
        s"seed $seed: removed $removed != $instances - $distinct")
      // idempotence: the output is a fixed point
      val twice = DedupOps.paragraphDedup(
        once.select(col("doc_id"), col("text_dedup").as("text")),
        "doc_id", "text")
      assert(twice.agg(sum(col("n_removed"))).head().getLong(0) == 0L,
        s"seed $seed: second pass must remove nothing")
    }
  }

  test("paragraph store: against-store dedup equals batch paragraphDedup " +
       "over (landed ++ batch); appends make batch 2 catch batch-1 " +
       "survivors; idempotent; delimiter drift refuses") {
    import spark.implicits._
    val store = "graft_para_store_spec"
    Seq("_meta", "_paras").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS $store$sfx"))
    try {
      val v1 = Seq((1L, "A\n\nB"), (2L, "C")).toDF("doc_id", "text")
      DedupOps.landParagraphStore(v1, "text", store)
      val batch = Seq(
        (10L, "B\n\nX"),       // B owned by the store -> drop; X fresh
        (11L, "X\n\nY"),       // X's batch keeper is (10, 1) -> drop here
        (12L, "C")             // fully owned -> empty
      ).toDF("doc_id", "text")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id", "text_dedup", "n_removed")
          .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
          .toMap
      val got = rows(DedupOps.paragraphDedupAgainstStore(batch, "doc_id",
        "text", store))
      assert(got == Map(10L -> ("X", 1L), 11L -> ("Y", 1L), 12L -> ("", 1L)),
        s"got $got")
      // THE contract: identical to the one-shot batch op over the union,
      // restricted to the batch's documents (store ids precede batch ids)
      val viaUnion = rows(DedupOps.paragraphDedup(v1.union(batch), "doc_id",
        "text").filter(col("doc_id") >= 10L))
      assert(got == viaUnion, s"store path $got != union path $viaUnion")
      // append the SURVIVING text: X and Y gain ownership, C's empty
      // survivor adds nothing
      val deduped = DedupOps.paragraphDedupAgainstStore(batch, "doc_id",
        "text", store)
      assert(DedupOps.appendParagraphStore(deduped, "text_dedup", store) == 2L)
      assert(DedupOps.appendParagraphStore(deduped, "text_dedup", store) == 0L,
        "re-append of the same batch must be a no-op")
      val batch2 = rows(DedupOps.paragraphDedupAgainstStore(
        Seq((20L, "Y\n\nZ")).toDF("doc_id", "text"), "doc_id", "text", store))
      assert(batch2 == Map(20L -> ("Z", 1L)),
        s"batch-1 survivor Y must now be owned: $batch2")
      intercept[IllegalArgumentException] {
        DedupOps.landParagraphStore(v1, "text", store, delimiter = "\n")
      }
    } finally Seq("_meta", "_paras").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS $store$sfx"))
  }

  test("domainQualityRanking: exact integer shrinkage toward the global " +
       "mean; small domains pull hard, null metric counts as zero") {
    import spark.implicits._
    import graft.ops.TextOps
    val rows = Seq(
      // big.com: 4 docs, metric 2.0 each -> sum 8e6, mean 2e6
      (1L, "https://a.big.com/x", Some(2.0)),
      (2L, "https://big.com/y", Some(2.0)),
      (3L, "https://www.big.com/z", Some(2.0)),
      (4L, "https://big.com/w", Some(2.0)),
      // lucky.net: 1 doc, metric 10.0 -> raw mean 10e6 but tiny sample
      (5L, "https://lucky.net/", Some(10.0)),
      // null metric dilutes its domain (counts as 0)
      (6L, "https://big.com/null", None)
    ).toDF("doc_id", "url", "metric")
    val got = TextOps.domainQualityRanking(rows, "url", "metric",
        pseudoCount = 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // totals: sum 18e6 over 6 docs -> global mean 3e6 (floor)
    // big.com: n=5 sum=8e6 -> mean 1_600_000; shrunk (8e6+2*3e6) DIV 7 = 2e6
    // lucky.net: n=1 sum=10e6 -> mean 10e6; shrunk (10e6+6e6) DIV 3 = 5_333_333
    assert(got("big.com") == (5L, 1600000L, 2000000L), s"got $got")
    assert(got("lucky.net") == (1L, 10000000L, 5333333L), s"got $got")
    // the 1-doc lucky domain's shrunk score is pulled from 10e6 to barely
    // above the global mean -- the point of the pseudo-count
    assert(got("lucky.net")._3 < got("lucky.net")._2)
    intercept[IllegalArgumentException] {
      TextOps.domainQualityRanking(rows, "url", "metric", pseudoCount = 0)
    }
  }

  test("landNgramLm: indexed scoring is row-identical to the in-session " +
       "model; re-landing under a different n refuses") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    val vocabW = Array("the", "cat", "sat", "on", "mat", "dog", "ran", "far")
    def doc() = Seq.fill(15)(vocabW(rng.nextInt(vocabW.length))).mkString(" ")
    val train = (0 until 30).map(i => (i.toLong, doc())).toDF("doc_id", "text")
    val score = (100 until 110).map(i => (i.toLong, doc())).toDF("doc_id", "text")
    val idx = "graft_lm_spec_idx"
    val tmp = java.nio.file.Files.createTempDirectory("graft_lm").toString
    try {
      TextOps.landNgramLm(train, "text", idx, n = 3, path = Some(s"$tmp/$idx"))
      val direct = TextOps.ngramLogProbScore(score, "doc_id", "text",
        TextOps.trainNgramLm(train, "text", n = 3))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val indexed = TextOps.ngramLogProbScoreIndexed(score, "doc_id", "text", idx)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(direct == indexed && direct.nonEmpty,
        s"landed-model scoring must be row-identical: $direct vs $indexed")
      val err = intercept[IllegalArgumentException] {
        TextOps.landNgramLm(train, "text", idx, n = 4, path = Some(s"$tmp/$idx"))
      }
      assert(err.getMessage.contains("(n)") &&
        err.getMessage.contains("!= requested"), err.getMessage)
      // idempotent re-land with the SAME n is the no-op path
      TextOps.landNgramLm(train, "text", idx, n = 3, path = Some(s"$tmp/$idx"))
    } finally {
      Seq("_meta", "_grams", "_contexts").foreach { s =>
        spark.sql(s"DROP TABLE IF EXISTS $idx$s")
      }
    }
  }

  test("trainBpeMerges: hand-derived merge sequence on a planted corpus; " +
       "bpeEncode replays training segmentation and handles unseen words") {
    import spark.implicits._
    // corpus = "aaab" x3: symbols [a a a b </w>]; pair counts per round:
    //  r1: (a,a)=6 -> merge (a,a)            => [aa a b </w>]
    //  r2: (aa,a)=(a,b)=(b,</w>)=3, lex smallest (a,b) => [aa ab </w>]
    //  r3: (aa,ab)=(ab,</w>)=3, lex smallest (aa,ab)   => [aaab </w>]
    //  r4: (aaab,</w>)=3                               => [aaab</w>]
    val corpus = Seq("aaab aaab", "aaab").toDF("text")
    val merges = TextOps.trainBpeMerges(corpus, "text", numMerges = 4)
    assert(merges == Seq(("a", "a"), ("a", "b"), ("aa", "ab"), ("aaab", "</w>")),
      s"got $merges")
    // asking for more merges than the corpus supports stops at exhaustion
    assert(TextOps.trainBpeMerges(corpus, "text", numMerges = 50) == merges)

    val enc = Seq((0L, "aaab"), (1L, "aab"), (2L, "xyz aaab"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.bpeEncode(col("text"), merges).as("sw"),
        TextOps.bpeSubwordCount(col("text"), merges).as("n"))
      .collect().map(r => r.getLong(0) -> (r.getSeq[String](1), r.getLong(2))).toMap
    // training word round-trips to its final segmentation
    assert(enc(0L) == ((Seq("aaab</w>"), 1L)), s"got ${enc(0L)}")
    // unseen word: rank-0 (a,a) fires once, nothing else applies
    assert(enc(1L) == ((Seq("aa", "b", "</w>"), 3L)), s"got ${enc(1L)}")
    // unknown characters pass through as single symbols, per word
    assert(enc(2L)._1 == Seq("x", "y", "z", "</w>", "aaab</w>"), s"got ${enc(2L)}")

    // determinism: retraining yields the identical list
    assert(TextOps.trainBpeMerges(corpus, "text", numMerges = 4) == merges)
  }

  test("trainBpeMerges: maxWords truncation keeps the top-frequency cut " +
       "deterministically and trains on exactly maxWords words") {
    import spark.implicits._
    // maxWords + 1 = 4 distinct words; 'dd' is the least frequent and the
    // lexicographic loser among the count-1 ties -> it is the word cut
    val corpus = Seq("aa aa aa", "bb bb", "cc", "dd").toDF("text")
    // full vocab trains (a,a) first at count 3+... ; with maxWords=3 the
    // result must equal training on the corpus WITHOUT 'dd'
    val truncated = TextOps.trainBpeMerges(corpus, "text", numMerges = 3,
      maxWords = 3)
    val without = TextOps.trainBpeMerges(
      Seq("aa aa aa", "bb bb", "cc").toDF("text"), "text", numMerges = 3)
    assert(truncated == without,
      s"truncated=$truncated without-dd=$without")
    // tie order: counts desc then word asc — with maxWords=3 the kept
    // count-1 word is 'cc' (asc before 'dd'), so no merge ever touches a
    // 'd' symbol
    def touchesD(ms: Seq[(String, String)]) =
      ms.exists { case (l, r) => l.contains("d") || r.contains("d") }
    assert(!touchesD(truncated), s"truncated=$truncated")
    // the un-truncated run still sees 'dd' (enough merges to exhaust)
    val full = TextOps.trainBpeMerges(corpus, "text", numMerges = 12)
    assert(touchesD(full), s"full=$full")
  }

  test("weightedSampleByHash: weight 1 keeps all, 0/null keep none, kept " +
       "set is monotone in the weight") {
    import spark.implicits._
    val rows = (0L until 400L).map(i => (i, 0.3))
    def kept(w: java.lang.Double): Set[Long] = {
      val d = rows.map { case (i, _) => (i, w) }.toDF("doc_id", "w")
      graft.ops.SampleOps.weightedSampleByHash(d, "doc_id", "w")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    assert(kept(1.0).size == 400 && kept(5.0).size == 400, "w >= 1 keeps all")
    assert(kept(0.0).isEmpty && kept(null).isEmpty && kept(-2.0).isEmpty)
    val k03 = kept(0.3)
    val k06 = kept(0.6)
    assert(k03.nonEmpty && k03.size < 400, s"0.3 must genuinely sample: ${k03.size}")
    assert(k03.subsetOf(k06), "kept set must be monotone in the weight")
    // rate roughly tracks the weight (hash-uniformity; generous bounds)
    assert(k03.size > 400 * 0.15 && k03.size < 400 * 0.45, s"got ${k03.size}")
  }

  test("landBpeMerges/loadBpeMerges round-trip preserves rank order; " +
       "re-landing is a no-op") {
    val merges = Seq(("a", "a"), ("a", "b"), ("aa", "ab"))
    val tbl = "graft_bpe_spec_tbl"
    val tmp = java.nio.file.Files.createTempDirectory("graft_bpe").toString
    try {
      TextOps.landBpeMerges(merges, spark, tbl, Some(s"$tmp/$tbl"))
      assert(TextOps.loadBpeMerges(spark, tbl) == merges)
      // idempotent: landing a DIFFERENT list under the same name is a
      // no-op (existing table wins) — drop to retrain
      TextOps.landBpeMerges(Seq(("x", "y")), spark, tbl, Some(s"$tmp/$tbl"))
      assert(TextOps.loadBpeMerges(spark, tbl) == merges)
    } finally { spark.sql(s"DROP TABLE IF EXISTS $tbl"); () }
  }

  test("corpusDiff: added/removed/changed classified; unchanged and " +
       "null-to-null texts emit no row; null-to-text is a change") {
    import spark.implicits._
    val older = Seq((1L, "same"), (2L, "will change"), (3L, "will vanish"),
      (4L, null.asInstanceOf[String]), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val newer = Seq((1L, "same"), (2L, "has changed"), (6L, "brand new"),
      (4L, null.asInstanceOf[String]), (5L, "text now"))
      .toDF("doc_id", "text")
    val diff = graft.ops.SampleOps.corpusDiff(older, newer, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(diff == Map(2L -> "changed", 3L -> "removed", 5L -> "changed",
      6L -> "added"), s"got $diff")
  }

  test("trainNgramLm / ngramLogProbScore: hand-computed bigram " +
       "probabilities; unseen contexts back off to uniform 1/V; short and " +
       "in-domain docs behave") {
    import spark.implicits._
    // train "a b a b a c": bigrams (a,b)x2 (b,a)x2 (a,c)x1;
    // ctx_cnt(a)=3, ctx_cnt(b)=2; V=3
    val lm = TextOps.trainNgramLm(Seq("a b a b a c").toDF("text"), "text", n = 2)
    assert(lm.vocabSize == 3L)
    val counts = lm.grams.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(counts.values.toSeq.sorted == Seq(1L, 2L, 2L))

    val scored = TextOps.ngramLogProbScore(
      Seq((0L, "a b a"),   // p(b|a)=(2+1)/(3+3)=1/2, p(a|b)=(2+1)/(2+3)=3/5
          (1L, "z z z"),   // unseen ctx twice: p=(0+1)/(0+3)=1/3
          (2L, "a"),       // 1 token < n -> no row
          (3L, null.asInstanceOf[String])).toDF("doc_id", "text"),
      "doc_id", "text", lm)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def microNat(ps: Seq[Double]): Double = {
      val sum = ps.map(p => math.floor(math.log(p) * 1e6 + 0.5).toLong).sum
      BigDecimal(-(sum.toDouble / 1e6) / ps.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(scored.keySet == Set(0L, 1L))
    assert(scored(0L) == ((2L, microNat(Seq(0.5, 0.6)))), s"got ${scored(0L)}")
    assert(scored(1L) == ((2L, microNat(Seq(1.0 / 3, 1.0 / 3)))), s"got ${scored(1L)}")

    // the quality axis: a doc of in-domain bigrams scores LOWER (more
    // probable) than an out-of-domain doc under the same model
    val sep = TextOps.ngramLogProbScore(
      Seq((10L, "a b a b"), (11L, "q r s t")).toDF("doc_id", "text"),
      "doc_id", "text", lm)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(sep(10L) < sep(11L),
      s"in-domain must be more probable: ${sep.toSeq.sorted}")
  }

  test("duplicateSpans: a shared 10-token paragraph surfaces as ONE merged " +
       "span per doc with exact char provenance; within-doc repeats and " +
       "sub-k overlaps stay invisible") {
    import spark.implicits._
    val shared = (0 until 10).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (0L, s"alpha0 alpha1 alpha2 alpha3 alpha4 alpha5 $shared beta0 beta1 beta2"),
      (1L, s"gamma0 gamma1 $shared delta0 delta1 delta2 delta3 delta4 delta5"),
      // k-1 = 7 shared tokens only: no full k-gram in common -> invisible
      (2L, "eps0 eps1 " + (0 until 7).map(i => s"shared$i").mkString(" ") + " eps2"),
      // the same 10 tokens REPEATED within one doc, nowhere else: minDf
      // counts distinct docs, so this stays invisible too
      (3L, (0 until 10).map(i => s"solo$i").mkString(" ") + " mid " +
        (0 until 10).map(i => s"solo$i").mkString(" "))
    ).toDF("doc_id", "text")
    val spans = DedupOps.duplicateSpans(docs, "doc_id", "text", k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(spans.map(_._1).toSet == Set(0L, 1L),
      s"only the two docs sharing a full 8-gram carry spans: ${spans.toSeq}")
    // 10 shared tokens, k=8 -> 3 dup grams, merged into ONE span of tokens
    // [start, start+9]; doc 0's shared region starts at token 7, doc 1's at 3
    val byDoc = spans.groupBy(_._1)
    assert(byDoc.values.forall(_.length == 1), s"one merged span each: ${spans.toSeq}")
    val (s0, s1) = (byDoc(0L).head, byDoc(1L).head)
    assert((s0._3, s0._4, s0._7) == ((7L, 16L, 3L)), s"doc0 span: $s0")
    assert((s1._3, s1._4, s1._7) == ((3L, 12L, 3L)), s"doc1 span: $s1")
    // char provenance: the substring over [char_start, char_end] IS the
    // shared paragraph, in both docs
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    Seq(s0, s1).foreach { s =>
      val sub = texts(s._1).substring(s._5.toInt - 1, s._6.toInt)
      assert(sub == shared, s"span chars must recover the paragraph: '$sub'")
    }
  }

  test("stripDuplicateSpans: lowest (doc_id, tok_start) occurrence keeps its " +
       "text, later occurrences are excised, clean docs pass byte-identical") {
    import spark.implicits._
    val shared = (0 until 10).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (0L, s"alpha0 alpha1 alpha2 alpha3 alpha4 alpha5 $shared beta0 beta1 beta2"),
      (1L, s"gamma0 gamma1 $shared delta0 delta1 delta2 delta3 delta4 delta5"),
      (2L, s"zeta0 zeta1 $shared"),
      (3L, "untouched document with its own words entirely")
    ).toDF("doc_id", "text")
    val out = DedupOps.stripDuplicateSpans(docs, "doc_id", "text", k = 8)
      .select("doc_id", "clean_text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 0 is the canonical occurrence -> byte-identical
    assert(out(0L) == s"alpha0 alpha1 alpha2 alpha3 alpha4 alpha5 $shared beta0 beta1 beta2")
    // docs 1/2 lose exactly the span's characters (the flanking spaces stay)
    assert(out(1L) == "gamma0 gamma1  delta0 delta1 delta2 delta3 delta4 delta5",
      s"got '${out(1L)}'")
    assert(out(2L) == "zeta0 zeta1 ", s"got '${out(2L)}'")
    assert(out(3L) == "untouched document with its own words entirely")
  }

  test("contaminatedIdsBloom equals exact contaminatedIds; sketch probe " +
       "rejects non-members") {
    import spark.implicits._
    val docs = (0L until 40L).map { i =>
      val body =
        if (i % 7 == 0) "alpha beta gamma delta epsilon shared probe run here"
        else s"doc $i unique words nothing in common with probes at all $i"
      (i, body)
    }.toDF("doc_id", "text")
    val probes = Seq("alpha beta gamma delta epsilon shared probe run here")
      .toDF("text")
    val exact = DedupOps.contaminatedIds(docs, "doc_id", "text",
        probes, "text", shingleSize = 5)
      .collect().map(_.getLong(0)).toSet
    val bloom = DedupOps.contaminatedIdsBloom(docs, "doc_id", "text",
        probes, "text", shingleSize = 5, fpp = 0.01)
      .collect().map(_.getLong(0)).toSet
    assert(exact == bloom)
    assert(bloom == (0L until 40L).filter(_ % 7 == 0).toSet)
    // sketch-level behavior: members always hit, a non-member misses at
    // this sizing (deterministic: fixed hash, fixed sizing)
    val sketchExprs = org.apache.spark.sql.catalyst.expressions.graftdedup
      .HashSketchExpressions
    val sh = Seq("g one", "g two", "g three").toDF("__sh")
    val bytes = sh.select(
        sketchExprs.bloomAggregate(xxhash64(col("__sh")), 3L, 1024L))
      .head().getAs[Array[Byte]](0)
    val probeRes = Seq("g one", "g two", "g three", "definitely absent gram")
      .toDF("__sh")
      .select(col("__sh"),
        sketchExprs.bloomMightContain(bytes, xxhash64(col("__sh"))).as("hit"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(probeRes("g one") && probeRes("g two") && probeRes("g three"))
    assert(!probeRes("definitely absent gram"),
      "1024-bit sketch over 3 items should reject a non-member")
  }

  test("resampleToMixture: deterministic upsampling hits target mixture, " +
       "unlisted sources drop, epochs are dense") {
    import spark.implicits._
    val docs = ((0L until 100L).map(i => (i, "web")) ++
      (100L until 110L).map(i => (i, "books")) ++
      (110L until 120L).map(i => (i, "junk"))).toDF("doc_id", "source")
    // 50/50 web/books at 100 output rows: web rate 0.5 (hash-gated), books
    // rate 5.0 (every row exactly 5 copies); junk unlisted -> dropped
    val out = graft.ops.SampleOps.resampleToMixture(docs, "doc_id", "source",
      Map("web" -> 0.5, "books" -> 0.5), totalRows = 100)
    val rows = out.select("doc_id", "source", "epoch")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(!rows.exists(_._2 == "junk"))
    // books: every doc exactly 5 copies, epochs 0..4
    val books = rows.filter(_._2 == "books").groupBy(_._1).view.mapValues(_.map(_._3).sorted)
    assert(books.size == 10)
    books.foreach { case (_, es) => assert(es.toSeq == Seq(0L, 1L, 2L, 3L, 4L)) }
    // web: hash-gated single copies, close to 50 of 100 in expectation
    val web = rows.filter(_._2 == "web")
    assert(web.forall(_._3 == 0L))
    assert(web.length > 30 && web.length < 70, s"web kept ${web.length}")
    // byte-for-byte deterministic across invocations
    val again = graft.ops.SampleOps.resampleToMixture(docs, "doc_id", "source",
      Map("web" -> 0.5, "books" -> 0.5), totalRows = 100)
      .select("doc_id", "source", "epoch")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.sorted.toSeq == again.sorted.toSeq)
    // a positively-weighted source with no rows fails loudly (silent
    // skipping would undershoot totalRows with the wrong mixture)
    val err = intercept[IllegalArgumentException] {
      graft.ops.SampleOps.resampleToMixture(docs, "doc_id", "source",
        Map("web" -> 0.5, "bookz" -> 0.5), totalRows = 100)
    }
    assert(err.getMessage.contains("bookz"))
  }

  test("resampleToMixtureTokens: rates follow TOKEN sums not row counts; " +
       "null token counts contribute zero; tokenless source fails loudly") {
    import spark.implicits._
    // 100 web docs x 10 tokens (1000 tokens) vs 2 book docs x 500 tokens
    // (1000 tokens): a 50/50 TOKEN mix at 2000 total tokens must give
    // BOTH sources rate 1.0 — exactly one copy each — where the row-based
    // resampler would give books 50/2 = 25 copies per doc
    val docs = ((0L until 100L).map(i => (i, "web", 10L)) ++
      Seq((100L, "books", 500L), (101L, "books", 500L))).toDF("doc_id", "source", "n_tok")
    val out = graft.ops.SampleOps.resampleToMixtureTokens(docs, "doc_id",
      "source", "n_tok", Map("web" -> 0.5, "books" -> 0.5), totalTokens = 2000)
      .select("doc_id", "epoch")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == 102 && out.forall(_._2 == 0L),
      s"rate 1.0 for both sources -> every doc exactly once, got ${out.length}")
    // a null token count contributes 0 to the source sum but the row still
    // replicates at the source rate
    val withNull = docs.union(Seq((102L, "books", Option.empty[Long]))
      .toDF("doc_id", "source", "n_tok"))
    val out2 = graft.ops.SampleOps.resampleToMixtureTokens(withNull, "doc_id",
      "source", "n_tok", Map("web" -> 0.5, "books" -> 0.5), totalTokens = 2000)
    assert(out2.filter(col("doc_id") === 102L).count() >= 1L)
    // a positively-weighted source with zero tokens fails loudly
    val err = intercept[IllegalArgumentException] {
      graft.ops.SampleOps.resampleToMixtureTokens(docs, "doc_id", "source",
        "n_tok", Map("web" -> 0.5, "bookz" -> 0.5), totalTokens = 2000)
    }
    assert(err.getMessage.contains("bookz"))
  }

  test("distinctTokens: approx HLL estimate within 5% of exact; per-batch " +
       "sketches merge to the same estimate as one pass over the union") {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    // two sources with known-ish distinct vocabularies (~800 and ~300)
    val docs = (0L until 400L).map { i =>
      val src = if (i % 2 == 0) "a" else "b"
      val vocab = if (src == "a") 800 else 300
      val words = Seq.fill(20)(s"w${rng.nextInt(vocab)}").mkString(" ")
      (i, src, words)
    }.toDF("doc_id", "source", "text")
    val exact = graft.ops.TextOps.distinctTokens(docs, "source", "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = graft.ops.TextOps.distinctTokens(docs, "source", "text",
        approx = true)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (src, n) =>
      val est = approx(src).toDouble
      assert(math.abs(est - n) / n < 0.05, s"$src: exact $n, HLL $est")
    }
    // mergeability: sketches per 4 disjoint batches, unioned, give the
    // SAME estimate as one sketch over everything
    val single = graft.ops.TextOps.mergeDistinctSketches(
      graft.ops.TextOps.distinctTokenSketches(docs, "source", "text"), "source")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batched = graft.ops.TextOps.mergeDistinctSketches(
      (0 until 4).map(b =>
        graft.ops.TextOps.distinctTokenSketches(
          docs.filter(col("doc_id") % 4 === b), "source", "text"))
        .reduce(_ unionByName _), "source")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(single == batched,
      s"sketch union must be pass-shape-independent: $single vs $batched")
  }

  test("groupStats: percentile labels round decimally, sub-percent marks " +
       "get distinct names") {
    import spark.implicits._
    val d = (1L to 100L).map(i => ("s", i)).toDF("source", "v")
    val out = TextOps.groupStats(d, "source", "v", Seq(0.29, 0.99, 0.999))
    // 0.29 * 100 = 28.999999999999996 must still label p29, not p28;
    // 0.99 vs 0.999 must not collapse into duplicate p99 columns
    assert(out.columns.toSeq == Seq("source", "n", "mean", "p29", "p99", "p99_9"))
    val r = out.collect()(0)
    assert(r.getAs[Long]("n") == 100L)
    // exact linear interpolation: p29 of 1..100 = 1 + 0.29 * 99
    assert(math.abs(r.getAs[Double]("p29") - (1 + 0.29 * 99)) < 1e-6)
  }

  test("groupCentroids: per-label elementwise means; array variant " +
       "reassembles in dim order") {
    import spark.implicits._
    val d = Seq(
      (0, Array(1.0f, 2.0f, 3.0f)),
      (0, Array(3.0f, 4.0f, 5.0f)),
      (1, Array(10.0f, 0.0f, -2.0f))
    ).toDF("label", "embedding")
    val rows = SimOps.groupCentroids(d, "label", "embedding")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3)))
      .toMap
    assert(rows((0, 0)) == (2.0, 2L) && rows((0, 1)) == (3.0, 2L) &&
      rows((0, 2)) == (4.0, 2L))
    assert(rows((1, 0)) == (10.0, 1L) && rows((1, 2)) == (-2.0, 1L))
    val arrs = SimOps.groupCentroidArrays(d, "label", "embedding")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(arrs(0) == Seq(2.0, 3.0, 4.0))
    assert(arrs(1) == Seq(10.0, 0.0, -2.0))
  }

  test("chunkDocuments: overlapping windows cover every token in order, " +
       "short and empty docs behave") {
    import spark.implicits._
    val text = (1 to 20).map(i => s"w$i").mkString(" ")
    val d = Seq((0L, text), (1L, "one two"), (2L, "... !!!")).toDF("doc_id", "text")
    val rows = TextOps.chunkDocuments(d, "doc_id", "text", maxTokens = 8, overlap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val doc0 = rows.filter(_._1 == 0L).sortBy(_._2)
    // 20 tokens, window 8, step 6 -> ceil(18/6) = 3 chunks
    assert(doc0.map(_._2).toSeq == Seq(0L, 1L, 2L))
    assert(doc0(0)._3 == (1 to 8).map("w" + _).mkString(" "))
    assert(doc0(1)._3 == (7 to 14).map("w" + _).mkString(" "))
    assert(doc0(2)._3 == (13 to 20).map("w" + _).mkString(" "))
    assert(doc0.map(_._4).toSeq == Seq(8L, 8L, 8L))
    // consecutive chunks share exactly `overlap` tokens
    assert(doc0(0)._3.split(" ").takeRight(2).toSeq ==
      doc0(1)._3.split(" ").take(2).toSeq)
    // short doc: one partial chunk; token-less doc: no rows
    val doc1 = rows.filter(_._1 == 1L)
    assert(doc1.length == 1 && doc1(0)._3 == "one two" && doc1(0)._4 == 2L)
    assert(!rows.exists(_._1 == 2L))
  }

  test("exactDedupAgainst keeps only unseen texts; nulls pass through") {
    import spark.implicits._
    val landed = Seq((0L, "already here"), (1L, "also here")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "already here"),       // dup of landed -> dropped
      (11L, "genuinely new"),      // kept
      (12L, null.asInstanceOf[String]), // null text -> kept
      (13L, "also here")           // dup -> dropped
    ).toDF("doc_id", "text")
    val kept = DedupOps.exactDedupAgainst(incoming, "text", landed, "text")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 12L))
  }

  test("nearDedupAgainst drops near-dups of landed docs, keeps distant " +
       "and null-text rows") {
    import spark.implicits._
    val landed = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "spark structured streaming state store eviction semantics notes"))
      .toDF("ref_id", "body")
    val incoming = Seq(
      // near-dup of landed 0 (trailing token) -> dropped
      (10L, "the quick brown fox jumps over the lazy dog again and again extra"),
      // exact copy of landed 1 -> dropped (radius includes 0)
      (11L, "spark structured streaming state store eviction semantics notes"),
      // genuinely different -> kept
      (12L, "completely unrelated content about parquet footer caching"),
      // null text -> passes through
      (13L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val ids = DedupOps.nearDedupAgainst(
        incoming, "doc_id", "text", landed, "body",
        numHashes = 64, bands = 16, threshold = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(12L, 13L), s"got $ids")
    // landed near-dups must NOT dedup the increment against itself: two
    // mutually-similar incoming docs both far from the landed corpus stay
    val twins = Seq(
      (20L, "twin content shared by both incoming documents here today"),
      (21L, "twin content shared by both incoming documents here today too"))
      .toDF("doc_id", "text")
    val twinsKept = DedupOps.nearDedupAgainst(twins, "doc_id", "text",
        landed, "body", numHashes = 64, bands = 16, threshold = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(twinsKept == Set(20L, 21L),
      "increment-internal near-dups are nearDedup's job, not this op's")
  }

  test("nearDedupAgainstIndex: row-identical to the direct path, landed " +
       "bands read bucketed, parameter drift refused") {
    import spark.implicits._
    val landed = (0L until 30L).map { i =>
      (i, s"landed document number $i with some shared boilerplate words " +
          s"and unique tail token$i")
    }.toDF("rid", "body")
    val incoming = Seq(
      (100L, "landed document number 7 with some shared boilerplate words " +
             "and unique tail token7 extra"),              // near-dup -> drop
      (101L, "entirely fresh material nothing in common"), // kept
      (102L, null.asInstanceOf[String])                    // kept
    ).toDF("doc_id", "text")
    val idx = "graft_test_ndidx"
    Seq(s"${idx}_bands", s"${idx}_shingles", s"${idx}_meta").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      // a prior aborted run can leave the managed location behind with no
      // catalog entry; CREATE then refuses the name
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) org.apache.commons.io.FileUtils.deleteDirectory(loc)
    }
    DedupOps.landNearDupIndex(landed, "body", idx,
      numHashes = 64, bands = 16, shingleSize = 3)
    val viaIndex = DedupOps.nearDedupAgainstIndex(
      incoming, "doc_id", "text", idx, threshold = 0.5)
    val directIds = DedupOps.nearDedupAgainst(
        incoming, "doc_id", "text", landed, "body",
        numHashes = 64, bands = 16, threshold = 0.5)
      .collect().map(_.getLong(0)).toSet
    val gotIdx = viaIndex.collect().map(_.getLong(0)).toSet
    assert(gotIdx == Set(101L, 102L), s"got $gotIdx")
    assert(gotIdx == directIds,
      "index path must be row-identical to the direct path")
    // the audit path reports exactly the ids the drop path drops; the
    // NULL-text row is in neither set
    val audited = DedupOps.nearDupMatchesAgainstIndex(
        incoming, "doc_id", "text", idx, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val dropped = Set(100L, 101L, 102L) -- gotIdx
    assert(audited == dropped, s"audit reports $audited, drop path drops $dropped")
    assert(!audited.contains(102L) && !dropped.contains(102L))
    // the landed band table arrives through a bucketed scan (no exchange
    // re-clustering the corpus side)
    val plan = viaIndex.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"),
      s"landed bands should read as a bucketed scan:\n$plan")
    // land-once is idempotent with identical parameters...
    DedupOps.landNearDupIndex(landed, "body", idx,
      numHashes = 64, bands = 16, shingleSize = 3)
    // ...and refuses drifted sketch parameters instead of silently
    // probing an incompatible index
    intercept[IllegalArgumentException] {
      DedupOps.landNearDupIndex(landed, "body", idx,
        numHashes = 128, bands = 16, shingleSize = 3)
    }
    intercept[IllegalArgumentException] {
      DedupOps.nearDedupAgainstIndex(incoming, "doc_id", "text",
        "graft_no_such_index")
    }
  }

  test("randomized invariants: chunk windows reconstruct the token stream; " +
       "lineDedup below threshold is byte-identical") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val words = Seq("alpha", "beta", "gamma", "delta", "x9", "q", "longword7")
    (0 until 3).foreach { round =>
      val docs = (0L until 30L).map { i =>
        val n = rng.nextInt(60)
        (i, Seq.fill(n)(words(rng.nextInt(words.length))).mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
      val maxT = 3 + rng.nextInt(10)
      val ov = rng.nextInt(maxT)
      val step = maxT - ov
      // chunk-coverage invariant: chunk 0 + the tail (after overlap) of
      // every later chunk reconstructs the full token stream exactly
      val chunks = TextOps.chunkDocuments(df, "doc_id", "text", maxT, ov)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .groupBy(_._1)
      docs.foreach { case (id, text) =>
        val toks = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
        if (toks.isEmpty) assert(!chunks.contains(id))
        else {
          val cs = chunks(id).sortBy(_._2).map(_._3.split(" ").filter(_.nonEmpty).toSeq)
          val rebuilt = cs.head ++ cs.tail.flatMap(_.drop(ov))
          // trailing chunks can re-cover already-seen tokens when the last
          // window clamps; compare as prefix-consistent cover
          assert(rebuilt.take(toks.length) == toks,
            s"doc $id: chunks don't reconstruct tokens (maxT=$maxT ov=$ov)")
          assert(rebuilt.length >= toks.length)
          cs.foreach(c => assert(c.length <= maxT))
        }
      }
      // lineDedup with an unreachable threshold: output byte-identical
      val calm = DedupOps.lineDedup(df, "doc_id", "text",
          maxDocFreq = 1000, delimiter = " ")
        .select("doc_id", "text_dedup").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      docs.foreach { case (id, text) => assert(calm(id) == text) }
    }
  }

  test("hashingTfIdf: ubiquitous tokens weigh less than rare ones, " +
       "weights are tf * smoothed idf") {
    import spark.implicits._
    // 'common' appears in every doc; 'rare' in one
    val d = Seq(
      (0L, "common rare"),
      (1L, "common"),
      (2L, "common common")
    ).toDF("doc_id", "text")
    val dim = 64 // common=11, rare=43: distinct buckets at this width
    def bucket(t: String) = (org.apache.spark.sql.catalyst.expressions.graftdedup
      .GraftHashKernels.md5Hash31(
        org.apache.spark.unsafe.types.UTF8String.fromString(t)) % dim).toInt
    val rows = TextOps.hashingTfIdf(d, "doc_id", "text", dim)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val cb = bucket("common").toLong
    val rb = bucket("rare").toLong
    assert(cb != rb, "test tokens must land in distinct buckets")
    // idf(common) = ln(4/4)+1 = 1; idf(rare) = ln(4/2)+1
    val idfRare = math.log(4.0 / 2.0) + 1.0
    assert(math.abs(rows((0L, cb)) - 1.0) < 1e-6)
    assert(math.abs(rows((0L, rb)) - idfRare) < 1e-6)
    assert(math.abs(rows((2L, cb)) - 2.0) < 1e-6) // tf 2 x idf 1
    assert(rows((0L, rb)) > rows((0L, cb)), "rare token must outweigh common")
  }

  test("hashingTfIdf at dim 2^20: plan stays small (no dim-wide literal " +
       "idf, no dense vector), values still exact") {
    import spark.implicits._
    val dim = 1 << 20
    val d = Seq(
      (0L, "common rare"),
      (1L, "common"),
      (2L, "common common")
    ).toDF("doc_id", "text")
    val out = TextOps.hashingTfIdf(d, "doc_id", "text", dim)
    // the r6 shape folded the idf table in as array(lit x dim): at 2^20
    // that is a million-node expression tree and the plan string alone is
    // tens of MB. The sparse+broadcast-join shape must stay tiny.
    val planStr = out.queryExecution.optimizedPlan.toString
    assert(planStr.length < 50000,
      s"plan blew up to ${planStr.length} chars at dim=$dim")
    assert(planStr.contains("hashing_tf_sparse"),
      "idf path must ride on the sparse kernel")
    assert(!planStr.contains("hashing_tf("),
      "dense kernel must not appear in the tfidf plan")
    // and the values are the same exact tf * (ln((N+1)/(df+1))+1)
    def bucket(t: String) = org.apache.spark.sql.catalyst.expressions.graftdedup
      .GraftHashKernels.md5Hash31(
        org.apache.spark.unsafe.types.UTF8String.fromString(t)) % dim
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val cb = bucket("common")
    val rb = bucket("rare")
    assert(cb != rb)
    assert(math.abs(rows((0L, cb)) - 1.0) < 1e-6)
    assert(math.abs(rows((0L, rb)) - (math.log(4.0 / 2.0) + 1.0)) < 1e-6)
    assert(rows.size == 4)
  }

  test("scoreLinear: matches featurize-then-dot reference; idf folds into " +
       "weights; broadcast-free single-pass plan") {
    import spark.implicits._
    val d = Seq(
      (0L, "good clean prose with many words"),
      (1L, "spam spam spam spam"),
      (2L, ""),
      (3L, "mixed content spam prose")
    ).toDF("doc_id", "text")
    val dim = 64
    val rng = new scala.util.Random(23)
    val w = Array.fill(dim)(rng.nextDouble() - 0.5)
    val bias = 0.125
    val got = TextOps.scoreLinear(d, "doc_id", "text", w, bias)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // reference: explode the dense TF vector and dot it with w
    val tf = d.select(col("doc_id"),
        org.apache.spark.sql.functions.posexplode(
          TextOps.hashingTfVector(col("text"), dim)).as(Seq("b", "n")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val z = tf.groupBy(_._1).view.mapValues(
      _.map { case (_, b, n) => w(b) * n }.sum).toMap
    (0L to 3L).foreach { id =>
      val exp = 1.0 / (1.0 + math.exp(-(bias + z.getOrElse(id, 0.0))))
      assert(math.abs(got(id) - exp) < 1e-12, s"doc $id")
    }
    // single map-side pass: no exchange, no join in the plan
    val phys = TextOps.scoreLinear(d, "doc_id", "text", w, bias)
      .queryExecution.executedPlan.toString
    assert(!phys.contains("Exchange") && !phys.contains("Join"),
      s"scoreLinear must be map-side only:\n$phys")
  }

  test("lineDedup exactVerify: an innocent hash-collider of blocked " +
       "boilerplate survives; boilerplate still stripped") {
    import spark.implicits._
    // weak hash = segment length: 'SUBSCRIBE NOW!!' (15 chars) is planted
    // boilerplate in every doc; 'rare fifteen ch' (also 15 chars) appears
    // once and hash-collides with it by construction
    val boiler = "SUBSCRIBE NOW!!"
    val rare = "rare fifteen ch"
    assert(boiler.length == rare.length)
    // body lines get DISTINCT lengths (the weak hash groups by length, so
    // equal-length innocents would cross-collide and muddy the premise);
    // none hits 15 or 11
    val d = ((0L until 6L).map(i => (i, s"b${"x" * i.toInt}\n$boiler")) :+
      (9L, s"unique body\n$rare")).toDF("doc_id", "text")
    val weak: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      s => length(s).cast("long")
    def run(exact: Boolean) = DedupOps.lineDedupImpl(d, "doc_id", "text",
        maxDocFreq = 3, delimiter = "\n", out = "text_dedup",
        maxBlocklist = 1000, exactVerify = exact, hashFn = Some(weak))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("text_dedup"), r.getAs[Long]("n_removed"))).toMap
    // hash-only: the rare line is a collision casualty
    val lossy = run(exact = false)
    assert(lossy(9L)._1 == "unique body" && lossy(9L)._2 == 1L,
      s"premise: weak hash must strip the collider, got ${lossy(9L)}")
    // exact-verify: the rare line survives, boilerplate still goes
    val verified = run(exact = true)
    assert(verified(9L)._1 == s"unique body\n$rare" && verified(9L)._2 == 0L,
      s"collider must survive exact verify, got ${verified(9L)}")
    (0L until 6L).foreach { i =>
      assert(verified(i)._1 == s"b${"x" * i.toInt}" && verified(i)._2 == 1L)
    }
    // the production entry point accepts the flag (xxhash64 path, where a
    // collision is absent by construction -> identical to hash-only here)
    val prod = DedupOps.lineDedup(d, "doc_id", "text", maxDocFreq = 3,
        delimiter = "\n", exactVerify = true)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text_dedup")).toMap
    assert(prod(9L) == s"unique body\n$rare")
    assert(prod(0L) == "b")
  }

  test("groupStats(approx = true): exact when the sketch dominates the " +
       "group, within rank tolerance when it cannot") {
    import spark.implicits._
    // log-normal-ish skew: the shape where percentile audits matter
    val rng = new scala.util.Random(31)
    val rows = (0 until 10000).map { i =>
      (if (i % 2 == 0) "web" else "books", math.exp(rng.nextGaussian() * 2 + 5))
    }
    val df = rows.toDF("source", "v")
    val ps = Seq(0.5, 0.9, 0.99)
    def byGroup(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getString(0) ->
        (3 until r.length).map(r.getDouble)).toMap
    val exact = byGroup(TextOps.groupStats(df, "source", "v", ps))
    // accuracy >= group size: the KLL sketch holds every value -> exact at
    // the sketch level (approx_percentile returns an OBSERVED value, not the
    // interpolated midpoint, so compare by rank window, not equality)
    val tight = byGroup(TextOps.groupStats(df, "source", "v", ps,
      approx = true, accuracy = 100000))
    val loose = byGroup(TextOps.groupStats(df, "source", "v", ps,
      approx = true, accuracy = 100))
    val sortedByGroup = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    for ((g, vs) <- sortedByGroup; (p, i) <- ps.zipWithIndex) {
      val n = vs.length
      def rankOf(x: Double): Int = vs.count(_ <= x)
      val target = p * (n - 1)
      // tight sketch: within 2 ranks of the exact percentile position
      // (the sketch returns an observed value; its rank convention differs
      // from the (n-1)*p interpolation midpoint by up to one on each side)
      assert(math.abs(rankOf(tight(g)(i)) - 1 - target) <= 2.0,
        s"$g p$p tight: ${tight(g)(i)} vs exact ${exact(g)(i)}")
      // loose sketch: rank error bounded by n/accuracy (x4 safety)
      assert(math.abs(rankOf(loose(g)(i)) - 1 - target) <= 4.0 * n / 100,
        s"$g p$p loose rank off: ${loose(g)(i)}")
    }
    // default path is unchanged (the q57 contract): exact percentile
    val planDefault = TextOps.groupStats(df, "source", "v", ps)
      .queryExecution.optimizedPlan.toString
    assert(planDefault.contains("percentile") &&
      !planDefault.contains("approx_percentile"))
  }

  test("trainLinear: learns a planted spam/ham separation; trained model " +
       "scores through scoreLinear; loss decreases") {
    import spark.implicits._
    val rng = new scala.util.Random(47)
    val spamWords = Array("buy", "free", "winner", "click", "pills", "offer")
    val hamWords = Array("meeting", "report", "spark", "window", "agenda", "review")
    val neutral = Array("the", "a", "and", "today", "about")
    def doc(words: Array[String]) =
      (Seq.fill(8)(words(rng.nextInt(words.length))) ++
        Seq.fill(4)(neutral(rng.nextInt(neutral.length)))).mkString(" ")
    val rows = (0 until 120).map { i =>
      if (i % 2 == 0) (i.toLong, doc(spamWords), 1.0)
      else (i.toLong, doc(hamWords), 0.0)
    }
    val d = rows.toDF("doc_id", "text", "label")
    val dim = 64
    val (w, b) = TextOps.trainLinear(d, "text", "label", dim,
      iters = 40, lr = 2.0)
    // score the corpus with the trained model through the native scorer
    val scores = TextOps.scoreLinear(d, "doc_id", "text", w, b)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val labels = rows.map(r => r._1 -> r._3).toMap
    val acc = rows.count { case (id, _, y) =>
      (scores(id) >= 0.5) == (y >= 0.5) } / rows.size.toDouble
    assert(acc >= 0.99, s"trained accuracy $acc")
    def loss(wv: Array[Double], bv: Double): Double = {
      val s = TextOps.scoreLinear(d, "doc_id", "text", wv, bv)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      -rows.map { case (id, _, y) =>
        val p = s(id).max(1e-12).min(1 - 1e-12)
        y * math.log(p) + (1 - y) * math.log(1 - p)
      }.sum / rows.size
    }
    assert(loss(w, b) < loss(new Array[Double](dim), 0.0) / 4,
      "training must cut the log loss well below the zero-model baseline")
    // one gradient step must equal the driver-side computation (the
    // distributed aggregation IS the gradient, not an approximation)
    val (w1, b1) = TextOps.trainLinear(d, "text", "label", dim,
      iters = 1, lr = 0.5)
    def bucket(t: String) = (org.apache.spark.sql.catalyst.expressions.graftdedup
      .GraftHashKernels.md5Hash31(
        org.apache.spark.unsafe.types.UTF8String.fromString(t)) % dim).toInt
    val gw = new Array[Double](dim)
    var gb = 0.0
    rows.foreach { case (_, text, y) =>
      val err = 0.5 - y // sigmoid(0) with zero init
      text.split(" ").foreach(t => gw(bucket(t)) += err)
      gb += err
    }
    val expW = gw.map(g => -0.5 * g / rows.size)
    val expB = -0.5 * gb / rows.size
    assert(math.abs(b1 - expB) < 1e-9, s"bias $b1 != $expB")
    expW.indices.foreach { i =>
      assert(math.abs(w1(i) - expW(i)) < 1e-9, s"w($i): ${w1(i)} != ${expW(i)}")
    }
  }

  /** Planted spam/ham corpus shared by the trainLinear convergence tests. */
  private def spamHamCorpus(n: Int = 120, rngSeed: Int = 47)
      : Seq[(Long, String, Double)] = {
    val rng = new scala.util.Random(rngSeed)
    val spamWords = Array("buy", "free", "winner", "click", "pills", "offer")
    val hamWords = Array("meeting", "report", "spark", "window", "agenda", "review")
    val neutral = Array("the", "a", "and", "today", "about")
    def doc(words: Array[String]) =
      (Seq.fill(8)(words(rng.nextInt(words.length))) ++
        Seq.fill(4)(neutral(rng.nextInt(neutral.length)))).mkString(" ")
    (0 until n).map { i =>
      if (i % 2 == 0) (i.toLong, doc(spamWords), 1.0)
      else (i.toLong, doc(hamWords), 0.0)
    }
  }

  private def modelAccuracy(rows: Seq[(Long, String, Double)],
                            w: Array[Double], b: Double): Double = {
    import spark.implicits._
    val d = rows.toDF("doc_id", "text", "label")
    val scores = TextOps.scoreLinear(d, "doc_id", "text", w, b)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.count { case (id, _, y) =>
      (scores(id) >= 0.5) == (y >= 0.5) } / rows.size.toDouble
  }

  test("trainLinearModel: relative-loss early stop fires well before the " +
       "iteration budget at identical accuracy; loss curve decreases") {
    import spark.implicits._
    val rows = spamHamCorpus()
    val d = rows.toDF("doc_id", "text", "label")
    val dim = 64
    val full = TextOps.trainLinearModel(d, "text", "label", dim,
      iters = 40, lr = 2.0)
    assert(full.itersRun == 40 && full.losses.length == 40)
    assert(full.batchSizes.forall(_ == rows.size.toLong),
      "full-batch training must see every row each iteration")
    // logistic loss on separable data decays ~1/t, so the relative delta
    // per step is ~1/t: tol=0.02 fires near iteration 40, far under budget
    val early = TextOps.trainLinearModel(d, "text", "label", dim,
      iters = 200, lr = 2.0, tol = 0.02)
    assert(early.itersRun < 100,
      s"tol=0.02 must stop well before the 200-iteration budget, ran ${early.itersRun}")
    assert(early.losses.length == early.itersRun)
    // converged-enough: same accuracy as the fixed 40-iteration schedule
    val accFull = modelAccuracy(rows, full.weights, full.bias)
    val accEarly = modelAccuracy(rows, early.weights, early.bias)
    assert(accFull >= 0.99 && accEarly == accFull,
      s"early-stop accuracy $accEarly must match fixed-schedule $accFull")
    assert(early.losses.last < early.losses.head / 4,
      "loss at stop must be well below the zero-model starting loss")
    // the recorded stopping condition actually held at the stop point
    val last = early.losses(early.itersRun - 1)
    val prev = early.losses(early.itersRun - 2)
    assert(math.abs(prev - last) <= 0.02 * math.max(math.abs(prev), 1e-12),
      s"stop point must satisfy the relative-loss criterion ($prev -> $last)")
  }

  test("trainLinearModel: hash-gated mini-batches are proper subsets, " +
       "reproducible under the same seed, and still learn the separation") {
    import spark.implicits._
    val rows = spamHamCorpus(n = 200)
    val d = rows.toDF("doc_id", "text", "label")
    val dim = 64
    val r1 = TextOps.trainLinearModel(d, "text", "label", dim,
      iters = 30, lr = 2.0, sampleFraction = 0.5, seed = 7L)
    val r2 = TextOps.trainLinearModel(d, "text", "label", dim,
      iters = 30, lr = 2.0, sampleFraction = 0.5, seed = 7L)
    assert(java.util.Arrays.equals(r1.weights, r2.weights) && r1.bias == r2.bias,
      "identical seed must reproduce bit-identical weights")
    assert(r1.batchSizes.sameElements(r2.batchSizes))
    assert(r1.batchSizes.forall(bs => bs > 0 && bs < rows.size.toLong),
      s"0.5-fraction batches must be proper subsets: ${r1.batchSizes.toSeq}")
    // different seed -> different batch schedule (hash gate is seed-driven)
    val r3 = TextOps.trainLinearModel(d, "text", "label", dim,
      iters = 30, lr = 2.0, sampleFraction = 0.5, seed = 8L)
    assert(!r1.batchSizes.sameElements(r3.batchSizes) ||
      !java.util.Arrays.equals(r1.weights, r3.weights),
      "a different seed must change the batch schedule")
    assert(modelAccuracy(rows, r1.weights, r1.bias) >= 0.95,
      "mini-batch SGD must still learn the planted separation")
  }

  private def pngBytes(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    bos.toByteArray
  }

  /** Horizontal luminance gradient (dhash = all 64 bits set) with optional
    * pixel-doubling scale and a localized edit blacking out one grid cell. */
  private def gradientImage(scale: Int = 1, editCell: Option[(Int, Int)] = None) = {
    val img = new java.awt.image.BufferedImage(
      36 * scale, 32 * scale, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32 * scale; x <- 0 until 36 * scale) {
      val sx = x / scale
      val cell = ((y / scale) / 4, sx / 4) // (row in 8, col in 9) for 36x32
      val v = if (editCell.contains(cell)) 0 else (sx * 255) / 35
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    img
  }

  test("image dhash64: invariant to pixel-doubling rescale and re-encode; " +
       "localized edit moves few bits; inversion moves all 64") {
    val base = MultimodalOps.dhash64(gradientImage())
    assert(base == -1L, f"gradient should set all 64 bits, got $base%016x")
    // 2x pixel doubling partitions every 9x8 cell into the same source
    // pixels -> identical area means -> identical hash
    assert(MultimodalOps.dhash64(gradientImage(scale = 2)) == base)
    // decode(encode(img)) round-trips losslessly for PNG
    val reenc = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(pngBytes(gradientImage())))
    assert(MultimodalOps.dhash64(reenc) == base)
    // blacking out one interior cell flips at most its two neighbor
    // comparisons -> a near-dup, inside the banded radius
    val edited = MultimodalOps.dhash64(gradientImage(editCell = Some((3, 4))))
    val dEdit = java.lang.Long.bitCount(base ^ edited)
    assert(dEdit >= 1 && dEdit <= 2, s"edit moved $dEdit bits")
    // inverted gradient reverses every comparison
    val inv = new java.awt.image.BufferedImage(
      36, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 36) {
      val v = 255 - (x * 255) / 35
      inv.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    assert(java.lang.Long.bitCount(base ^ MultimodalOps.dhash64(inv)) == 64)
  }

  test("imageNearDupPairs: edited copy paired, inverted image not; " +
       "undecodable bytes drop out as null dhash") {
    val media = Seq(
      (0L, pngBytes(gradientImage())),
      (1L, pngBytes(gradientImage(editCell = Some((3, 4))))), // near-dup of 0
      (2L, pngBytes { // inverted: 64 bits away from 0
        val img = new java.awt.image.BufferedImage(
          36, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until 32; x <- 0 until 36) {
          val v = 255 - (x * 255) / 35
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
        }
        img
      }),
      (3L, "these bytes are not an image".getBytes("UTF-8")))
      .toDF("media_id", "bytes")
    val hashes = MultimodalOps.imageDHashes(media).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(hashes(3L).isEmpty, "undecodable bytes must yield null dhash")
    assert(hashes(0L).isDefined && hashes(0L) == Some(-1L))
    val pairs = MultimodalOps.imageNearDupPairs(media)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((0L, 1L)),
      s"expected exactly the planted pair, got ${pairs.toSeq}")
    assert(pairs.head._3 <= 2, s"planted pair hamming: ${pairs.head._3}")
  }

  test("hammingNearDupPairs: pigeonhole guarantee at radius bands-1 and " +
       "observe metrics on the executed query") {
    // sketches 3 bits apart (within default radius 3 for 4 bands): a pair
    // differing in 3 bits must share at least one untouched 16-bit band
    val sk = Seq((0L, 0x0123456789abcdefL),
                 (1L, 0x0123456789abcdefL ^ 0x7L),  // 3 low bits flipped
                 (2L, ~0x0123456789abcdefL))        // 64 bits away
      .toDF("id", "sk")
    val out = DedupOps.hammingNearDupPairs(sk, "id", "sk")
    val pairs = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((0L, 1L, 3L)), s"got $pairs")
    val (_, metrics) = ScalingProbe.runWithMetrics(spark, out)
    val agg = ScalingProbe.aggregate(metrics)
    assert(agg("candidate_pairs") >= 1L, s"candidate metric missing: $metrics")
    assert(agg("verified_pairs") == 1L, s"verified metric should be 1: $metrics")
  }

  test("appendNearDupIndex: day-2 ingest catches near-dups of day-1 " +
       "accepted docs; re-append is a no-op") {
    val day0 = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (1L, "one two three four five six seven eight nine ten eleven twelve"))
      .toDF("doc_id", "text")
    val day1 = Seq(
      (10L, "red orange yellow green blue indigo violet ultraviolet infrared x"),
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota kappa tail"))
      .toDF("doc_id", "text") // 11 near-dups day-0 doc 0; 10 is novel
    val day2 = Seq(
      (20L, "red orange yellow green blue indigo violet ultraviolet infrared x y"),
      (21L, "north south east west up down left right forward backward spin"))
      .toDF("doc_id", "text") // 20 near-dups day-1 ACCEPTED doc 10
    val idx = "graft_append_spec_idx"
    Seq("_meta", "_bands", "_shingles").foreach { sfx =>
      spark.sql(s"DROP TABLE IF EXISTS $idx$sfx")
      // a killed prior run can leave the managed location behind without
      // its catalog entry; CTAS then refuses the name
      val loc = new java.io.File(s"spark-warehouse/$idx$sfx")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(); ()
        }
        rm(loc)
      }
    }
    DedupOps.landNearDupIndex(day0, "text", idx, numHashes = 64, bands = 16)
    val acc1 = DedupOps.nearDedupAgainstIndex(day1, "doc_id", "text", idx,
      threshold = 0.5)
    assert(acc1.select("doc_id").collect().map(_.getLong(0)).toSet == Set(10L),
      "day-1: doc 11 (near-dup of indexed 0) dropped, novel 10 accepted")
    assert(DedupOps.appendNearDupIndex(acc1, "text", idx) == 1L)
    val acc2 = DedupOps.nearDedupAgainstIndex(day2, "doc_id", "text", idx,
      threshold = 0.5)
    assert(acc2.select("doc_id").collect().map(_.getLong(0)).toSet == Set(21L),
      "day-2: doc 20 (near-dup of day-1 accepted 10) must be caught " +
        "via the appended index rows")
    // idempotent: same batch again indexes nothing
    assert(DedupOps.appendNearDupIndex(acc1, "text", idx) == 0L)
  }

  test("compactNearDupIndex: collapses land+append file history to <= one " +
       "file per bucket; probe results row-identical across compaction") {
    val base = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (1L, "one two three four five six seven eight nine ten eleven twelve"),
      (2L, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"))
      .toDF("doc_id", "text")
    val addA = Seq(
      (10L, "red orange yellow green blue indigo violet ultraviolet infrared x"))
      .toDF("doc_id", "text")
    val addB = Seq(
      (20L, "north south east west up down left right forward backward spin"))
      .toDF("doc_id", "text")
    val probe = Seq(
      (30L, "red orange yellow green blue indigo violet ultraviolet infrared x y"),
      (31L, "alpha beta gamma delta epsilon zeta eta theta iota kappa tail"),
      (32L, "completely novel text with no indexed relative whatsoever here"))
      .toDF("doc_id", "text")
    val idx = "graft_compact_spec_idx"
    Seq("_meta", "_bands", "_shingles").foreach { sfx =>
      spark.sql(s"DROP TABLE IF EXISTS $idx$sfx")
      val loc = new java.io.File(s"spark-warehouse/$idx$sfx")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(); ()
        }
        rm(loc)
      }
    }
    DedupOps.landNearDupIndex(base, "text", idx, numHashes = 64, bands = 16)
    assert(DedupOps.appendNearDupIndex(addA, "text", idx) == 1L)
    assert(DedupOps.appendNearDupIndex(addB, "text", idx) == 1L)
    def probeIds(): Set[Long] =
      DedupOps.nearDedupAgainstIndex(probe, "doc_id", "text", idx,
        threshold = 0.5).select("doc_id").collect().map(_.getLong(0)).toSet
    val before = probeIds()
    assert(before == Set(32L),
      "30 near-dups appended 10, 31 near-dups landed 0 — only 32 survives")
    val stats = DedupOps.compactNearDupIndex(spark, idx)
    stats.foreach { case (t, (nBefore, nAfter)) =>
      assert(nAfter <= 8, s"$t: expected <= one file per bucket after " +
        s"compaction, got $nAfter")
      assert(nAfter <= nBefore, s"$t: compaction must never grow the " +
        s"file count ($nBefore -> $nAfter)")
    }
    // the bands table is the deterministic shrink witness: every doc emits
    // 16 band rows spread across the 8 buckets, so the land and each
    // append each wrote ~8 files (24-ish total) that compaction collapses
    // to <= 8. (The 3-doc shingles table can already be minimal — one file
    // per populated bucket — so no strict shrink is asserted there.)
    val (bandsBefore, bandsAfter) = stats(s"${idx}_bands")
    assert(bandsBefore > bandsAfter,
      s"bands: land + 2 appends wrote $bandsBefore files; compaction " +
        s"must collapse them (got $bandsAfter)")
    assert(probeIds() == before,
      "compaction must be row-preserving: identical probe verdicts")
    // the compacted table still serves another append cycle
    val accP = DedupOps.nearDedupAgainstIndex(
      Seq((40L, "totally fresh sentence about volcanic basalt columns ok"))
        .toDF("doc_id", "text"), "doc_id", "text", idx, threshold = 0.5)
    assert(DedupOps.appendNearDupIndex(accP, "text", idx) == 1L)
  }

  test("compaction guards: bucketed+partitioned layouts refuse (both " +
       "entry points), a schema-mismatched __compact name collision " +
       "refuses instead of deleting, multipart names refuse") {
    import graft.sources.BucketedLand
    val both = "graft_compact_guard_both"
    val plainT = "graft_compact_guard_plain"
    Seq(both, plainT, s"${plainT}__compact")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      Seq((1L, "a", 1), (2L, "b", 2)).toDF("k", "p", "v")
        .write.partitionBy("p").bucketBy(4, "k").sortBy("k")
        .format("parquet").saveAsTable(both)
      val e1 = intercept[IllegalArgumentException] {
        BucketedLand.compactTable(spark, both)
      }
      assert(e1.getMessage.contains("bucketed AND partitioned"))
      val e2 = intercept[IllegalArgumentException] {
        BucketedLand.compactPartitionedTable(spark, both)
      }
      assert(e2.getMessage.contains("partitioned AND bucketed"))
      // unrelated table squatting on the side name: refuse, don't delete
      Seq((1L, 1)).toDF("k", "v")
        .write.bucketBy(4, "k").sortBy("k").format("parquet")
        .saveAsTable(plainT)
      Seq(("not", "related")).toDF("x", "y")
        .write.format("parquet").saveAsTable(s"${plainT}__compact")
      val e3 = intercept[IllegalStateException] {
        BucketedLand.compactTable(spark, plainT)
      }
      assert(e3.getMessage.contains("DIFFERENT schema"))
      assert(spark.table(s"${plainT}__compact").count() == 1L,
        "the colliding table must survive untouched")
      intercept[IllegalArgumentException] {
        BucketedLand.compactTable(spark, s"default.$plainT")
      }
    } finally Seq(both, plainT, s"${plainT}__compact")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("text ops do not clobber a pre-existing __tok column") {
    val d = Seq((0L, "the quick brown fox", "USER DATA"))
      .toDF("doc_id", "text", "__tok")
    val lang = TextOps.langId(d, "text")
    assert(lang.select("__tok").first().getString(0) == "USER DATA")
    val qual = TextOps.qualityScore(d, "text")
    assert(qual.select("__tok").first().getString(0) == "USER DATA")
    val rep = TextOps.repetitionSignals(d, "text")
    assert(rep.select("__tok").first().getString(0) == "USER DATA")
  }

  test("weightedTopKPerGroup: driver replay of the A-ES priority rule; " +
       "zero/negative/null weights excluded; heavier rows win more often " +
       "than lighter ones over many draws") {
    import spark.implicits._
    import graft.ops.SampleOps
    val d = (0L until 40L).map(i => (i, s"g${i % 2}",
      if (i == 7L) 0.0 else if (i == 9L) -1.0 else (i % 5 + 1).toDouble))
      .toDF("id", "grp", "w") // ids 7, 9 are never eligible
    val got = SampleOps.weightedTopKPerGroup(d, "grp", "id", "w", k = 3)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(3)))
    // exact driver replay of the documented rule
    def h31(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"graft-wtopk:$s".getBytes("UTF-8"))
      val hi = java.nio.ByteBuffer.wrap(md).getLong(0)
      hi & 0x7fffffffL
    }
    val want = (0L until 40L).filter(i => i != 7L && i != 9L)
      .map { i =>
        val w = (i % 5 + 1).toDouble
        val u = (h31(i.toString) + 1).toDouble / 2147483648.0
        (s"g${i % 2}", i, math.floor(math.log(u) / w * 1e6 + 0.5).toLong)
      }
      .groupBy(_._1).flatMap { case (g, rows) =>
        rows.sortBy(r => (-r._3, r._2)).take(3).zipWithIndex
          .map { case ((_, id, _), rk) => (g, id, rk + 1L) }
      }.toSet
    assert(got.toSet == want, s"got ${got.toSet}\nwant $want")
    // statistical sanity: weight-5 rows beat weight-1 rows on average
    val many = (0L until 2000L).map(i =>
      (i, "g", if (i % 2 == 0) 5.0 else 1.0)).toDF("id", "grp", "w")
    val kept = SampleOps.weightedTopKPerGroup(many, "grp", "id", "w", k = 200)
      .collect().map(_.getLong(0))
    val heavy = kept.count(_ % 2 == 0)
    assert(heavy > 120, s"only $heavy/200 heavy rows kept — weighting inert?")
  }

  test("scriptSignals: hand-counted fractions over non-space chars; " +
       "empty and whitespace-only text score zero everywhere") {
    import spark.implicits._
    // "ab Ж 12 你" -> non-space chars: a b Ж 1 2 你 = 6
    val d = Seq((0L, "ab Ж 12 你"), (1L, ""), (2L, "   "),
      (3L, "всё по-русски")).toDF("doc_id", "text")
    val got = TextOps.scriptSignals(d, "text")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    def approx(a: Double, b: Double) = math.abs(a - b) < 1e-9
    val (lat, cyr, han, dig) = got(0L)
    assert(approx(lat, math.rint(2.0 / 6 * 1e6) / 1e6) &&
      approx(cyr, math.rint(1.0 / 6 * 1e6) / 1e6) &&
      approx(han, math.rint(1.0 / 6 * 1e6) / 1e6) &&
      approx(dig, math.rint(2.0 / 6 * 1e6) / 1e6), got(0L))
    assert(got(1L) == ((0.0, 0.0, 0.0, 0.0)) &&
      got(2L) == ((0.0, 0.0, 0.0, 0.0)))
    // "всё по-русски": 12 non-space chars, 11 Cyrillic + the hyphen
    val (l3, c3, _, _) = got(3L)
    assert(l3 == 0.0 && approx(c3, math.rint(11.0 / 12 * 1e6) / 1e6),
      got(3L))
  }

  test("standardizeEmbeddings: hand-checked z-scores per (label, dim); " +
       "constant dims and singleton groups pin to 0.0; null vectors drop") {
    import spark.implicits._
    val d = Seq(
      (1L, 0, Array(1.0f, 5.0f, 7.0f)),
      (2L, 0, Array(3.0f, 5.0f, 3.0f)),
      (3L, 1, Array(9.0f, 9.0f, 9.0f)),
      (4L, 2, null.asInstanceOf[Array[Float]])
    ).toDF("vec_id", "label", "embedding")
    val got = SimOps.standardizeEmbeddings(d, "vec_id", "label", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](2)).toMap
    // label 0, dim 0: values (1, 3), mu 2, sigma_pop 1 -> z = -1, +1
    // label 0, dim 1: constant 5 -> sigma 0 -> 0.0
    // label 0, dim 2: values (7, 3), mu 5, sigma_pop 2 -> z = +1, -1
    assert(got(1L) == Seq(-1.0, 0.0, 1.0), got(1L))
    assert(got(2L) == Seq(1.0, 0.0, -1.0), got(2L))
    // singleton group: every dim constant -> all zeros
    assert(got(3L) == Seq(0.0, 0.0, 0.0), got(3L))
    assert(!got.contains(4L), "null vector leaked through")
  }

  test("stripMarkup + linkDensity: script/style bodies vanish, tags " +
       "become spacing, entities decode with amp last, whitespace " +
       "collapses; density counts stripped anchor chars only") {
    import spark.implicits._
    val html = "<html><body>\n  <h1>Ti&amp;tle</h1>" +
      "<script type=\"x\">if (a < b) { alert('nope') }</script>" +
      "<style>h1 { color: red }</style>" +
      "<p>one&nbsp;two   three<br/>four</p>" +
      "<a href=\"/x\"><b>bold</b> link</a>" +
      "&amp;lt; stays&#39;s</body></html>"
    val d = Seq(Tuple1(html)).toDF("h")
    val clean = d.select(TextOps.stripMarkup(col("h"))).first().getString(0)
    assert(clean == "Ti&tle one two three four bold link &lt; stays's",
      s"got [$clean]")
    // anchor text "bold link" (9 chars after stripping the nested <b>)
    val dens = d.select(TextOps.linkDensity(col("h"))).first().getDouble(0)
    assert(dens == math.rint(9.0 / clean.length * 1e6) / 1e6 ||
      math.abs(dens - 9.0 / clean.length) < 1e-6, s"got $dens")
    // no markup at all: identity modulo whitespace collapse; no anchors -> 0
    val plain = Seq(Tuple1("just  text")).toDF("h")
    assert(plain.select(TextOps.stripMarkup(col("h"))).first().getString(0)
      == "just text")
    assert(plain.select(TextOps.linkDensity(col("h"))).first().getDouble(0)
      == 0.0)
    // empty page strips to nothing -> density 0, not NaN
    val empty = Seq(Tuple1("<p></p>")).toDF("h")
    assert(empty.select(TextOps.linkDensity(col("h"))).first().getDouble(0)
      == 0.0)
  }

  test("canonicalizeUrl: case/port/www/fragment/tracking variants collapse " +
       "to one form; literal & in a query-less path survives; non-URLs " +
       "pass through trimmed") {
    import spark.implicits._
    val cases = Seq(
      // every rule at once
      "  HTTPS://WWW.Example.COM:443/Docs/3/page?utm_source=a&id=9&utm_campaign=b#frag "
        -> "https://example.com/Docs/3/page?id=9",
      // tracking param first consumed the `?` -> next param promoted
      "http://example.com:80/p?gclid=x&id=2" -> "http://example.com/p?id=2",
      // ALL params tracking -> query vanishes entirely; ref is NOT in
      // the default strip set (functional on many sites, e.g. ?ref=<branch>)
      "https://News.example.com/p?utm_x=1&fbclid=2&ref=nav"
        -> "https://news.example.com/p?ref=nav",
      // path case is significant and kept; non-default port kept
      "https://example.com:8443/CaseSensitive/Path"
        -> "https://example.com:8443/CaseSensitive/Path",
      // literal & in a query-less path: separator repair must NOT fire
      "https://example.com/a&b" -> "https://example.com/a&b",
      // literal & in the path WITH a fully-stripped query: the path must
      // survive untouched (the pre-review separator repair corrupted it
      // to /a?b)
      "https://example.com/a&b?utm_x=1" -> "https://example.com/a&b",
      // consecutive tracking params in the lead
      "https://example.com/p?utm_a=1&utm_b=2&id=3"
        -> "https://example.com/p?id=3",
      // :443 on plain http is NOT a default port -> kept
      "http://example.com:443/p" -> "http://example.com:443/p",
      // unparseable input -> trim only
      "  not a url  " -> "not a url")
    val got = cases.map(_._1).toDF("u")
      .select(TextOps.canonicalizeUrl(col("u")))
      .collect().map(_.getString(0)).toSeq
    got.zip(cases).foreach { case (g, (in, want)) =>
      assert(g == want, s"[$in] -> got [$g], want [$want]")
    }
    // opt-in strip set: a crawl that treats ref as referral tracking
    val optIn = Seq(Tuple1("https://example.com/p?ref=nav&id=1")).toDF("u")
      .select(TextOps.canonicalizeUrl(col("u"),
        TextOps.defaultTrackingParams :+ "ref"))
      .collect().head.getString(0)
    assert(optIn == "https://example.com/p?id=1", optIn)
  }

  test("setSimilarityJoin survives STRING ids (no silent Long-cast drop) " +
       "and returns them in their native type") {
    import spark.implicits._
    val l = Seq(("doc-a", Seq("x", "y", "z"))).toDF("id", "s")
    val r = Seq(("doc-b", Seq("x", "y", "z")),
                ("doc-c", Seq("p", "q", "r"))).toDF("id", "s")
    val rows = graft.ops.DedupOps.setSimilarityJoin(
        l, "id", r, "id", "s", thresholdMilli = 900)
      .collect().map(row => (row.getString(0), row.getString(1))).toSeq
    assert(rows == Seq(("doc-a", "doc-b")), rows.toString)
  }

  test("setSimilarityJoin equals the brute-force all-pairs Jaccard on a " +
       "deterministic corpus — the prefix filter may only over-generate " +
       "candidates, never drop a qualifying pair") {
    import spark.implicits._
    // 40 synthetic sets over a 30-token alphabet with VARYING SIZES
    // (5..20 by residue — the prefix-length formula must hold across
    // asymmetric pairs) and hash-driven overlaps, plus planted
    // identical pairs and threshold-boundary near-misses
    def setOf(i: Long): Seq[String] =
      (0 until (5 + (i % 4).toInt * 5))
        .map(j => s"t${(i * 7 + j * j) % 30}").distinct
    val left = (0L to 19L).map(i => (i, setOf(i))).toDF("id", "s")
    val right = ((20L to 39L).map(i => (i, setOf(i - 20 + 3))) :+
      (99L, setOf(5L))).toDF("id", "s")
    val got = graft.ops.DedupOps.setSimilarityJoin(
        left, "id", right, "id", "s", thresholdMilli = 600)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    // brute force in Scala
    val want = (for {
      (ia, sa) <- (0L to 19L).map(i => (i, setOf(i).toSet))
      (ib, sb) <- ((20L to 39L).map(i => (i, setOf(i - 20 + 3).toSet)) :+
        (99L, setOf(5L).toSet))
      inter = (sa & sb).size.toLong
      uni = sa.size + sb.size - inter
      if inter * 1000 >= uni * 600
    } yield (ia, ib) -> ((inter, uni, inter * 1000 / uni))).toMap
    assert(got == want, s"got ${got.size} pairs, want ${want.size}:\n" +
      s"missing=${(want.keySet -- got.keySet).toSeq.sorted}\n" +
      s"extra=${(got.keySet -- want.keySet).toSeq.sorted}")
    assert(want.contains((5L, 99L)), "planted identical pair must qualify")
  }

  test("joinCardinality: exact output rows, hot key with smallest-key " +
       "tie-break, and the disjoint-keys null row") {
    import spark.implicits._
    val l = Seq(1L, 1L, 1L, 2L, 3L).toDF("k")
    val r = Seq(1L, 1L, 2L, 2L, 2L, 9L).toDF("j")
    val row = graft.ops.StatsOps.joinCardinality(l, r, "k", "j")
      .collect().head
    def f(n: String) = row.getLong(row.fieldIndex(n))
    // key 1: 3*2=6; key 2: 1*3=3 -> total 9, hot key "1"
    assert(f("n_left_rows") == 5 && f("n_right_rows") == 6 &&
      f("join_output_rows") == 9, row.toString)
    assert(f("expansion_ppm") == 9L * 1000000 / 6, row.toString)
    assert(row.getString(row.fieldIndex("hot_key")) == "1" &&
      f("hot_key_rows") == 6, row.toString)
    // tie: keys "1" and "2" both contribute 4 -> smallest key wins
    val lt = Seq(1L, 1L, 2L, 2L).toDF("k")
    val rt = Seq(1L, 1L, 2L, 2L).toDF("j")
    val tie = graft.ops.StatsOps.joinCardinality(lt, rt, "k", "j")
      .collect().head
    assert(tie.getString(tie.fieldIndex("hot_key")) == "1", tie.toString)
    // disjoint: zero output, null hot key
    val dis = graft.ops.StatsOps.joinCardinality(
      Seq(1L).toDF("k"), Seq(2L).toDF("j"), "k", "j").collect().head
    assert(dis.getLong(dis.fieldIndex("join_output_rows")) == 0 &&
      dis.isNullAt(dis.fieldIndex("hot_key")), dis.toString)
  }

  test("sessionPaths: paths never cross a session boundary; counts and " +
       "rank order hand-checked") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(1700000000000L + s * 1000L)
    // user 1 session A: a,b,c,b,c -> abc? paths: a>b>c, b>c>b, c>b>c
    // then a 1-hour gap -> session B: a,b,c -> a>b>c again
    val ev = Seq(
      (1L, ts(0), 1L, "a"), (1L, ts(10), 2L, "b"), (1L, ts(20), 3L, "c"),
      (1L, ts(30), 4L, "b"), (1L, ts(40), 5L, "c"),
      (1L, ts(10000), 6L, "a"), (1L, ts(10010), 7L, "b"),
      (1L, ts(10020), 8L, "c")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val got = graft.ops.EventOps.sessionPaths(ev, "user_id", "ts",
        "event_id", "event_type", gapSeconds = 1800, n = 3, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(got == Seq(("a>b>c", 2L, 1L), ("b>c>b", 1L, 2L),
      ("c>b>c", 1L, 3L)), s"got $got")
    // the boundary path c>a>b (last of A + first two of B) must NOT exist
    assert(!got.exists(_._1 == "c>a>b"))
  }

  test("profileSegment/mergeProfileSegments: merged exact stats equal the " +
       "one-shot profile; HLL distinct estimate within 5% of exact") {
    import spark.implicits._
    val df = (1L to 900L).map(i => (i, s"s${i % 7}", if (i % 10 == 0) None else Some(i % 50)))
      .toDF("id", "s", "v")
    val cols = Seq("id", "s", "v")
    val segs = (0 until 4).map(i =>
      graft.ops.StatsOps.profileSegment(df.filter(pmod(col("id"), lit(4L)) === i), cols))
    val merged = graft.ops.StatsOps.mergeProfileSegments(
      segs.reduce(_ unionByName _), cols)
    val exact = graft.ops.StatsOps.profileColumns(df, cols)
    val m = merged.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Number].doubleValue()),
        r.getString(4), r.getString(5))).toMap
    val e = exact.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5))).toMap
    cols.foreach { c =>
      assert(m(c)._1 == e(c)._1 && m(c)._2 == e(c)._2,
        s"$c counts: ${m(c)} vs ${e(c)}")
      assert(m(c)._4 == e(c)._4 && m(c)._5 == e(c)._5,
        s"$c min/max: ${m(c)} vs ${e(c)}")
      val est = m(c)._3.get
      assert(math.abs(est - e(c)._3) <= math.max(1.0, 0.05 * e(c)._3),
        s"$c distinct estimate $est vs exact ${e(c)._3}")
    }
  }

  test("vocabCoverage: occurrence-weighted ppm hand-checked; full and " +
       "zero coverage at the extremes; token-less docs emit no row") {
    import spark.implicits._
    val docs = Seq(
      (1L, "in in out"),       // 2 of 3 in vocab
      (2L, "in in in"),        // full coverage
      (3L, "out nope"),        // zero coverage
      (4L, "   ")              // no tokens -> no row
    ).toDF("doc_id", "text")
    val vocab = Seq(Tuple1("in")).toDF("token")
    val got = TextOps.vocabCoverage(docs, "doc_id", "text", vocab)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 3L, 2L, 666666L),
      (2L, 3L, 3L, 1000000L),
      (3L, 2L, 0L, 0L)), s"got $got")
  }

  test("distinctiveTerms: everywhere-tokens score exactly 0, group-unique " +
       "tokens score tf * micro-nat idf, rank caps at k") {
    import spark.implicits._
    val docs = Seq(
      ("g1", "common uniqueone uniqueone uniqueone common"),
      ("g2", "common uniquetwo")).toDF("source", "text")
    val got = TextOps.distinctiveTerms(docs, "source", "text", k = 2)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq.sortBy(t => (t._1, t._6))
    // ln(2) micro-nats = 693147
    val ln2 = math.floor(math.log(2.0) * 1e6 + 0.5).toLong
    assert(got == Seq(
      ("g1", "uniqueone", 3L, 1L, 3 * ln2, 1L),
      ("g1", "common", 2L, 2L, 0L, 2L),
      ("g2", "uniquetwo", 1L, 1L, ln2, 1L),
      ("g2", "common", 1L, 2L, 0L, 2L)), s"got $got")
  }

  test("tokenDrift: identical snapshots contribute ~0 per token; a " +
       "B-only marker and an A-heavy token surface as top contributors") {
    import spark.implicits._
    val a = Seq((1L, "x x x x y"), (2L, "x y")).toDF("doc_id", "text")
    val same = TextOps.tokenDrift(a, a, "text")
      .collect().map(_.getLong(3))
    assert(same.forall(_ == 0L), s"identical snapshots must be 0: ${same.toSeq}")
    val b = Seq((1L, "x y y y marker marker")).toDF("doc_id", "text")
    val got = TextOps.tokenDrift(a, b, "text", k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    // PSI contributions are nonnegative up to quantization; x (A-heavy)
    // and marker (B-only) must be the two biggest
    assert(got.map(_._1).take(2).toSet == Set("x", "marker"), s"got $got")
    assert(got.forall(_._4 >= 0L), s"PSI terms are nonnegative: $got")
    // hand-check the marker row: c_a=0, c_b=2, na=7, nb=6, v=3
    val m = got.find(_._1 == "marker").get
    val p = 1.0 / 10; val q = 3.0 / 9
    val want = math.floor((p - q) * math.log(p / q) * 1e12 + 0.5).toLong
    assert(m == ("marker", 0L, 2L, want), s"got $m want $want")
  }

  test("embeddingOutliers: a far-from-centroid plant flags, the tight " +
       "cluster does not; distances are exact integers") {
    import spark.implicits._
    val rows =
      (0L to 18L).map(i => (i, 0, Array(0.1f + 0.001f * i, 0.2f))) :+
      (99L, 0, Array(5.0f, 5.0f)) // far outlier in label 0
    val got = graft.ops.SimOps.embeddingOutliers(
        rows.toDF("vec_id", "label", "embedding"),
        "vec_id", "label", "embedding", hiP = 0.95)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(4))).toMap
    assert(got(99L)._2, s"plant must flag: $got")
    assert((0L to 18L).count(i => got(i)._2) == 0,
      s"tight cluster must not flag: $got")
    // distance of the plant: centroid is floor of per-dim means incl. the
    // plant; recompute in integer space
    val qs = rows.map(_._3.map(x => math.floor(x * 1000 + 0.5)))
    val c = Array(0, 1).map(d => math.floor(qs.map(_(d)).sum / qs.size.toDouble))
    val want = Array(0, 1).map(d => { val df = qs.last(d) - c(d); df * df }).sum
    assert(got(99L)._1 == want.toLong, s"got ${got(99L)._1} want $want")
  }

  test("hoppingStats: an event lands in exactly width/hop windows with " +
       "hop-aligned starts; micro sums integer-exact; width%hop enforced") {
    import spark.implicits._
    import java.sql.Timestamp
    val t0 = 1700000000L * 1000L // ms
    val ev = Seq((new Timestamp(t0), "a", 1.25))
      .toDF("ts", "event_type", "value")
    val got = graft.ops.EventOps.hoppingStats(ev, "ts", "event_type",
        "value", widthSeconds = 3600, hopSeconds = 900)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    val us = 1700000000L * 1000000L
    val last = us - us % 900000000L
    val wantStarts = (3 to 0 by -1).map(i => last - i * 900000000L)
    assert(got.map(_._1) == wantStarts, s"got $got")
    assert(got.forall(g => g._2 == "a" && g._3 == 1L && g._4 == 1250000L))
    intercept[IllegalArgumentException] {
      graft.ops.EventOps.hoppingStats(ev, "ts", "event_type", "value",
        widthSeconds = 3600, hopSeconds = 1000)
    }
  }

  test("canonicalizeUrl is IDEMPOTENT over an enumerated grid of scheme/" +
       "case/port/www/params/fragment combinations") {
    import spark.implicits._
    // 2*3*3*4*2 = 144 combinations
    val urls = for {
      scheme <- Seq("http://", "HTTPS://")
      host   <- Seq("WWW.Ex.COM", "sub.ex.com:443", "ex.com:8080")
      path   <- Seq("", "/A/b", "/a&b")
      query  <- Seq("", "?utm_x=1", "?id=1&utm_x=2&gclid=3", "?a=1&b=2")
      frag   <- Seq("", "#f")
    } yield scheme + host + path + query + frag
    val once = urls.toDF("u")
      .select(TextOps.canonicalizeUrl(col("u")).as("c1"))
      .select(col("c1"), TextOps.canonicalizeUrl(col("c1")).as("c2"))
      .collect()
    once.foreach { r =>
      assert(r.getString(0) == r.getString(1),
        s"not idempotent: [${r.getString(0)}] -> [${r.getString(1)}]")
    }
  }

  test("clusterSizeHistogram: planted components of size 2 and 3 roll up " +
       "to exact (size, count) rows; bodies never consulted") {
    import spark.implicits._
    // a canonical mapping as canonicalMapping would emit it: cluster A
    // {1,2,3} -> 1, clusters B {10,11} -> 10, C {20,21} -> 20
    val mapping = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L),
      (20L, 20L), (21L, 20L)).toDF("doc_id", "canonical_id")
    val got = DedupOps.clusterSizeHistogram(mapping)
      .orderBy("cluster_size")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((2L, 2L), (3L, 1L)), s"got $got")
  }

  test("rrfFuse: hand-computed fusion of two lists, single-list docs " +
       "contribute one term, ties break on id") {
    import spark.implicits._
    val a = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("doc_id", "rank")
    val b = Seq((20L, 1L), (40L, 2L)).toDF("doc_id", "rank")
    val got = graft.ops.SearchOps.rrfFuse(
        Seq("a" -> a, "b" -> b), "doc_id", k = 10, kRrf = 60)
      .collect()
      .map(r => (r.getLong(r.fieldIndex("doc_id")),
        r.getLong(r.fieldIndex("rrf_units")),
        r.getLong(r.fieldIndex("rank")))).toSeq
    def u(rank: Long) = 1000000000L / (60L + rank)
    // 20: both lists (rank 2 in a, 1 in b); 10: a only; 40: b only; 30: a
    val want = Seq(
      (20L, u(2) + u(1), 1L),
      (10L, u(1), 2L),
      (40L, u(2), 3L),
      (30L, u(3), 4L))
    assert(got == want, s"got $got want $want")
    // provenance columns survive with nulls for missing lists
    val row40 = graft.ops.SearchOps.rrfFuse(
        Seq("a" -> a, "b" -> b), "doc_id", k = 10)
      .filter(col("doc_id") === 40L).collect().head
    assert(row40.isNullAt(row40.fieldIndex("rank_a")) &&
      row40.getLong(row40.fieldIndex("rank_b")) == 2L)
  }

  test("corpusContainment: hand-countable trigram sets; sketch variant " +
       "agrees with the exact op on a disjoint+identical mix") {
    import spark.implicits._
    val a = Seq((1L, "alpha beta gamma delta"),
                (2L, "one two three")).toDF("doc_id", "text")
    // b shares doc 1's shingles exactly, adds a disjoint doc
    val b = Seq((3L, "alpha beta gamma delta"),
                (4L, "red green blue yellow")).toDF("doc_id", "text")
    val r = graft.ops.DedupOps.corpusContainment(a, "text", b, "text", 3)
      .collect().head
    def f(n: String) = r.getLong(r.fieldIndex(n))
    // a: {alpha beta gamma, beta gamma delta, one two three} = 3
    // b: {alpha beta gamma, beta gamma delta, red green blue,
    //     green blue yellow} = 4, shared = 2
    assert(f("n_shingles_a") == 3 && f("n_shingles_b") == 4 &&
      f("n_shared") == 2, r.toString)
    assert(f("containment_ppm") == 2L * 1000000 / 4, r.toString)
    // the HLL variant estimates the same quantities exactly at this
    // cardinality (far below any HLL error onset)
    val sk = graft.ops.DedupOps
      .corpusContainmentSketch(a, "text", b, "text", 3).collect().head
    def g(n: String) = sk.getLong(sk.fieldIndex(n))
    assert(g("est_a") == 3 && g("est_b") == 4 && g("est_shared") == 2,
      sk.toString)
  }

  test("cdcChunks: chunks partition the text within [min, max] bounds; a " +
       "front insertion preserves most chunk identities (the CDC resync " +
       "property a fixed-size chunker lacks)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def sent(n: Int) = (0 until n).map(_ =>
      ('a' + rnd.nextInt(26)).toChar.toString * (1 + rnd.nextInt(3)))
      .mkString(" ")
    val base = (0L until 20L).map(i => (i, sent(120))).toDF("doc_id", "text")
    val chunks = graft.ops.TextOps.cdcChunks(base, "doc_id", "text",
      minLen = 16, maskBits = 4, maxLen = 64)
    // partition invariants: contiguous, within bounds (final chunk may be
    // short), concatenation reproduces the text
    val byDoc = chunks.orderBy("doc_id", "chunk_id").collect()
      .groupBy(_.getLong(0))
    val texts = base.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    byDoc.foreach { case (id, rows) =>
      var expectStart = 0L
      rows.foreach { r =>
        assert(r.getLong(r.fieldIndex("char_start")) == expectStart)
        expectStart += r.getLong(r.fieldIndex("char_len"))
      }
      val lens = rows.map(_.getLong(rows.head.fieldIndex("char_len")))
      lens.init.foreach(l => assert(l >= 16 && l <= 64, s"doc $id len $l"))
      assert(lens.last <= 64)
      assert(rows.map(_.getString(rows.head.fieldIndex("chunk_text")))
        .mkString == texts(id))
    }
    // resync: an inserted preamble keeps most chunk hashes
    val edited = base.select(col("doc_id"),
      concat(lit("xx yy inserted zz "), col("text")).as("text"))
    val origH = chunks.select("doc_id", "chunk_hash").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val editC = graft.ops.TextOps.cdcChunks(edited, "doc_id", "text",
      minLen = 16, maskBits = 4, maxLen = 64)
      .select("doc_id", "chunk_hash").collect()
    val (shared, total) = editC.foldLeft((0, 0)) { case ((s, t), r) =>
      (s + (if (origH(r.getLong(0)).contains(r.getLong(1))) 1 else 0), t + 1)
    }
    assert(shared.toDouble / total > 0.5,
      s"resync failed: $shared/$total chunks shared after a front edit")
  }

  test("cdcDeltaReport: identical versions cost zero new chars; an added " +
       "doc costs exactly its distinct-chunk chars") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    def sent(n: Int) = (0 until n).map(_ =>
      ('a' + rnd.nextInt(26)).toChar.toString * (1 + rnd.nextInt(3)))
      .mkString(" ")
    val v1 = (0L until 10L).map(i => (i, sent(80))).toDF("doc_id", "text")
    val same = graft.ops.TextOps.cdcDeltaReport(v1, v1, "doc_id", "text")
      .collect().head
    assert(same.getLong(same.fieldIndex("chars_new")) == 0L &&
      same.getLong(same.fieldIndex("delta_ppm")) == 0L, same.toString)
    val addedText = sent(60)
    val v2 = v1.unionByName(Seq((99L, addedText)).toDF("doc_id", "text"))
    val r = graft.ops.TextOps.cdcDeltaReport(v1, v2, "doc_id", "text")
      .collect().head
    // new chars = the added doc's chunks whose hash v1 lacks; random text
    // shares nothing, and its distinct chunks cover the full text unless
    // the doc repeats a chunk internally (it doesn't at this length)
    assert(r.getLong(r.fieldIndex("chars_new")) == addedText.length,
      s"$r vs len ${addedText.length}")
    assert(r.getLong(r.fieldIndex("n_new_chunks")) > 0)
  }

  test("registrableDomain: subdomains collapse, multi-part suffixes keep " +
       "three labels, IPv4 passes whole, junk yields null") {
    import spark.implicits._
    val cases = Seq(
      "https://cdn.news.example.co.uk/x" -> "example.co.uk",
      "https://a.b.example.com:8443/p" -> "example.com",
      "HTTP://WWW.Example.ORG/" -> "example.org",
      "https://192.168.0.1/admin" -> "192.168.0.1",
      "https://localhost/x" -> "localhost", // single label: host itself
      "not a url" -> null,
      "https://sub.shop.com.au/y" -> "shop.com.au")
    val got = cases.map(_._1).toDF("u")
      .select(TextOps.registrableDomain(col("u")))
      .collect().map(r => Option(r.getString(0)).orNull).toSeq
    got.zip(cases).foreach { case (g, (in, want)) =>
      assert(g == want, s"[$in] -> got [$g], want [$want]")
    }
  }

  test("temperatureSampleByHash: alpha=1 reproduces proportional rates; " +
       "alpha<1 boosts the small group's share; deterministic across runs") {
    import spark.implicits._
    val df = ((0 until 900).map(i => (i.toLong, "big")) ++
      (900 until 1000).map(i => (i.toLong, "small")))
      .toDF("doc_id", "source")
    // alpha=1: q_g = n_g/N -> rate = target/N for every group
    val prop = graft.ops.SampleOps.temperatureSampleByHash(
      df, "doc_id", "source", alpha = 1.0, targetRows = 500)
    val byG = prop.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // rate = 0.5 for both groups; the md5 gate keeps ~half of each
    assert(math.abs(byG("big") - 450.0) < 90, byG.toString)
    assert(math.abs(byG("small") - 50.0) < 30, byG.toString)
    // alpha=0.5: small's share of the OUTPUT rises above its 10% of input
    val temp = graft.ops.SampleOps.temperatureSampleByHash(
      df, "doc_id", "source", alpha = 0.5, targetRows = 500)
    val byT = temp.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val shareSmall = byT("small").toDouble / (byT("big") + byT("small"))
    // expected shares: sqrt(900):sqrt(100) = 3:1 -> small ~25%
    assert(shareSmall > 0.15 && shareSmall < 0.35,
      s"small share $shareSmall (got $byT)")
    // pure function of (salt, key): identical rerun
    val again = graft.ops.SampleOps.temperatureSampleByHash(
      df, "doc_id", "source", alpha = 0.5, targetRows = 500)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(again ==
      temp.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("temperatureSampleByHash: a NULL group is its own group (null-safe " +
       "join, no silent row loss) and df's column order is preserved") {
    import spark.implicits._
    val df = ((0 until 400).map(i => (i.toLong, "big", i * 2)) ++
      (400 until 500).map(i => (i.toLong, null: String, i * 2)))
      .toDF("doc_id", "source", "extra")
    val out = graft.ops.SampleOps.temperatureSampleByHash(
      df, "doc_id", "source", alpha = 1.0, targetRows = 250)
    // column order unchanged (the join used to move groupCol first)
    assert(out.columns.toSeq == df.columns.toSeq)
    val byG = out.groupBy("source").count().collect()
      .map(r => Option(r.getString(0)).orNull -> r.getLong(1)).toMap
    // alpha=1 -> rate 0.5 for both; the null group must KEEP ~half its
    // rows, not vanish through the equi-join
    assert(byG.contains(null), s"null group vanished: $byG")
    assert(math.abs(byG(null) - 50.0) < 30, byG.toString)
    assert(math.abs(byG("big") - 200.0) < 60, byG.toString)
  }
}
