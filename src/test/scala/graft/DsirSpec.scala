package graft

import org.apache.spark.sql.functions._
import graft.ops.{SampleOps, TextOps}

/** DSIR importance model (hashed-ngram log ratios, Xie et al. 2023) and
  * the log-space Gumbel top-k resampler. */
class DsirSpec extends SparkTestBase {
  import spark.implicits._

  // a target domain (cooking) and an off-domain pool (legal), with pool
  // docs that straddle both — scores must order cooking-ish above legal-ish
  private def targetDocs = Seq(
    (1L, "simmer the onion garlic butter sauce until golden then season"),
    (2L, "whisk flour butter sugar into the cake batter and bake slowly"),
    (3L, "roast garlic onion pepper with olive oil salt and fresh basil"))
    .toDF("doc_id", "text")

  private def poolDocs = Seq(
    (10L, "simmer garlic butter sauce season with basil and olive oil"),
    (11L, "the court held that the defendant breached the contract terms"),
    (12L, "whisk the batter bake the cake season with sugar"),
    (13L, "statutory damages require proof of breach under contract law"))
    .toDF("doc_id", "text")

  test("trainDsir: dense ratio table (exactly dim rows), totals count " +
       "every unigram+bigram feature occurrence") {
    val m = TextOps.trainDsir(targetDocs, poolDocs, "text", dim = 64)
    assert(m.ratios.count() == 64L)
    // 10 tokens per target doc -> 10 unigrams + 9 bigrams = 19 each
    assert(m.nTarget == targetDocs.collect().map { r =>
      val n = r.getString(1).split(" ").length; n + (n - 1) }.sum)
    assert(m.nRaw == poolDocs.collect().map { r =>
      val n = r.getString(1).split(" ").length; n + (n - 1) }.sum)
  }

  test("dsirScore ranks target-like pool docs above off-domain ones and " +
       "is invariant under repartitioning") {
    val m = TextOps.trainDsir(targetDocs, poolDocs, "text", dim = 1 << 12)
    val scores = TextOps.dsirScore(poolDocs, "doc_id", "text", m)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("logw_micro")).toMap
    // cooking-ish docs strictly above legal-ish docs
    assert(Seq(10L, 12L).map(scores).min > Seq(11L, 13L).map(scores).max,
      s"scores $scores")
    val rescored = TextOps.dsirScore(poolDocs.repartition(7), "doc_id",
        "text", m)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("logw_micro")).toMap
    assert(rescored == scores)
  }

  test("dsirScore: null/token-free docs emit no row; n_features counts " +
       "unigrams + bigrams") {
    val m = TextOps.trainDsir(targetDocs, poolDocs, "text", dim = 64)
    val docs = Seq((20L, "one two three"), (21L, null.asInstanceOf[String]),
      (22L, "!!! ???")).toDF("doc_id", "text")
    val got = TextOps.dsirScore(docs, "doc_id", "text", m).collect()
    assert(got.map(_.getLong(0)).toSet == Set(20L))
    assert(got.head.getAs[Long]("n_features") == 5L) // 3 uni + 2 bi
  }

  test("gumbelTopKPerGroup: k rows per group, null weights excluded, a " +
       "dominant weight always wins, and the rank replays driver-side") {
    val rows: Seq[(Long, Long, java.lang.Long)] =
      (0L until 40L).map(i => (i % 2, i, java.lang.Long.valueOf(1000L))) :+
        ((0L, 100L, java.lang.Long.valueOf(50000000L))) :+
        ((1L, 101L, null: java.lang.Long))
    val df = rows.map { case (g, k, w) => (g, k, Option(w).map(Long2long)) }
      .toDF("grp", "key", "w_micro")
    val got = SampleOps.gumbelTopKPerGroup(df, "grp", "key", "w_micro", 5)
      .collect()
    assert(got.length == 10)
    assert(got.count(_.getLong(0) == 0L) == 5)
    // the 50-nat weight dwarfs any Gumbel draw (noise spans ~ +-20 nats)
    assert(got.exists(r => r.getLong(1) == 100L && r.getAs[Long]("sample_rank") == 1L))
    assert(!got.exists(_.getLong(1) == 101L), "null weight must not qualify")
    // driver replay of the engine's rank rule for group 0
    val md = java.security.MessageDigest.getInstance("MD5")
    def h31(s: String): Long = {
      val d = md.digest(s.getBytes("UTF-8"))
      val hex = d.take(8).map("%02x".format(_)).mkString
      java.lang.Long.parseUnsignedLong(hex, 16) & 2147483647L
    }
    val g0 = rows.filter(r => r._1 == 0L && r._3 != null).map { case (_, k, w) =>
      val u = (h31(s"graft-gumbel:$k").toDouble + 1.0) / 2147483649.0
      val g = -math.log(-math.log(u))
      (k, w.longValue + math.floor(g * 1e6 + 0.5).toLong)
    }.sortBy { case (k, r) => (-r, k) }.take(5).map(_._1)
    val engine0 = got.filter(_.getLong(0) == 0L)
      .sortBy(_.getAs[Long]("sample_rank")).map(_.getLong(1)).toSeq
    assert(engine0 == g0, s"engine $engine0 != replay $g0")
  }

  test("native DSIR bucket kernel: stream replays driver-side md5-31 " +
       "(unigrams then bigrams), singleton and empty inputs") {
    val X = org.apache.spark.sql.catalyst.expressions.graftdedup
      .HashSketchExpressions
    val dim = 977
    val got = Seq(Tuple1("alpha beta gamma"), Tuple1("solo"), Tuple1(""))
      .toDF("text")
      .select(X.dsirBuckets(org.apache.spark.sql.functions.split(
        org.apache.spark.sql.functions.col("text"), "\\s+"), dim).as("b"))
      .collect().map(_.getSeq[Long](0).toSeq)
    val md = java.security.MessageDigest.getInstance("MD5")
    def h31(s: String): Long = {
      val d = md.digest(s.getBytes("UTF-8"))
      val hex = d.take(8).map("%02x".format(_)).mkString
      (java.lang.Long.parseUnsignedLong(hex, 16) & 2147483647L) % dim
    }
    assert(got(0) == Seq("alpha", "beta", "gamma", "alpha beta", "beta gamma")
      .map(h31), s"got ${got(0)}")
    assert(got(1) == Seq(h31("solo")), s"got ${got(1)}")
    // split("") yields [""] — one empty-string unigram, no bigrams
    assert(got(2) == Seq(h31("")), s"got ${got(2)}")
  }

  test("landDsir: indexed scoring is row-identical to the in-session " +
       "model; re-landing under different (dim, alpha) refuses") {
    val idx = "graft_dsir_spec_idx"
    val tmp = java.nio.file.Files.createTempDirectory("graft_dsir").toString
    try {
      TextOps.landDsir(targetDocs, poolDocs, "text", idx, dim = 1 << 10,
        path = Some(s"$tmp/$idx"))
      val direct = TextOps.dsirScore(poolDocs, "doc_id", "text",
        TextOps.trainDsir(targetDocs, poolDocs, "text", dim = 1 << 10))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val indexed = TextOps.dsirScoreIndexed(poolDocs, "doc_id", "text", idx)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(direct == indexed && direct.nonEmpty,
        s"landed-model scoring must be row-identical: $direct vs $indexed")
      // parameter drift is unrepresentable: dim and alpha both pin
      val errDim = intercept[IllegalArgumentException] {
        TextOps.landDsir(targetDocs, poolDocs, "text", idx, dim = 1 << 11,
          path = Some(s"$tmp/$idx"))
      }
      assert(errDim.getMessage.contains("dim, alpha"))
      val errAlpha = intercept[IllegalArgumentException] {
        TextOps.landDsir(targetDocs, poolDocs, "text", idx, dim = 1 << 10,
          alpha = 0.5, path = Some(s"$tmp/$idx"))
      }
      assert(errAlpha.getMessage.contains("dim, alpha"))
      // idempotent re-land with the SAME params is the no-op path
      TextOps.landDsir(targetDocs, poolDocs, "text", idx, dim = 1 << 10,
        path = Some(s"$tmp/$idx"))
      // scoring without a landed model refuses loudly
      val errMissing = intercept[IllegalArgumentException] {
        TextOps.dsirScoreIndexed(poolDocs, "doc_id", "text", "graft_dsir_nope")
      }
      assert(errMissing.getMessage.contains("landDsir"))
    } finally {
      Seq("_meta", "_ratios").foreach { s =>
        spark.sql(s"DROP TABLE IF EXISTS $idx$s")
      }
    }
  }

  test("resampling favors high-importance docs: with uniform weights the " +
       "sample is the pure hash draw; adding weight shifts mass") {
    val uni = (0L until 200L).map(i => (0L, i, 0L)).toDF("grp", "key", "w")
    val a = SampleOps.gumbelTopKPerGroup(uni, "grp", "key", "w", 20)
      .collect().map(_.getLong(1)).toSet
    // boost a 30-doc band by 3 nats: most sampled keys should come from it
    val boosted = (0L until 200L)
      .map(i => (0L, i, if (i < 30) 3000000L else 0L))
      .toDF("grp", "key", "w")
    val b = SampleOps.gumbelTopKPerGroup(boosted, "grp", "key", "w", 20)
      .collect().map(_.getLong(1)).toSet
    assert(a != b)
    assert(b.count(_ < 30L) >= 15, s"boosted band under-sampled: $b")
  }
}
