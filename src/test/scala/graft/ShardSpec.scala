package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.SampleOps

class ShardSpec extends SparkTestBase {

  import spark.implicits._

  private def corpus = (0L until 200L).map(i => (i, s"doc $i body", i % 7 + 10))
    .toDF("doc_id", "text", "n_tokens")

  test("writeShards lands one directory per shard, reads back the full " +
       "corpus, and the manifest certifies the landed data") {
    val dir = Files.createTempDirectory("graft_shards").toString
    val manifest = SampleOps.writeShards(corpus, dir, "doc_id", nShards = 4,
      tokenCountCol = Some("n_tokens"))
    // one partition directory per shard
    val shardDirs = new java.io.File(s"$dir/data").listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).sorted
    assert(shardDirs.toSeq == Seq("shard=0", "shard=1", "shard=2", "shard=3"))
    // read-back parity: every row lands exactly once
    val landed = spark.read.parquet(s"$dir/data")
    assert(landed.count() == 200L)
    assert(landed.select("doc_id").distinct().count() == 200L)
    // manifest totals match the corpus; shard is LONG (writeShards casts
    // the read-back INT partition column so both manifest paths agree)
    val m = manifest.collect().map(r => r.getAs[Long]("shard") ->
      (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))).toMap
    assert(m.values.map(_._1).sum == 200L)
    assert(m.values.map(_._2).sum ==
      corpus.agg(sum(col("n_tokens"))).head().getLong(0))
    // manifest recomputed from scratch (assignShards path, never written)
    // agrees row for row — the two manifest paths share one schema
    val recomputed = SampleOps.shardManifest(
      SampleOps.assignShards(corpus, "doc_id", 4), "doc_id", Some("n_tokens"))
    assert(recomputed.collect().toSet == manifest.collect().toSet)
  }

  test("writeShards format=json: JSONL files a trainer loader can read " +
       "line-by-line; manifest identical to the parquet landing") {
    val dirP = Files.createTempDirectory("graft_shards_p").toString
    val dirJ = Files.createTempDirectory("graft_shards_j").toString
    val mp = SampleOps.writeShards(corpus, dirP, "doc_id", 4,
      Some("n_tokens"), "graft-shard", "parquet")
    val mj = SampleOps.writeShards(corpus, dirJ, "doc_id", 4,
      Some("n_tokens"), "graft-shard", "json")
    // the manifest certifies the LANDED json round-trips identically
    assert(mj.collect().toSet == mp.collect().toSet)
    // the files really are JSON lines: raw-text parse of one shard file
    val shard0 = new java.io.File(s"$dirJ/data/shard=0").listFiles()
      .filter(f => f.getName.endsWith(".json"))
    assert(shard0.nonEmpty, "expected .json part files")
    val lines = scala.io.Source.fromFile(shard0.head).getLines().toSeq
    assert(lines.nonEmpty && lines.forall(l =>
      l.startsWith("{") && l.endsWith("}") && l.contains("\"doc_id\"")),
      lines.take(2).toString)
    intercept[IllegalArgumentException] {
      SampleOps.writeShards(corpus, dirJ, "doc_id", 4, None, "s", "csv")
    }
  }

  test("shard assignment and checksums are pure functions of (salt, key): " +
       "partitioning-invariant and idempotent across rewrites") {
    val dir1 = Files.createTempDirectory("graft_shards_a").toString
    val dir2 = Files.createTempDirectory("graft_shards_b").toString
    val m1 = SampleOps.writeShards(corpus, dir1, "doc_id", 4,
      Some("n_tokens")).collect().toSet
    val m2 = SampleOps.writeShards(corpus.repartition(7), dir2, "doc_id", 4,
      Some("n_tokens")).collect().toSet
    assert(m1 == m2, "a 7-way repartition must not move any document")
    // rewriting the same corpus over dir1 reproduces the identical manifest
    val m3 = SampleOps.writeShards(corpus, dir1, "doc_id", 4,
      Some("n_tokens")).collect().toSet
    assert(m3 == m1)
    // a single changed row flips exactly its shard's manifest row
    val mutated = corpus.withColumn("doc_id",
      when(col("doc_id") === 13L, lit(10013L)).otherwise(col("doc_id")))
    val m4 = SampleOps.shardManifest(
      SampleOps.assignShards(mutated, "doc_id", 4), "doc_id", Some("n_tokens"))
      .collect().toSet
    assert(m4 != m1, "manifest must detect a single-document drift")
  }

  test("tokenCountCol omitted -> null n_tokens; nShards = 1 degenerates " +
       "to one shard holding everything") {
    val m = SampleOps.shardManifest(
      SampleOps.assignShards(corpus, "doc_id", 1), "doc_id")
      .collect()
    assert(m.length == 1)
    assert(m.head.getAs[Long]("shard") == 0L)
    assert(m.head.getAs[Long]("n_docs") == 200L)
    assert(m.head.isNullAt(m.head.fieldIndex("n_tokens")))
    assert(m.head.getAs[Long]("min_key") == 0L)
    assert(m.head.getAs[Long]("max_key") == 199L)
  }

  test("readJsonlQuarantine: good rows round-trip losslessly, malformed " +
       "and type-mismatched lines quarantine as their raw text, schema " +
       "guard refuses a corrupt-col collision") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_ingest").toString
    corpus.write.mode("overwrite").json(dir)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "zz_poison.json"),
      ("{\"doc_id\": 1, \"text\": \"trunc\n" +
        "not json\n" +
        "{\"doc_id\": \"NaN\", \"text\": \"x\", \"n_tokens\": 2}\n")
        .getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("n_tokens", LongType)))
    val (good, quarantine) =
      graft.sources.IngestOps.readJsonlQuarantine(spark, dir, schema)
    val q = quarantine.collect().map(_.getString(0))
    assert(q.length == 3, s"got ${q.toSeq}")
    assert(q.exists(_.contains("not json")) &&
      q.exists(_.contains("NaN")) && q.exists(_.contains("trunc")),
      s"raw lines must surface verbatim: ${q.toSeq}")
    val got = good.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = corpus.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want, "round-trip must be lossless")
    assert(good.columns.toSeq == Seq("doc_id", "text", "n_tokens"))
    intercept[IllegalArgumentException] {
      graft.sources.IngestOps.readJsonlQuarantine(spark, dir,
        schema.add("_corrupt_record", StringType))
    }
  }
}
