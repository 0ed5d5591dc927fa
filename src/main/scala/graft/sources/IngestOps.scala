package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/**
 * Crawl-shaped ingest: schema-pinned JSONL reading with a QUARANTINE
 * channel — the counterpart of the JSONL shard EXPORT
 * ([[graft.ops.SampleOps.writeShards]]): real crawl drops are never
 * clean, and silently null-filling a malformed record (or dropping it)
 * loses the evidence a pipeline needs to fix its producer.
 */
object IngestOps {

  /**
   * Read JSONL under `path` against a pinned `schema`; rows that fail to
   * parse or to type-coerce land in the QUARANTINE frame as their raw
   * line (PERMISSIVE + an explicit corrupt-record column), good rows
   * come back exactly schema-shaped. Returns (good, quarantine).
   *
   * The parsed batch is staged ([[graft.ops.Snapshots.stage]]) before the
   * two filters: Spark disallows a query whose referenced columns are
   * ONLY the internal corrupt-record column straight off a JSON scan (the
   * quarantine projection is exactly that shape), and the stage also
   * guarantees good/quarantine split ONE parse of the input. Its blocks
   * go once both outputs are unreachable.
   *
   * Scale shape: the parse is map-side (one InputPartition per file
   * split); quarantine is tiny by construction on a healthy feed and
   * corpus-sized only when the producer is broken — either way nothing
   * here shuffles.
   */
  def readJsonlQuarantine(spark: SparkSession, path: String,
                          schema: StructType,
                          corruptCol: String = "_corrupt_record")
      : (DataFrame, DataFrame) = {
    require(!schema.fieldNames.contains(corruptCol),
      s"schema must not already carry the corrupt-record column '$corruptCol'")
    val full = schema.add(corruptCol, StringType, nullable = true)
    val parsed = graft.ops.Snapshots.stage(spark.read
      .schema(full)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .json(path))
    val good = parsed.filter(col(corruptCol).isNull).drop(corruptCol)
    val quarantine = parsed.filter(col(corruptCol).isNotNull)
      .select(col(corruptCol).as("raw_record"))
    (good, quarantine)
  }
}
