package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Join operators Spark's built-ins don't express directly, composed from
 * declarative pieces so Catalyst still owns the physical plan.
 */
object JoinOps {

  /**
   * AS-OF JOIN: for every left row, append the payload of the LATEST right
   * row with the same key and `right.ts <= left.ts` (the point-in-time /
   * "most recent snapshot" join — sensor readings against calibration
   * records, events against slowly-changing reference data). Left rows with
   * no eligible right row get nulls.
   *
   * Spark-first shape — NOT a range join (whose candidate set explodes as
   * |left| × |right| per key before filtering): the two inputs are tagged
   * and UNIONED, shuffled ONCE on the key, sorted per partition on
   * `(ts, tag)` (right rows sort before left rows at equal ts, giving `<=`
   * semantics), and a running `last(payload, ignoreNulls)` window carries
   * each right payload forward to the left rows that follow it; left rows
   * are then filtered back out. O((|L|+|R|) log) per key partition — the
   * plan a dedicated as-of physical operator would produce, expressed
   * entirely in window algebra (AQE handles key skew).
   *
   * The right payload travels as ONE struct, so a right row whose payload
   * FIELDS are null still counts as the latest observation (it does not
   * fall through to an older row). If several right rows share the same
   * `(key, ts)`, which one wins is tie-ambiguous — pre-aggregate the right
   * side to one row per (key, ts) when that matters.
   *
   * Null timestamps and null KEYS follow SQL join/comparison semantics: a
   * right row with a null ts can never satisfy `right.ts <= left.ts`, and
   * a null key equals nothing under equi-join equality — both are dropped
   * up front (the window would otherwise GROUP null keys together and
   * sort null ts first, leaking their payloads); a left row with a null
   * ts or null key matches nothing and gets a null payload.
   *
   * Output: every left column, plus each of `rightCols` as
   * `<name><suffix>`.
   */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
               tsCol: String, rightCols: Seq[String],
               suffix: String = "_asof"): DataFrame = {
    require(rightCols.nonEmpty, "rightCols must be non-empty")
    val outNames = rightCols.map(_ + suffix)
    outNames.foreach(n => require(!left.columns.contains(n),
      s"output column '$n' collides with a left column — pick another suffix"))
    val tagCol = TextOps.tempName(left, "__asof_tag")
    val rsCol = TextOps.tempName(left, "__asof_payload")
    val payloadType = org.apache.spark.sql.types.StructType(
      right.select(rightCols.map(col): _*).schema.fields)
    val leftTagged = left
      .withColumn(tagCol, lit(1))
      .withColumn(rsCol, lit(null).cast(payloadType))
    val rightTagged = right
      // null ts can never be at-or-before; null keys equal nothing under
      // join semantics (partitionBy would group them together)
      .filter(col(tsCol).isNotNull && col(keyCol).isNotNull)
      .select(
        col(keyCol), col(tsCol), lit(0).as(tagCol),
        struct(rightCols.map(col): _*).as(rsCol))
    // allowMissingColumns: right rows carry nulls for the other left columns
    val unioned = leftTagged.unionByName(rightTagged, allowMissingColumns = true)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(tagCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = unioned
      .withColumn(rsCol, last(col(rsCol), ignoreNulls = true).over(w))
      .filter(col(tagCol) === 1)
    // the output names are checked new above: one projection appends them
    filled.select(col("*") +: rightCols.zip(outNames).map {
      case (c, o) => col(s"$rsCol.$c").as(o)
    }: _*).drop(tagCol, rsCol)
  }

  /** Convenience single-column form of [[asofJoin]]. */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
               tsCol: String, rightCol: String): DataFrame =
    asofJoin(left, right, keyCol, tsCol, Seq(rightCol))

  /**
   * SALTED EQUI-JOIN: the inner join of `fact` and `dim` on `keyCol`,
   * rewritten so a HOT key's rows spread over `saltFactor` shuffle
   * partitions instead of landing on one straggler task — the standard
   * manual skew mitigation applied as an operator, fed directly by
   * [[graft.ops.StatsOps.keySkewProfile]]'s `salt_factor` column.
   *
   * Mechanics: the fact side appends a salt column — `0` for cold keys,
   * `pmod(md5_31("graft-salt:" + rowCol), factor)` for a hot key (any
   * per-row column works as `rowCol`; the salt only decides PLACEMENT,
   * never membership, so the result is bit-identical to the plain join) —
   * and the dim side EXPLODES each hot row into `factor` replicas, one per
   * salt value. The join is then an ordinary equi-join on `(key, salt)`:
   * each fact row carries exactly one salt and the dim side carries every
   * salt, so each matching pair meets exactly once.
   *
   * `hotKeys` maps key value (as string, the profiler's `key_value`
   * representation) to its salt factor. It is DRIVER-SIZE by construction
   * — the profiler's top-k — and rides into the plan as a literal CASE
   * chain, so the cold path pays one comparison per hot key and zero
   * shuffle-side state. Keys absent from the map behave exactly as in a
   * plain join; factors <= 1 mean "not actually hot" and join unsalted.
   * Null fact keys match nothing, as in any equi-join.
   *
   * Scale shape: dim-side replication costs `sum(factors)` extra rows —
   * the dim table is the SMALL side (that is why the join skews) — while
   * the fact side, the 100 TB side, gains one map-side scalar. This is
   * the remedy for the case AQE's skew-join split cannot handle: a
   * shuffle HASH join or an aggregation keyed on the join key downstream,
   * where one partition would otherwise hold the whole hot key.
   */
  def saltedJoin(fact: DataFrame, dim: DataFrame, keyCol: String,
                 rowCol: String, hotKeys: Map[String, Int]): DataFrame = {
    val saltCol = TextOps.tempName(fact, "__salt")
    val factorOf: Column => Column = key => {
      val hot = hotKeys.filter(_._2 > 1)
      if (hot.isEmpty) lit(1)
      else hot.foldLeft(when(lit(false), lit(1))) { case (c, (k, f)) =>
        c.when(key.cast("string") === lit(k), lit(f))
      }.otherwise(lit(1))
    }
    val factSalted = fact.withColumn(saltCol,
      pmod(org.apache.spark.sql.catalyst.expressions.graftdedup
        .HashSketchExpressions
        .md5Hash31(concat_ws(":", lit("graft-salt"), col(rowCol).cast("string"))),
        factorOf(col(keyCol))).cast("int"))
    val dimSalted = dim.withColumn(saltCol,
      explode(sequence(lit(0), factorOf(col(keyCol)) - 1)))
    factSalted.join(dimSalted, Seq(keyCol, saltCol)).drop(saltCol)
  }

  /**
   * INTERVAL (point-in-range) JOIN: every `(point, interval)` pair with
   * `lo <= point < hi`, computed as an EQUI-join on overlap buckets
   * instead of the non-equi theta-join Spark would otherwise plan as
   * BroadcastNestedLoop (O(|points| x |intervals|) comparisons — the
   * classic range-join blowup). Domain is integer (epoch micros, byte
   * offsets, numeric buckets): callers convert timestamps up front so the
   * containment decision is exact long arithmetic in any engine.
   *
   * Mechanics: a point lands in bucket `floorDiv(p, w)`; an interval
   * emits one row per bucket it overlaps, `floorDiv(lo, w) ..
   * floorDiv(hi-1, w)` (half-open, so empty and inverted intervals emit
   * nothing). A point's single bucket meets each overlapping interval's
   * matching bucket row exactly once, so the exact containment filter
   * after the equi-join needs no dedup.
   *
   * Scale shape: the shuffle carries points once and intervals
   * `ceil(len/w)` times — choose `bucketWidth` near the TYPICAL interval
   * length so the expansion stays O(1) per interval (w too small explodes
   * interval replicas; w too large piles unrelated points into shared
   * buckets and the filter does the work). A boilerplate bucket (one hot
   * time window × everything) surfaces in [[StatsOps.keySkewProfile]] on
   * the bucket key, and AQE's skew split handles moderate cases. Null
   * points / bounds match nothing.
   */
  def intervalJoin(points: DataFrame, intervals: DataFrame,
                   pointCol: String, loCol: String, hiCol: String,
                   bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    val bCol = TextOps.tempName(points, "__bucket")
    // exact long floorDiv via pmod (negative-safe, engine-portable)
    def floorDiv(c: Column): Column =
      ((c - pmod(c, lit(bucketWidth))) / bucketWidth).cast("long")
    val p = points.filter(col(pointCol).isNotNull)
      .withColumn(bCol, floorDiv(col(pointCol)))
    val iv = intervals
      .filter(col(loCol).isNotNull && col(hiCol).isNotNull &&
        col(loCol) < col(hiCol))
      .withColumn(bCol,
        explode(sequence(floorDiv(col(loCol)), floorDiv(col(hiCol) - 1))))
    p.join(iv, Seq(bCol))
      .filter(col(loCol) <= col(pointCol) && col(pointCol) < col(hiCol))
      .drop(bCol)
  }

  /**
   * BLOCKED FUZZY JOIN (entity resolution): pairs of (left, right) rows
   * whose lowercased key strings are within Levenshtein distance
   * `maxDist`, found WITHOUT the all-pairs comparison — candidates come
   * from equi-joins on BLOCKING KEYS, exactly the banded-LSH move the
   * dedup family uses for Jaccard, applied to edit distance.
   *
   * Blocking scheme: each row emits two block rows — `(0, len,
   * prefix(blockChars))` and `(1, len, suffix(blockChars))` — and
   * candidates are block-equality matches. Guarantees for a SINGLE
   * SUBSTITUTION when the key is longer than `2 * blockChars`: the edit
   * cannot touch both the prefix and the suffix, so one block always
   * matches (length is preserved, so the length component never blocks a
   * substitution). Insertions/deletions change the length and shift the
   * suffix — the standard prefix-block recall trade; multi-edit pairs may
   * need a smaller `blockChars` or extra passes. Verification is exact
   * (`levenshtein`), so blocking affects RECALL only, never precision.
   *
   * Scale shape: the block join shuffles (block key, id, key string) —
   * never full rows; the distinct collapses the ≤2 duplicate hits per
   * pair; the levenshtein verify runs only on candidates. Block-key
   * cardinality grows with the corpus, so bucket sizes stay bounded the
   * way LSH bands do; a hot block (boilerplate prefix) surfaces in
   * [[graft.ops.StatsOps.keySkewProfile]] on `block_val`.
   *
   * Output: `(id_a, id_b, dist)`, one row per qualifying pair. Null keys
   * match nothing (dropped up front).
   */
  def fuzzyJoinBlocked(left: DataFrame, right: DataFrame,
                       leftId: String, rightId: String,
                       leftKey: String, rightKey: String,
                       maxDist: Int = 2, blockChars: Int = 6): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(blockChars > 0, s"blockChars must be positive, got $blockChars")
    def blockRows(df: DataFrame, id: String, key: String,
                  idAs: String, keyAs: String): DataFrame = {
      val k = lower(col(key))
      df.select(col(id).as(idAs), k.as(keyAs))
        .filter(col(keyAs).isNotNull)
        .select(col(idAs), col(keyAs),
          length(col(keyAs)).as("block_len"),
          explode(array(
            struct(lit(0).as("block_id"),
              substring(col(keyAs), 1, blockChars).as("block_val")),
            struct(lit(1).as("block_id"),
              // suffix spelled as an explicit positive-start substring so
              // short-string behavior is engine-portable (the whole string)
              expr(s"substring($keyAs, greatest(length($keyAs) - ${blockChars - 1}, 1), $blockChars)")
                .as("block_val")))).as("__b"))
        .select(col(idAs), col(keyAs), col("block_len"),
          col("__b.block_id"), col("__b.block_val"))
    }
    val lb = blockRows(left, leftId, leftKey, "id_a", "key_a")
    val rb = blockRows(right, rightId, rightKey, "id_b", "key_b")
    lb.join(rb, Seq("block_id", "block_len", "block_val"))
      .select(col("id_a"), col("key_a"), col("id_b"), col("key_b"))
      .distinct()
      .withColumn("dist",
        levenshtein(col("key_a"), col("key_b")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }
}
