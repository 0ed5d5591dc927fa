package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Iterative graph algorithms expressed as DataFrame joins — no GraphX, no
 * RDDs: each superstep is an equi-join + hash aggregation Catalyst plans
 * like any other query (AQE handles stragglers/skew per step), which is
 * how a link-graph pass stays inside the same engine, optimizer, and
 * shuffle machinery as the rest of the pipeline.
 */
object GraphOps {

  /**
   * PAGERANK in FIXED-POINT integer arithmetic: ranks are longs in units
   * of `totalUnits` (default 10^12 = "pico-rank"), damping is parts per
   * million, every per-iteration update is long multiply / floor-divide /
   * add — so two engines (or two cluster layouts) produce IDENTICAL bits,
   * the property that makes an iterative double-precision algorithm
   * oracle-checkable at all (float summation order would drift).
   *
   * Update rule per iteration (the standard power step, Page et al. 1999):
   *
   *   rank'(v) = base + damping * sum_{u -> v} floor(rank(u) / outdeg(u))
   *
   * with `base = ((10^6 - dampingPpm) * floor(totalUnits / N)) DIV 10^6`
   * and the damped sum floor-divided by 10^6. Floor losses (at most
   * outdeg units per node per step) and DANGLING nodes (no out-edges:
   * their mass decays out of the system instead of redistributing — the
   * common simplification) mean total mass shrinks slightly each step;
   * rankings are unaffected for connected regions, which is what dedup
   * canonicalization / quality-authority use cases read off.
   *
   * Scale shape: `edges` is joined per step on `src` against the rank
   * vector — the op computes the degree-annotated edge table ONCE,
   * partitioned on `src`, and stages it ([[Snapshots.stage]]), so no
   * superstep recomputes the degree join; the per-step aggregate is a
   * two-phase hash agg on `dst`. `iters` is small and
   * fixed (power iteration converges geometrically at `damping` rate);
   * plan depth grows linearly with it. Null endpoints drop up front; a
   * hot in-degree node (every corpus links the homepage) is partial-agg
   * combined map-side, never a single-task pileup.
   *
   * Output: `(node, rank_u)` — one row per node that appears as a source
   * or destination of any edge, ranks in `totalUnits` units.
   */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, dampingPpm: Long = 850000L,
               totalUnits: Long = 1000000000000L): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(dampingPpm >= 0 && dampingPpm <= 1000000L,
      s"dampingPpm must be in [0, 1e6], got $dampingPpm")
    require(totalUnits > 0, s"totalUnits must be positive, got $totalUnits")
    val e = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
    val deg = e.groupBy(col("__src")).agg(count(lit(1)).as("__out_deg"))
    // degree-annotated edges, laid out once by src (the planner reuses
    // that layout in the rank joins only with AQE off: an adaptive plan
    // reports no output partitioning for the stage to carry)
    val edgesDeg = Snapshots.stage(e.join(deg, Seq("__src"))
      .repartition(col("__src")))
    // the node set is staged BEFORE the count subquery so the
    // crossJoin's broadcast count reads the staged rows instead of
    // re-running the union+distinct shuffle a second time at setup
    val nodeIds = Snapshots.stage(e.select(col("__src").as("node"))
      .union(e.select(col("__dst").as("node")))
      .distinct())
    val nodes = Snapshots.stage(nodeIds
      .crossJoin(broadcast(nodeIds.agg(count(lit(1)).as("__n")))))
    val initU: Column = expr(s"$totalUnits DIV __n")
    val baseU: Column = expr(
      s"((${1000000L - dampingPpm}) * ($totalUnits DIV __n)) DIV 1000000")
    var rank = nodes.select(col("node"), col("__n"), initU.as("rank_u"))
    for (i <- 1 to iters) {
      val contribs = edgesDeg
        .join(rank.select(col("node").as("__src"), col("rank_u")), Seq("__src"))
        .groupBy(col("__dst").as("node"))
        .agg(sum(expr("rank_u DIV __out_deg")).as("__in_sum"))
      rank = nodes
        .join(contribs, Seq("node"), "left")
        .select(col("node"), col("__n"),
          (baseU + expr(s"($dampingPpm * coalesce(__in_sum, 0L)) DIV 1000000"))
            .as("rank_u"))
      // rank's lineage grows by a join+agg per superstep; truncate it
      // periodically so deep iteration counts don't build an unbounded
      // plan (the materialized vector is only |V| rows of 16 bytes).
      // Snapshots.truncateLineage: reliable checkpoint when the session
      // has a checkpoint dir (preemptible-fleet mode), local otherwise
      if (i % 8 == 0 && i < iters) rank = Snapshots.truncateLineage(rank)
    }
    rank.select(col("node"), col("rank_u"))
  }
}
