package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.SimOps

/**
 * The derived-ANN-parameter CLAMP envelopes (VERDICT r13 #3): both
 * derive formulas carry a ceiling, and past a binding ceiling the
 * candidate volume per query grows linearly with the corpus again —
 * the fixed-parameter failure class (r10 q163, r11 q179) one decade
 * out. This spec pins the formulas' arithmetic — including the exact
 * corpus sizes where each clamp starts to bind — so the envelope
 * documented in SimOps.derivedCells/derivedShortlist and measured in
 * BENCH_SCALING_r14.json (clamp probe section) cannot silently drift
 * from the code. The measured evidence at the boundaries (recall
 * trajectory past the shortlist clamp; candidates/query growth past the
 * cells clamp) lives in the scaling record.
 */
class ClampEnvelopeSpec extends AnyFunSuite {

  test("derivedCells: tracks ~128-row occupancy between the clamps and " +
       "binds exactly above n = 2,097,152") {
    assert(SimOps.derivedCells(0) == 16)
    assert(SimOps.derivedCells(2048) == 16)     // floor still binding
    assert(SimOps.derivedCells(2049) == 17)     // first step off the floor
    assert(SimOps.derivedCells(20000) == 157)
    assert(SimOps.derivedCells(200000) == 1563)
    assert(SimOps.derivedCells(2097152) == 16384) // ceil(n/128) == 16384
    assert(SimOps.derivedCells(2097153) == 16384) // ceiling binds here
    assert(SimOps.derivedCells(4194304) == 16384)
    // inside the envelope the per-cell occupancy stays ~128, so
    // candidates/query ~ nProbe * 128 regardless of n
    Seq(10000L, 100000L, 1000000L, 2000000L).foreach { n =>
      val occ = n.toDouble / SimOps.derivedCells(n)
      assert(occ <= 129.0, s"occupancy $occ at n=$n")
    }
    // past the ceiling, occupancy (hence candidates/query) grows with n
    assert(4194304.0 / SimOps.derivedCells(4194304) == 256.0)
  }

  test("derivedShortlist: a ~2.5% slice between the clamps, binding " +
       "exactly above n = 163,840") {
    assert(SimOps.derivedShortlist(0) == 50)
    assert(SimOps.derivedShortlist(2000) == 50)    // test SFs sit on the floor
    assert(SimOps.derivedShortlist(2001) == 51)
    assert(SimOps.derivedShortlist(20000) == 500)
    assert(SimOps.derivedShortlist(163840) == 4096)
    assert(SimOps.derivedShortlist(163841) == 4096) // ceiling binds here
    assert(SimOps.derivedShortlist(800000) == 4096)
    // the shortlist FRACTION shrinks past the clamp — the measured
    // recall trajectory in the scaling record is the quality half of
    // this statement
    val fracAtClamp = 4096.0 / 163840.0
    val fracAt800k = SimOps.derivedShortlist(800000).toDouble / 800000.0
    assert(fracAt800k < fracAtClamp / 4.5)
  }

  test("derivedCellsHier (r15): identical to derivedCells through the " +
       "flat ceiling, keeps tracking n/128 to 2^20, two-level past 4096") {
    // identical values everywhere the flat ceiling doesn't bind
    Seq(0L, 2048L, 2049L, 20000L, 200000L, 524288L, 2097152L).foreach { n =>
      assert(SimOps.derivedCellsHier(n) == SimOps.derivedCells(n),
        s"hier/flat derive diverge below the flat ceiling at n=$n")
    }
    // the flat formula stops at 16384; the hier one keeps ~128 occupancy
    assert(SimOps.derivedCells(4194304) == 16384)
    assert(SimOps.derivedCellsHier(4194304) == 32768)
    assert(SimOps.derivedCellsHier(134217728) == 1 << 20) // ceil == 2^20
    assert(SimOps.derivedCellsHier(134217729) == 1 << 20) // ceiling binds
    // occupancy stays ~128 two decades past the old flat cliff
    Seq(4194304L, 41943040L, 134217728L).foreach { n =>
      val occ = n.toDouble / SimOps.derivedCellsHier(n)
      assert(occ <= 129.0, s"hier occupancy $occ at n=$n")
    }
    // the two-level switch sits exactly at the flat-assignment bound:
    // 4096 cells * 128 occupancy = 524,288 rows — every oracle-checked
    // scale (driver SFs: n <= 2000) is flat, bit-identical to r14
    assert(SimOps.FlatAssignMaxCells == 4096)
    assert(SimOps.derivedCellsHier(524288) == 4096)  // last flat derive
    assert(SimOps.derivedCellsHier(524289) == 4097)  // first two-level
    // the q163/q173/q79/q80 oracles embed least(1048576, greatest(16,
    // ceil(n/128))); replay it against the engine formula
    def oracleForm(n: Long): Long =
      math.min(1048576L, math.max(16L, math.ceil(n / 128.0).toLong))
    Seq(200L, 2000L, 2020L, 524288L, 2097152L, 134217729L).foreach { n =>
      assert(oracleForm(n) == SimOps.derivedCellsHier(n).toLong,
        s"oracle/engine cell derive diverge at n=$n")
    }
  }

  test("the q179 oracle's embedded shortlist formula equals " +
       "SimOps.derivedShortlist on the driver corpus sizes") {
    // the DuckDB oracle SQL embeds least(4096, greatest(50, ceil(n/40)));
    // replay it here for the three driver SFs plus both clamp edges
    def oracleForm(n: Long): Long =
      math.min(4096L, math.max(50L, math.ceil(n / 40.0).toLong))
    Seq(200L, 2000L, 20000L, 163840L, 163841L, 800000L).foreach { n =>
      assert(oracleForm(n) == SimOps.derivedShortlist(n).toLong,
        s"oracle/engine shortlist diverge at n=$n")
    }
  }
}
