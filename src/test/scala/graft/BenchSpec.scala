package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench harness's pure decision rules (r15 VERDICT #3): the
  * single-cell sanity rule must fire on a planted slowdown and stay
  * silent inside budget, and every headline cell must carry a frozen
  * budget so the rule can see it (a new headline query without its
  * BASELINE.md freeze fails here, not silently in the driver run). */
class BenchSpec extends AnyFunSuite {

  test("every headline query has a frozen budget (machine-readable " +
      "freeze discipline: headline membership requires a recorded " +
      "first measurement)") {
    val missing = Bench.headline.filterNot(Bench.frozenSec.contains)
    assert(missing.isEmpty, s"headline cells without a freeze: $missing")
  }

  test("budget bar is max(2x frozen, 2 s) — the round-13 sub-second " +
      "floor") {
    assert(Bench.barSec("q_importance_dsir") === Some(2.0)) // 0.34 frozen
    assert(Bench.barSec("q_sim_nndescent") === Some(2 * 7.79))
    assert(Bench.barSec("no_such_query") === None)
  }

  test("planted slowdown: a cell over its own bar triggers the in-run " +
      "re-measure; inside-budget and unbudgeted cells never do") {
    // q_sim_nndescent frozen 7.79 -> bar 15.58: BENCH_r15's 26.8 s cell
    // is exactly the planted case the rule exists for
    assert(Bench.cellNeedsRerun("q_sim_nndescent", 26.8))
    assert(!Bench.cellNeedsRerun("q_sim_nndescent", 15.0))
    // sub-second cell under the 2 s floor: 3x frozen but under 2 s
    assert(!Bench.cellNeedsRerun("q_importance_dsir", 1.0))
    assert(Bench.cellNeedsRerun("q_importance_dsir", 2.1))
    // a query with no freeze cannot trigger (nothing to compare to)
    assert(!Bench.cellNeedsRerun("no_such_query", 100.0))
  }

  test("the I/O probe leaves no probe dir behind and reports a failed " +
      "probe as None instead of throwing") {
    val spark = SparkSpec.spark
    val dir = java.nio.file.Paths.get(graft.core.Fs.scratchRoot, "bench_io_probe")
    assert(Bench.calibrateIo(spark, 2).exists(_ > 0))
    assert(!java.nio.file.Files.exists(dir))
    // zero slices: spark.range rejects the probe's plan
    assert(Bench.calibrateIo(spark, 0).isEmpty)
    assert(!java.nio.file.Files.exists(dir))
  }
}
