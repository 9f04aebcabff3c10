package graft

import org.scalatest.funsuite.AnyFunSuite

/** The registry-wide determinism invariant (r8, VERDICT item 2): every
  * registered query must produce the same gate-canonicalized hash under
  * two deliberately different physical layouts (7 vs 200 shuffle
  * partitions, 1m vs 128m scan splits). The round-7 correctness reds
  * were exactly the class this catches — round-of-double-sum digits
  * that flip with partial-aggregation order, green on every
  * single-layout builder run and red on the driver's. Runs at sf0.001
  * for suite-time reasons; the per-round `DeterminismCheck` main covers
  * sf0.01 (committed in SELFCHECK). */
class DeterminismSpec extends AnyFunSuite {

  test("every registered query hashes identically under both layouts") {
    Verify.pinRouteMtimes()
    val bad = DeterminismCheck.run(TestSpark.spark, "/root/testdata/sf0.001",
      quiet = true)
    assert(bad.ok, s"layout-dependent queries: ${bad.nondeterministic.mkString(", ")}; " +
      s"queries that threw: ${bad.errors.mkString(", ")}")
  }
}
