package graft

import org.scalatest.funsuite.AnyFunSuite

/** The single nearest-rank percentile behind `@Statistics
  * PROCEDUREPROFILE`, `proc_warm_latency` and the demo's dashboard
  * percentiles. */
class NearestRankSpec extends AnyFunSuite {

  test("n = 100: p50 is the 50th sample, p95 the 95th, p99 the 99th (not the max)") {
    val samples = Array.tabulate(100)(i => (i + 1).toLong * 10)
    assert(NearestRank(samples, 0.50) == 500L)
    assert(NearestRank(samples, 0.95) == 950L)
    assert(NearestRank(samples, 0.99) == 990L)
    assert(NearestRank(samples, 1.0) == 1000L)
  }

  test("small and degenerate inputs stay in range") {
    assert(NearestRank(Array(7L), 0.5) == 7L)
    assert(NearestRank(Array(1L, 2L, 3L), 0.0) == 1L)
    assert(NearestRank(Array(1L, 2L, 3L), 0.5) == 2L)
    intercept[IllegalArgumentException](NearestRank(Array.empty[Long], 0.5))
  }
}
