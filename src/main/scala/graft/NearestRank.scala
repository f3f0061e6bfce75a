package graft

/** The one latency-percentile definition the running system reports
  * (`@Statistics PROCEDUREPROFILE`, `proc_warm_latency`, the demo's
  * dashboard percentiles): nearest rank. The p-quantile (0 < p ≤ 1) of
  * n ascending samples is the sample at 1-based rank ceil(p·n) — with
  * n = 100, p50 is the 50th sample and p99 the 99th, not the maximum,
  * so a p99 column is never hostage to one GC outlier. */
object NearestRank {
  def apply(sorted: Array[Long], p: Double): Long = {
    require(sorted.nonEmpty, "percentile of no samples")
    sorted(math.max(0, math.min(sorted.length - 1, math.ceil(p * sorted.length).toInt - 1)))
  }
}
