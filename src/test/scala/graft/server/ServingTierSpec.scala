package graft.server

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The serving tier must stay materialized across refreshes (the
  * CacheManager plan-identity trap) and must never scan the fact
  * table on a dashboard read. */
class ServingTierSpec extends SparkSpec {

  test("dashboard reads hit the materialized tier, and refresh() keeps it that way") {
    val tier = new ServingTier(spark, sf)
    val r1 = tier.getTopUsers(60, 10).collect().map(_.toString)
    assert(r1.nonEmpty)
    val plan1 = tier.getTopUsers(60, 10).queryExecution.executedPlan.toString
    assert(!plan1.contains("Scan parquet"),
      s"dashboard read must serve from the materialized tier:\n$plan1")

    // the trap: a second refresh used to self-evict via cache-identity
    tier.refresh()
    val r2 = tier.getTopUsers(60, 10).collect().map(_.toString)
    assert(r2.sameElements(r1), "same data → same answer after refresh")
    val plan2 = tier.getTopUsers(60, 10).queryExecution.executedPlan.toString
    assert(!plan2.contains("Scan parquet"),
      s"tier must STILL be materialized after refresh:\n$plan2")

    val r3 = tier.getTopSrcDests(5).collect()
    assert(r3.length == 5)
  }

  test("windowed renders filter on the per-refresh as-of pin, not a per-render aggregate") {
    // r19: the views are immutable between refreshes, so the as-of
    // timestamp is computed ONCE per refresh and rides the render plan
    // as a literal — a regression back to the per-render
    // max(second_ts) aggregate would reintroduce a BroadcastExchange +
    // BroadcastNestedLoopJoin (and a driver job) on every dashboard
    // call, which is exactly what this pins against
    val tier = new ServingTier(spark, sf)
    for (render <- Seq(tier.getTopUsers(60, 10), tier.getTopDests(60, 10),
                       tier.getEventsByCluster(60))) {
      val plan = render.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
             !plan.contains("BroadcastExchange"),
        s"windowed render must filter on the pinned as-of literal:\n$plan")
    }
    // the pin must agree with what a fresh aggregate says: recompute
    // max(second_ts) over the events, then compare renders against the
    // same windows computed from scratch. The 0-s window holds exactly
    // the as-of second, so a stale or off-by-one pin changes its rows.
    val perSec = graft.operators.ClickstreamOps.eventsBySecond(spark, sf)
    val freshAsOf = perSec.agg(max(col("second_ts"))).collect()(0).getTimestamp(0)
    for ((seconds, limit) <- Seq((0, 1000000), (60, 10))) {
      val want = perSec
        .filter(col("second_ts") >= lit(freshAsOf) - expr(s"INTERVAL $seconds seconds"))
        .groupBy("user_id").agg(sum("count_values").as("counts"))
        .orderBy(col("counts").desc, col("user_id")).limit(limit)
        .collect().map(_.toString)
      val got = tier.getTopUsers(seconds, limit).collect().map(_.toString)
      assert(want.nonEmpty && got.sameElements(want),
        s"${seconds}-s window from the pin ${got.toSeq} != fresh ${want.toSeq}")
    }
  }
}
