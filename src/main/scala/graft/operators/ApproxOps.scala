package graft.operators

import graft.{ConcurrentJobs, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate aggregates — the 100 TB substitutes for exact DISTINCT /
  * percentile (the reference has neither, SURVEY.md §2.4 note; a
  * training-data pipeline needs both and cannot afford exact shuffles
  * for them at scale).
  *
  * HLL (`approx_count_distinct`) and t-digest-ish
  * (`approx_percentile`) are sketch-mergeable: partial sketches combine
  * associatively, so the shuffle carries one sketch per group, not the
  * distinct values. Sketch internals are engine-specific → rows-only in
  * the driver gate; accuracy bounds are spec-tested against the exact
  * forms. The exact percentile is oracle-checked.
  */
object ApproxOps {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // exact percentiles — oracle-checked (interpolated definition is
    // identical in Spark and DuckDB). Sort-based ([[PercentileExact]]):
    // the builtin `percentile` aggregate buffers a value→count map per
    // group, which grows with the column's distinct-value count —
    // unbounded for l_extendedprice at 100 TB. One range-sort PER value
    // column, joined on the group relation (the tagged single-sort
    // consolidation measured a ~5x cliff at x100 and was reverted);
    // bounded task memory at any cardinality.
    "percentiles_exact" -> ((s, d) =>
      PercentileExact.groupedColumns(Tables.lineitem(s, d), "l_returnflag",
        Seq("l_quantity" -> Seq(0.5 -> "p50_qty", 0.95 -> "p95_qty"),
          "l_extendedprice" -> Seq(0.5 -> "p50_price")))
        .select("l_returnflag", "p50_qty", "p95_qty", "p50_price")
        .orderBy("l_returnflag")),

    // HLL distinct per group — rows-only; accuracy spec vs exact
    "approx_distinct_parts" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
             approx_count_distinct(col("l_suppkey")).as("approx_supps"))
        .orderBy("l_returnflag")),

    // mergeable sketch TIER: one HLL sketch per (flag, ship-day) kept
    // at rest, unioned at query time — the sketch analogue of the
    // reference's per-second count tier (partials persisted, re-agg on
    // demand). Union of register-wise maxes is LOSSLESS vs a single
    // pass (spec-asserted), so the tier answers any day-range distinct
    // query without rescanning facts. Rows-only (sketch internals are
    // engine-specific); accuracy + mergeability spec-tested.
    "hll_sketch_tier" -> ((s, d) => {
      // pre-partition on the group key BEFORE the sketch aggregate:
      // partial aggregation would otherwise build a multi-KB sketch
      // buffer per (group × task) — with every scan task seeing every
      // (flag, day), that's |groups| × |tasks| buffer allocations and
      // merges (measured ~2× the query). Co-locating groups first
      // costs one narrow-row shuffle and leaves |groups| buffers.
      val daily = Tables.lineitem(s, d)
        .select(col("l_returnflag"), to_date(col("l_shipdate")).as("day"), col("l_partkey"))
        .repartition(col("l_returnflag"), col("day"))
        .groupBy(col("l_returnflag"), col("day"))
        .agg(expr("hll_sketch_agg(l_partkey)").as("sk"))
      daily.groupBy("l_returnflag")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx_parts"))
        .orderBy("l_returnflag")
    }),

    // approximate heavy hitters: mergeable count-min tier + two-tier
    // candidate generation (the classic distributed top-k that never
    // shuffles raw keys globally):
    //   tier 1 — one CMS per day (count_min_sketch aggregate; persisted
    //   at rest in production, like the HLL tier), merged on the driver
    //   (30 sketch blobs, not data);
    //   tier 2 — candidates = union of per-day LOCAL top-20 users (a
    //   global heavy hitter is a local top-k somewhere; k trades
    //   candidate-set size against recall on flat distributions), then
    //   each candidate's global count read from the merged sketch.
    // CMS error is one-sided (estimate ≥ truth) — spec-asserted along
    // with candidate recall vs the exact top-10. Rows-only.
    "heavy_hitters_cms" -> ((s, d) => {
      import org.apache.spark.util.sketch.CountMinSketch
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d).select(to_date(col("ts")).as("day"), col("user_id"))
      // same pre-partition discipline as hll_sketch_tier: a 1e-4-eps
      // CMS buffer is ~1 MB — one per (day × task) under default
      // partial aggregation vs one per day when days are co-located
      // the sketch build and the candidate top-k are INDEPENDENT jobs
      // over the same lazy ev projection — running the two collects
      // sequentially left the cluster idle half the construction
      // (guide §2.6); overlap them (batch-only path, nothing latency-
      // sensitive to starve)
      import scala.concurrent.Await
      import scala.concurrent.duration.Duration
      val skRowsF = ConcurrentJobs.async(s)(ev.repartition(col("day")).groupBy("day")
        .agg(expr("count_min_sketch(user_id, 0.0001d, 0.99d, 42)").as("sk"))
        .collect())
      val w = Window.partitionBy("day").orderBy(col("c").desc, col("user_id"))
      val candsF = ConcurrentJobs.async(s)(ev.groupBy("day", "user_id").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 20)
        .select("user_id").distinct()
        .collect().map(_.getLong(0)))
      val merged = Await.result(skRowsF, Duration.Inf)
        .map(r => CountMinSketch.readFrom(r.getAs[Array[Byte]]("sk")))
        .reduce { (a, b) => a.mergeInPlace(b); a }
      val cands = Await.result(candsF, Duration.Inf)
      import s.implicits._
      cands.toSeq.map(u => (u, merged.estimateCount(u)))
        .toDF("user_id", "est_count")
        .orderBy(col("est_count").desc, col("user_id"))
        .limit(10)
    }),

    // approximate percentile sketch — rows-only; accuracy spec vs exact.
    // Scalar columns (not array<double>): the driver's pandas compare
    // sorts every column for hashing and an ndarray cell is unhashable.
    "approx_percentile_value" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          expr("approx_percentile(value, 0.5, 1000)").as("p50_value"),
          expr("approx_percentile(value, 0.9, 1000)").as("p90_value"),
          expr("approx_percentile(value, 0.99, 1000)").as("p99_value"))
        .orderBy("event_type"))
  )

  val oracles: Map[String, String] = Map(
    "percentiles_exact" ->
      """SELECT l_returnflag,
        |       quantile_cont(l_quantity, 0.5) AS p50_qty,
        |       quantile_cont(l_quantity, 0.95) AS p95_qty,
        |       quantile_cont(l_extendedprice, 0.5) AS p50_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  )
}
