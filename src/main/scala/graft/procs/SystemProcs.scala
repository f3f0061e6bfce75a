package graft.procs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** System-procedure introspection (SURVEY.md §1.1 "System procedures",
  * §2.4 A9): the reference's `@Statistics TABLE` per-partition row
  * counts and `@GetPartitionKeys` (used by the nibbler to walk
  * partitions, `PartitionDataTracker.java:70-94`) re-expressed over
  * Spark's partitioning.
  */
object SystemProcs {
  type Q = (SparkSession, String) => DataFrame

  /** @Statistics TABLE: per-partition tuple counts for a relation
    * under its current physical partitioning. */
  def statisticsTable(df: DataFrame): DataFrame =
    df.groupBy(spark_partition_id().as("partition_id"))
      .agg(count(lit(1)).as("tuple_count"))

  /** @GetPartitionKeys analogue: the hash-partition id each key routes
    * to under `numPartitions`-way partitioning (what the reference's
    * nibbler uses to address every partition once). */
  def partitionKeys(df: DataFrame, keyCol: String, numPartitions: Int): DataFrame =
    df.select(col(keyCol)).distinct()
      .withColumn("partition_id", pmod(hash(col(keyCol)), lit(numPartitions)))

  val queries: Map[String, Q] = Map(
    // rows-only: physical partition ids are engine-internal, but the
    // per-partition counts must sum to the table count (spec-checked)
    "stats_partition_rows" -> ((s, d) =>
      statisticsTable(
        graft.Tables.events(s, d).repartition(8, col("user_id")))
        .orderBy("partition_id")),

    // rows-only: @Statistics PROCEDUREPROFILE parity (reference
    // web/js/voltdb-dashboard.js:102-107) — invocation counts are
    // deterministic (2 per procedure here), latency micros are not,
    // so the row is semantics-spec'd (ProceduresSpec), not oracled
    "proc_profile" -> ((s, d) => {
      val srv = new graft.server.QueryServer(s, d)
      // profile rows are driver-side counters — collect them and STOP
      // the server (constructor binds a socket) before building the DF,
      // or every registry sweep leaks a listener for the JVM lifetime
      val prof =
        try {
          val calls = Seq(
            "GetTopUsers" -> Seq("60", "10"),
            "GetTopDests" -> Seq("60", "10"),
            "GetTopSources" -> Seq("10"),
            "GetTopSrcDests" -> Seq("10"),
            "GetEventsByCluster" -> Seq("60"))
          calls.foreach { case (p, a) => srv.call(p, a); srv.call(p, a) }
          srv.procedureProfile
        } finally srv.stop()
      import s.implicits._
      prof.toDF("procedure", "invocations", "p50_us", "p95_us", "max_us")
        .orderBy("procedure")
    }),

    // rows-only: the dashboard WARM-path contract as a continuously
    // graded row. The reference dashboard polls these five procedures
    // every second (web/js/demo.js:2-35, wired to 1-s intervals by
    // voltdb-dashboard.js:52-75); the serving
    // design computes each key once (Spark job over the cached view
    // tier) and answers repeats from the driver result cache. This row
    // cold-primes each procedure, then times 100 warm calls — ~100 s
    // of 1 Hz polling — and reports p50/p99/max micros per procedure.
    // SystemProcsSpec floors p99 < 1 s (the 1 Hz budget) and pins that
    // the warm calls actually hit the cache, not Spark.
    "proc_warm_latency" -> ((s, d) => {
      val srv = new graft.server.QueryServer(s, d)
      val rows =
        try {
          val calls = Seq(
            "GetTopUsers" -> Seq("60", "10"),
            "GetTopDests" -> Seq("60", "10"),
            "GetTopSources" -> Seq("10"),
            "GetTopSrcDests" -> Seq("10"),
            "GetEventsByCluster" -> Seq("60"))
          calls.map { case (p, a) =>
            srv.call(p, a) // cold prime: pays the one Spark job, installs the cache entry
            val lat = Array.fill(100) {
              val t0 = System.nanoTime(); srv.call(p, a); System.nanoTime() - t0
            }.sorted
            def pct(p: Double): Long = graft.NearestRank(lat, p) / 1000
            (p, lat.length.toLong, pct(0.50), pct(0.99), lat.last / 1000)
          }
        } finally srv.stop()
      import s.implicits._
      rows.toDF("procedure", "warm_calls", "p50_us", "p99_us", "max_us")
        .orderBy("procedure")
    })
  )
}
