package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fifth relational tranche: LATERAL correlated subqueries and the
  * native session_window operator in batch form. Both oracle-checked.
  *
  * Scale notes (100 TB):
  *  - lateral_top_orders: Catalyst decorrelates the LATERAL subquery
  *    into a ranked window over the child — one shuffle on the
  *    correlation key, per-group top-k inside the window, no per-row
  *    re-execution (check the plan: Window + filter, not a loop);
  *  - session_window_islands: the native gap-session operator plans
  *    one Exchange on user_id and a per-partition sort, identical in
  *    shape to the hand-written lag/cumsum sessionization
  *    (session_counts); the operator IS the streaming state op in
  *    batch clothing, so semantics pinned here transfer to the
  *    streaming form (StreamJoins.sessionAgg).
  */
object RelationalOps5 {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // LATERAL correlated subquery: top-3 orders by price per customer
    // (first 100 custkeys to keep the dump bounded) — the SQL-surface
    // form of per-group top-k
    "lateral_top_orders" -> ((s, d) => {
      // only the two views: the full catalog registration costs ~0.4 s
      Tables.customer(s, d).createOrReplaceTempView("customer")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(
        """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
          |FROM customer c, LATERAL (
          |  SELECT o_orderkey, o_totalprice FROM orders o
          |  WHERE o.o_custkey = c.c_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t
          |WHERE c.c_custkey <= 100
          |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin)
    }),

    // the same per-customer top-3 as the SQL window idiom — Spark plans
    // `row_number() <= 3` as a partial WindowGroupLimit before the
    // exchange and a final one after it, so each task ships at most 3
    // rows per key and only the survivors are sorted and ranked
    "grouped_topk_orders" -> ((s, d) => {
      // only the one view: the full catalog registration costs ~0.4 s
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(
        """SELECT o_custkey, o_orderkey, o_totalprice FROM (
          |  SELECT o_custkey, o_orderkey, o_totalprice,
          |         row_number() OVER (PARTITION BY o_custkey
          |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
          |  FROM orders WHERE o_custkey <= 100)
          |WHERE rn <= 3
          |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin)
    }),

    // the same top-k written in the DataFrame API; PlanAuditSpec pins
    // the partial WindowGroupLimit below the exchange
    "window_topk_orders" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .filter(col("o_custkey") <= 100)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3).drop("rn")
        .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
    }),

    // the same top-k with the rank kept in the output (widened to long)
    "window_topk_ranked" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .filter(col("o_custkey") <= 100)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rn").cast("long").as("rn"))
        .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
    }),

    // native session_window (30-min gap) per user over the events
    // stream, batch form — session bounds + event counts; the oracle
    // is the classic gaps-and-islands SQL, proving the operator's gap
    // semantics (a gap of EXACTLY 30 min starts a new session: the
    // window is half-open [start, last + gap))
    "session_window_islands" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("sw"))
        .agg(min("ts").as("session_start"), max("ts").as("session_end"),
          count(lit(1)).as("n_events"))
        .select("user_id", "session_start", "session_end", "n_events")
        .orderBy("user_id", "session_start"))
  )

  val oracles: Map[String, String] = Map(
    "lateral_top_orders" ->
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t
        |WHERE c.c_custkey <= 100
        |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin,

    "grouped_topk_orders" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders WHERE o_custkey <= 100)
        |WHERE rn <= 3
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin,

    "window_topk_orders" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders WHERE o_custkey <= 100)
        |WHERE rn <= 3
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin,

    "window_topk_ranked" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders WHERE o_custkey <= 100)
        |WHERE rn <= 3
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin,

    "session_window_islands" ->
      """WITH o AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN lag(ts) OVER (PARTITION BY user_id
        |                                 ORDER BY ts, event_id) IS NULL
        |                OR ts - lag(ts) OVER (PARTITION BY user_id
        |                                      ORDER BY ts, event_id)
        |                   >= INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |g AS (SELECT user_id, ts,
        |             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                            ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM o)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |       count(*) AS n_events
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin
  )
}
