package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Continuously-maintained view layer: the reference's five
  * materialized views (`/root/reference/db/ddl.sql:92-143`) as
  * Structured Streaming aggregations (SURVEY.md §2.4 A1–A6).
  *
  * Each takes a streaming DataFrame with the event schema
  * (event_id, ts, user_id, event_type, value) and returns the
  * incrementally-maintained aggregate; callers attach the sink
  * (`memory` for serving/tests, parquet/Delta for the at-rest tier).
  * The same column logic as the batch forms in
  * [[graft.operators.ClickstreamOps]] — specs assert streaming ==
  * batch on identical input.
  *
  * Scale: all are partial-aggregating group-bys. The lifetime views keep
  * one state row per group; the per-second views keep state only for
  * seconds the watermark has not closed. A4 keeps ONE row per open
  * second (a user → count map), since its (second, user) cardinality is
  * the event rate; A5/A6 have 49 and 20 keys per second and keep the
  * per-key form.
  * VoltDB maintains these synchronously per insert; micro-batches give
  * the same contents at batch-boundary granularity.
  */
object StreamingViews {

  /** A1 — events_by_src_view: lifetime COUNT per src (db/ddl.sql:92-95).
    * The reference view aggregates the EXPORT stream (ddl:93: FROM
    * events_export) — feed this the [[SessionDedup.dedup]] output, not
    * the raw event stream. Output mode: update/complete (no watermark —
    * lifetime counts). */
  def eventsBySrc(exportStream: DataFrame): DataFrame =
    exportStream.groupBy("user_id").agg(count(lit(1)).as("total_visits"))

  /** A2 — events_by_src_dest_view (db/ddl.sql:97-101); same export-
    * stream input contract as [[eventsBySrc]]. */
  def eventsBySrcDest(exportStream: DataFrame): DataFrame =
    exportStream.groupBy("user_id", "event_type").agg(count(lit(1)).as("counts"))

  /** A3 — events_sessions: COUNT + MAX(ts) (db/ddl.sql:103-112). */
  def eventsSessions(stream: DataFrame): DataFrame =
    stream.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("counts"), max("ts").as("last_ts"))

  /** A4 — events_by_second: tumbling 1-s window per src
    * (db/ddl.sql:114-122). Watermark bounds state (ST5: input is
    * in-order, so 5 s of slack loses nothing).
    *
    * At the reference's 20k events/s nearly every src is new each
    * second, so a (second, user) state key would cost one state put per
    * event and an eviction scan over ~120k rows per micro-batch. The
    * state is ONE row per open second holding a user → count map
    * ([[UserCounts]]), exploded back to (second_ts, user_id,
    * count_values) on output: a batch touches a handful of state rows.
    *
    * Output modes: append and complete emit exactly the rows of the
    * per-(second, user) `count` formulation. Update mode re-emits EVERY
    * user of an updated second, not only the users whose count changed.
    * `user_id` must be non-null (the reference's src is NOT NULL; a map
    * has no null key) and comes out as a long. */
  def eventsBySecond(stream: DataFrame): DataFrame =
    stream.withWatermark("ts", "5 seconds")
      .groupBy(window(col("ts"), "1 second"))
      .agg(udaf(UserCounts, Encoders.scalaLong)(col("user_id").cast("long")).as("counts"))
      .select(col("window.start").as("second_ts"), explode(col("counts")))
      .select(col("second_ts"), col("key").as("user_id"), col("value").as("count_values"))

  /** Per-second user → event count. One map per group; merge folds the
    * smaller map into the larger so partial maps from many tasks merge
    * in time linear in the smaller side. */
  private object UserCounts
      extends Aggregator[Long, mutable.HashMap[Long, Long], mutable.HashMap[Long, Long]] {
    type Counts = mutable.HashMap[Long, Long]
    def zero: Counts = mutable.HashMap.empty
    def reduce(b: Counts, user: Long): Counts = {
      b.updateWith(user) { c => Some(c.getOrElse(0L) + 1L) }
      b
    }
    def merge(x: Counts, y: Counts): Counts = {
      val (big, small) = if (x.size >= y.size) (x, y) else (y, x)
      small.foreachEntry { (u, c) => big.updateWith(u) { v => Some(v.getOrElse(0L) + c) } }
      big
    }
    def finish(b: Counts): Counts = b
    private val enc: Encoder[Counts] = ExpressionEncoder[Counts]()
    def bufferEncoder: Encoder[Counts] = enc
    def outputEncoder: Encoder[Counts] = enc
  }

  /** A5 — dests_by_second (db/ddl.sql:124-132). */
  def destsBySecond(stream: DataFrame): DataFrame =
    stream.withWatermark("ts", "5 seconds")
      .groupBy(window(col("ts"), "1 second"), col("event_type"))
      .agg(count(lit(1)).as("count_values"))
      .select(col("window.start").as("second_ts"), col("event_type"), col("count_values"))

  /** A6 — events_by_cluster, cluster IS NOT NULL (db/ddl.sql:134-143). */
  def eventsByCluster(stream: DataFrame): DataFrame =
    stream.filter(col("cluster").isNotNull)
      .withWatermark("ts", "5 seconds")
      .groupBy(window(col("ts"), "1 second"), col("cluster"))
      .agg(count(lit(1)).as("count_values"))
      .select(col("window.start").as("second_ts"), col("cluster"), col("count_values"))
}
