package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming._

/** The 30-s session export gate (ST4/J4 — see [[SessionDedup]]) on the
  * `transformWithState` operator, Spark 4's successor to
  * `flatMapGroupsWithState`: typed per-key state cells
  * (`ValueState[Long]` — exactly the one long per live (src,dest) pair
  * the reference's session view keeps), explicit event-time timers for
  * eviction instead of a single timeout slot, and RocksDB-backed state
  * with incremental checkpointing — the state engine to run this on at
  * 100 TB key cardinality.
  *
  * Gap semantics are delegated to [[SessionDedup.sessionStarts]] — the
  * SAME pure kernel the flatMapGroupsWithState form uses, so the two
  * operators cannot drift; SessionGateTwsSpec pins operator-level
  * parity on real event data.
  *
  * Measured non-win, so the hot path ([[IngestPipeline.hotPath]]) keeps
  * the flatMapGroupsWithState gate: under RocksDB with changelog
  * checkpointing, 8 state partitions on local[4] (4-vCPU Xeon VM), fed
  * 80k-event micro-batches of 20k-events/s `EventGen` traffic, this
  * operator's stateful stage took 3.3–4.1 s of task CPU per batch at
  * 480k–560k live keys, against 2.2–2.7 s for [[SessionDedup.dedup]] on
  * the same batches (two runs, both orders).
  */
object SessionGateTws {
  import SessionDedup.{Ev, GapMicros, micros, sessionStarts}

  class GateProcessor extends StatefulProcessor[(Long, String), Ev, Ev] {
    @transient private var lastTs: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastTs = getHandle.getValueState[Long](
        "lastTs", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: (Long, String), rows: Iterator[Ev],
                                 timerValues: TimerValues): Iterator[Ev] = {
      // micro-batch rows are unordered: apply the gap rule in
      // (ts, event_id) order, exactly as the fMGWS form does
      val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
      val prev = if (lastTs.exists()) Some(lastTs.get()) else None
      val (flags, lastOpt) = sessionStarts(prev, sorted.map(e => micros(e.ts)))
      lastOpt.foreach { last =>
        lastTs.update(last)
        // evict once event time passes last_ts + gap: ceil the µs→ms
        // conversion so the timer can never fire a hair early
        getHandle.registerTimer(Math.floorDiv(last + GapMicros + 999L, 1000L))
      }
      sorted.zip(flags).collect { case (e, true) => e }.iterator
    }

    override def handleExpiredTimer(key: (Long, String), timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[Ev] = {
      // a session extension re-registers a later timer; an earlier
      // (stale) one must not evict the still-live session
      if (lastTs.exists() &&
          expiredTimerInfo.getExpiryTimeInMs >= Math.floorDiv(lastTs.get() + GapMicros + 999L, 1000L))
        lastTs.clear()
      Iterator.empty
    }
  }

  /** Streaming form; input needs a watermark for event-time timers. */
  def dedup(events: Dataset[Ev])(implicit spark: SparkSession): Dataset[Ev] = {
    import spark.implicits._
    events
      .withWatermark("ts", "10 seconds")
      .as[Ev]
      .groupByKey(e => (e.user_id, e.event_type))
      .transformWithState(new GateProcessor,
        TimeMode.EventTime, OutputMode.Append)
  }
}
