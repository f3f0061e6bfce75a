package graft

import graft.streaming.LiveConfig

/** Integrated crash-restart: StreamRestartSpec restarts each stateful
  * family in isolation; this kills the ingest hot path MID-DEMO — a
  * hard stop that interrupts the in-flight micro-batch before its
  * commit — and restarts it from the checkpoint while the feeder,
  * view-maintenance query, dashboard, and retention tick keep running.
  * The contract:
  *
  *  (a) the export sink is EXACTLY-ONCE across the restart — after a
  *      full drain, its row count equals a batch replay of the 30-s
  *      gap rule over every landed event (a duplicated replay batch
  *      would exceed it, a lost batch would undershoot it);
  *  (b) the dashboard keeps answering through the kill/restart window
  *      (0 failed calls);
  *  (c) the backlog the outage built re-drains within a bounded
  *      recovery window (catch-up runs at maxFilesPerTrigger=4
  *      tranches per batch = 4x the offered rate).
  */
class DemoRestartSpec extends SparkSpec {

  test("hard kill + checkpoint restart mid-demo: exactly-once export, dashboard alive, bounded recovery") {
    val live = LiveConfig(sf, ckpt("graft_demo"), stateParts = 2,
      bucketPattern = LiveConfig.SecondBuckets, retentionEverySec = 10,
      // retention keeps TICKING (mechanics under load) but its horizon
      // never passes: the exactly-once count compares the sink against
      // a replay of ALL landed events, so nothing may be TTL-dropped
      keepSeconds = 1000000)
    val res = DemoBench.run(spark, live, durationSec = 60, offeredEps = 25000, warmSec = 15,
      killIngestAtSec = Some(20), verifyExactness = true)
    info(res.json)
    // teardown sanity FIRST: a dead restarted instance or a truncated
    // drain makes the exactly-once compare below meaningless — fail
    // with the cause, not the symptom (the r18 driver-run failure was
    // exactly this shape: ~one tranche short, cause unrecorded)
    assert(res.ingestError.isEmpty,
      s"restarted ingest instance died: ${res.ingestError}")
    assert(res.drainedOk, "drain did not complete before the deadline")
    // (a) exactly-once across the crash: replay oracle == sink count
    assert(res.expectedExportRows > 0, "replay oracle computed nothing")
    assert(res.exportRows == res.expectedExportRows,
      s"export NOT exactly-once across restart: sink ${res.exportRows} vs replay ${res.expectedExportRows}")
    // (b) the dashboard answered every 1 Hz call through the outage
    assert(res.dashErrors == 0, s"${res.dashErrors} dashboard calls failed during restart")
    assert(res.dashCalls > 0)
    // (c) the restart happened and the backlog re-drained, bounded
    assert(res.restartAtSec == 20)
    assert(res.recoverySec > 0,
      "killer thread never ran — restart was not exercised")
    assert(res.recoverySec <= 90,
      s"backlog did not re-drain within the recovery bound: ${res.recoverySec} s")
    assert(res.backlogRows == 0, s"backlog never drained: ${res.backlogRows}")
    // no retention drop may have eaten exported rows out of the count
    assert(res.droppedPartitions == 0,
      s"retention dropped ${res.droppedPartitions} partitions despite the parked horizon")
    // the view leg survived the ingest outage
    assert(res.viewRows > 0)
  }
}
