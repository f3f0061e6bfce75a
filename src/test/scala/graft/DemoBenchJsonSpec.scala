package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The demo artifact embeds the ingest query's exception message; it
  * must parse as JSON whatever characters the message carries. */
class DemoBenchJsonSpec extends AnyFunSuite {

  test("ingest_error with a tab, U+0001, quotes and backslashes still parses") {
    val raw = "stage\tfailed\u0001: \"bad\" path C:\\tmp\r\nnext line"
    val safe = DemoBench.jsonSafe(raw)
    assert(!safe.exists(c => c < ' ' || c == '"' || c == '\\'), safe)
    val artifact = DemoBench.DemoResult(
      durationSec = 1, offeredEps = 1, sustainedEps = 1, landedRows = 1,
      processedRows = 1, backlogRows = 0, batchMsMean = 1, batches = 1,
      dashCalls = 0, dashP50Ms = 0, dashP99Ms = 0, dashMaxMs = 0, dashErrors = 0,
      refreshes = 0, droppedPartitions = 0, viewRows = 0, exportRows = 0,
      perProc = Nil, expectedExportRows = 0, ingestError = safe).json
    val parsed = new ObjectMapper().readTree(artifact)
    assert(parsed.get("ingest_error").asText() == safe)
  }

  test("the phase table adds up to the mean trigger, with other as the remainder") {
    // two synthetic progress durationMs maps; the second lacks getBatch
    val batches = Seq(
      Map("triggerExecution" -> 1000L, "addBatch" -> 700L, "walCommit" -> 40L,
        "commitOffsets" -> 30L, "latestOffset" -> 20L, "queryPlanning" -> 15L, "getBatch" -> 5L),
      Map("triggerExecution" -> 2001L, "addBatch" -> 1500L, "walCommit" -> 61L,
        "commitOffsets" -> 50L, "latestOffset" -> 25L, "queryPlanning" -> 20L))
    val table = DemoBench.phaseTable(batches)
    assert(!table.contains("triggerExecution"))
    assert(table("addBatch") == 1100L && table("getBatch") == 3L)
    assert(table.values.sum == 1501L, table) // round((1000 + 2001) / 2)
    assert(table("other") == 1501L - (table - "other").values.sum)
    assert(DemoBench.phaseTable(Nil).isEmpty)

    val artifact = DemoBench.DemoResult(
      durationSec = 1, offeredEps = 1, sustainedEps = 1, landedRows = 1,
      processedRows = 1, backlogRows = 0, batchMsMean = 1500.5, batches = 2,
      dashCalls = 0, dashP50Ms = 0, dashP99Ms = 0, dashMaxMs = 0, dashErrors = 0,
      refreshes = 2, droppedPartitions = 0, viewRows = 0, exportRows = 0,
      perProc = Nil, ingestPhaseMs = table,
      sinkMs = Map("sinkWrite" -> 1000L, "sinkJob" -> 900L), stateCommitTaskMs = 2500L,
      refreshMsP50 = 300, refreshMsMax = 900).json
    val parsed = new ObjectMapper().readTree(artifact)
    val phases = parsed.get("ingest_phase_ms_mean")
    var sum = 0L
    phases.fields().forEachRemaining(e => sum += e.getValue.asLong())
    assert(sum == 1501L)
    assert(parsed.get("ingest_add_batch_parts_ms_mean").get("sinkWrite").asLong() == 1000L)
    assert(parsed.get("ingest_state_commit_task_ms_mean").asLong() == 2500L)
    assert(parsed.get("refresh_ms_p50").asDouble() == 300.0)
    assert(parsed.get("refresh_ms_max").asDouble() == 900.0)
  }
}
