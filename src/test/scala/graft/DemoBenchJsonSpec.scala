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
}
