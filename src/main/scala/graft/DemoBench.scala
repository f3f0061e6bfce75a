package graft

import graft.sources.EventGen
import graft.streaming.{IngestPipeline, Retention, StreamingViews}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

/** Integrated demo-parity bench: the reference's actual operating mode
  * is everything AT ONCE — `run.sh:144-159` starts the 20k-events/s
  * client and the retention nibbler together while the dashboard
  * (`web/js/demo.js:2-45`, RefreshData/RefreshStats, wired to 1-s
  * intervals by `web/js/voltdb-dashboard.js:52-75`) polls five
  * procedures plus one
  * `@Statistics` call every second for the whole 900-s demo. Every
  * other bench here measures one leg in isolation; this one runs them
  * simultaneously and grades the two contract numbers UNDER each
  * other's load:
  *
  *  - a feeder thread lands seeded [[EventGen]] tranches at the offered
  *    rate (one wall-second of traffic per tranche, event time advancing
  *    one second per tranche — the reference client's wall-clock µs
  *    stamping);
  *  - the ingest streaming query runs the full hot path (3 dim lookups
  *    → k-means scoring → 30-s session gate) and appends
  *    session-openers to an export sink partitioned by event-time
  *    minute;
  *  - a second streaming query continuously maintains the per-second
  *    view tier (A4, [[StreamingViews.eventsBySecond]]) — the
  *    reference's synchronous view maintenance as its streaming
  *    analogue;
  *  - a retention thread ticks every `retentionEverySec`, dropping
  *    export-sink partitions older than `keepSeconds` of event time
  *    (the nibbler's chunked deletes as O(partitions) directory drops —
  *    `nibbler/src/nibbler/ContinuousDeleter.java:94-172`);
  *  - a dashboard thread fires the reference dashboard's exact call set
  *    (5 procedures + @Statistics) at 1 Hz over HTTP against a live
  *    [[graft.server.QueryServer]], while a refresher thread
  *    re-materializes the serving tier every `refreshEverySec` — so the
  *    latency distribution includes the post-refresh cold recomputes,
  *    not just driver-cache hits.
  *
  * Reported floors (BENCH_DEMO.json, spec-pinned in DemoParitySpec):
  * sustained ingest ≥ 20,000 events/s AND dashboard p99 < 1 s, both
  * measured inside the same timed window.
  */
object DemoBench {

  /** A message made safe to embed raw inside a JSON string: quotes,
    * backslashes and the whole U+0000–U+001F control range (tabs and
    * other control characters appear in Spark exception messages)
    * become spaces, so the artifact always parses. */
  def jsonSafe(msg: String): String = msg.replaceAll("[\\u0000-\\u001f\"\\\\]", " ")

  /** cacheHitRate: fraction of the proc's TIMED-WINDOW calls served
    * from the driver result cache (−1 for @-procs, which bypass it).
    * Pre-warm renders are server-initiated and excluded by
    * [[graft.server.QueryServer.cacheStatsByProc]] itself. */
  final case class ProcStats(proc: String, calls: Int,
                             p50Ms: Double, p99Ms: Double, maxMs: Double,
                             cacheHitRate: Double = -1.0)

  /** One sub-window slice of the timed window — drift visibility for
    * long endurance runs (a 900-s mean hides a 25k→15k decay; six
    * 150-s slices don't). */
  final case class SubWin(startSec: Int, eps: Double, dashP99Ms: Double,
                          batches: Int, dashCalls: Int)

  final case class DemoResult(
    durationSec: Double, offeredEps: Double, sustainedEps: Double,
    landedRows: Long, processedRows: Long, backlogRows: Long,
    batchMsMean: Double, batches: Int,
    dashCalls: Int, dashP50Ms: Double, dashP99Ms: Double, dashMaxMs: Double,
    dashErrors: Int, refreshes: Int, droppedPartitions: Int,
    viewRows: Long, exportRows: Long, perProc: Seq[ProcStats],
    subWindows: Seq[SubWin] = Nil,
    restartAtSec: Int = -1, recoverySec: Double = -1.0,
    expectedExportRows: Long = -1L, sinkFiles: Int = -1,
    drainedOk: Boolean = true, ingestError: String = "",
    loadBefore: Double = -1.0, loadAfter: Double = -1.0,
    stealPct: Double = -1.0,
    ingestPhaseMs: Map[String, Long] = Map.empty,
    maxFilesPerTrigger: Int = 4,
    streamParts: Int = 8) {

    def json: String = {
      val procs = perProc.map { p =>
        val hr =
          if (p.cacheHitRate < 0) ""
          else f""","cache_hit_rate":${p.cacheHitRate}%.3f"""
        f""""${p.proc}":{"calls":${p.calls},"p50_ms":${p.p50Ms}%.1f,"p99_ms":${p.p99Ms}%.1f,"max_ms":${p.maxMs}%.1f$hr}"""
      }.mkString("{", ",", "}")
      val subs = subWindows.map(w =>
        f"""{"start_sec":${w.startSec},"eps":${w.eps}%.0f,"dash_p99_ms":${w.dashP99Ms}%.1f,"batches":${w.batches},"dash_calls":${w.dashCalls}}""")
        .mkString("[", ",", "]")
      val restart =
        if (restartAtSec < 0) ""
        else f""","restart_at_sec":$restartAtSec,"recovery_sec":$recoverySec%.1f"""
      val exact =
        if (expectedExportRows < 0) ""
        else s""","expected_export_rows":$expectedExportRows,"drained":$drainedOk,"ingest_error":"$ingestError""""
      val phases =
        if (ingestPhaseMs.isEmpty) ""
        else ingestPhaseMs.toSeq.sortBy(-_._2)
          .map { case (k, v) => s""""$k":$v""" }
          .mkString(""","ingest_phase_ms_mean":{""", ",", "}")
      f"""{"metric":"demo_parity","duration_sec":$durationSec%.1f,"offered_eps":$offeredEps%.0f,"sustained_eps":$sustainedEps%.0f,"landed_rows":$landedRows,"processed_rows":$processedRows,"backlog_rows":$backlogRows,"batch_ms_mean":$batchMsMean%.0f,"batches":$batches,"max_files_per_trigger":$maxFilesPerTrigger,"stream_parts":$streamParts,"dash_calls":$dashCalls,"dash_p50_ms":$dashP50Ms%.1f,"dash_p99_ms":$dashP99Ms%.1f,"dash_max_ms":$dashMaxMs%.1f,"dash_errors":$dashErrors,"refreshes":$refreshes,"dropped_partitions":$droppedPartitions,"view_rows":$viewRows,"export_rows":$exportRows,"sink_files":$sinkFiles,${BoxLoad.jsonFields(loadBefore, loadAfter)},"steal_pct":$stealPct%.1f,"sub_windows":$subs$restart$exact$phases,"per_proc":$procs}"""
    }
  }

  /** The dashboard's exact 1 Hz call set (web/js/demo.js:2-45 —
    * RefreshData's five procedures and RefreshStats' @Statistics poll;
    * voltdb-dashboard.js:52-75 only wires the 1-s intervals). */
  private val DashCalls: Seq[(String, String)] = Seq(
    "GetTopUsers" -> "[60,10]",
    "GetTopDests" -> "[60,10]",
    "GetTopSources" -> "[10]",
    "GetTopSrcDests" -> "[10]",
    "GetEventsByCluster" -> "[60]",
    "@Statistics" -> "[\"PROCEDUREPROFILE\"]")

  /** Run the integrated demo for `durationSec` of TIMED window after
    * `warmSec` of warm-up (JIT + first state-store commits + the
    * serving tier's initial materialization are once-per-process costs
    * a sustained-rate claim must not bill). All legs run through warm-up
    * AND the timed window; stats come from the timed window only.
    *
    * @param killIngestAtSec hard-stop the ingest query this many
    *        seconds into the timed window (the in-flight micro-batch is
    *        interrupted before its commit — a crash at the commit
    *        protocol level, not a graceful drain) and restart it from
    *        the same checkpoint while feeder/view/dashboard/retention
    *        keep running; records when backlog re-drains.
    * @param verifyExactness after the timed window, stop the feeder,
    *        drain the ingest query completely, and compute the expected
    *        export count by a BATCH replay of the gap rule over every
    *        landed event — `expectedExportRows == exportRows` is the
    *        exactly-once contract across crash restarts (the sink is
    *        batchId-keyed, so a replayed batch overwrites itself).
    * @param subWindowSec slice width for per-sub-window eps/p99. */
  def run(spark: SparkSession, sfDir: String,
          durationSec: Int, offeredEps: Int = 25000, warmSec: Int = 20,
          refreshEverySec: Int = 15, retentionEverySec: Int = 30,
          keepSeconds: Int = 120, streamParts: String = "8",
          bucketPattern: String = "yyyy-MM-dd-HH-mm",
          killIngestAtSec: Option[Int] = None,
          verifyExactness: Boolean = false,
          subWindowSec: Int = 150,
          maxFilesPerTrigger: Int = 4): DemoResult = {
    implicit val sp: SparkSession = spark

    val loadBefore = BoxLoad.loadavg1m()
    val steal0 = BoxLoad.stealSnap()
    val stop = new AtomicBoolean(false)
    val feederDone = new AtomicBoolean(false)
    /** Sleep toward a deadline in ≤1-s slices, bailing as soon as the
      * run is stopped — so shutdown never waits out a long tick sleep
      * (a 30-s retention sleep would otherwise outlive the join grace
      * and race the final sink read / temp-dir delete). */
    def sleepUntil(deadlineNanos: Long): Unit = {
      var remMs = (deadlineNanos - System.nanoTime()) / 1000000L
      while (!stop.get() && remMs > 0) {
        Thread.sleep(math.min(1000L, remMs))
        remMs = (deadlineNanos - System.nanoTime()) / 1000000L
      }
    }

    val base = java.nio.file.Files.createTempDirectory("graft_demo").toString
    val drop = s"$base/drop"; val sink = s"$base/sink"; val ckpt = s"$base/ckpt"
    val viewSink = s"$base/view_sink"; val viewCkpt = s"$base/view_ckpt"

    // ---- feeder: one offered-second of traffic per tranche ----------
    // Tranches are PRE-GENERATED into a staging area, and the live
    // feeder only MOVES files into the drop dir at 1 Hz (the
    // rename-harvest arrival shape): a same-filesystem rename is
    // instant and load-independent, so the offered rate holds exactly
    // no matter how busy the scheduler is — generating tranches with
    // Spark jobs DURING the run measured the feeder itself degrading
    // under contention (offered 25k→16k over 300 s), which turns the
    // sustained-eps floor into a feeder test instead of a pipeline test.
    // The feeder isn't the system under test (ThroughputBench
    // precedent: generation/landing is excluded from timed windows).
    val per = offeredEps
    val genBase = 1700000000000000L // EventGen's default baseTsMicros
    val tsScale = math.max(1L, 1000000L / per) // spread a tranche across its second
    val landed = new AtomicLong(0)
    val latestTrancheMicros = new AtomicLong(genBase)
    val stage = s"$base/stage"
    val nTranches = warmSec + durationSec + 90 // slack: shutdown + feeder never starves
    // one generation job for the whole feed, dynamic-partitioned by
    // tranche (event time advances one second per tranche, spread
    // across the second within it)
    EventGen.events(spark, nTranches.toLong * per, seed = 9000L)
      .withColumn("ts", expr(
        s"timestamp_micros(${genBase}L + (event_id DIV ${per}L) * 1000000L + (event_id % ${per}L) * ${tsScale}L)"))
      .drop("ts_micros")
      .withColumn("tranche", expr(s"CAST(event_id DIV ${per}L AS INT)"))
      .repartition(col("tranche"))
      .write.mode("overwrite").partitionBy("tranche").parquet(stage)
    def land(t: Int): Unit = {
      val src = new java.io.File(s"$stage/tranche=$t")
      src.listFiles().filter(f => f.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(drop, f"t$t%05d_${f.getName}"))
      }
      latestTrancheMicros.set(genBase + t.toLong * 1000000L)
      landed.addAndGet(per)
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(drop))
    land(0) // first tranche synchronously: the stream needs a schema
    val schema = spark.read.parquet(drop).schema
    val feeder = new Thread(() => {
      var t = 1
      var next = System.nanoTime()
      while (!stop.get() && !feederDone.get() && t < nTranches) {
        land(t); t += 1
        next += 1000000000L
        sleepUntil(next)
      }
    }, "demo-feeder")

    // ---- progress listener: per-query processed rows + batch times --
    // batch samples are stamped with the TRIGGER's own wall-clock
    // timestamp (p.timestamp), not listener-delivery time — the async
    // listener bus can back up under warm-up load and deliver a
    // warm-up batch's event after the window opens, which would bill
    // exactly the JIT/first-commit batch the windowing exists to
    // exclude. Window bounds for batches are therefore wall-clock ms.
    val rowsByQuery = new ConcurrentHashMap[java.util.UUID, AtomicLong]()
    // (triggerEpochMs, inputRows, execMs) — rows per batch so
    // sub-window eps can be computed from trigger-stamped slices
    val ingestBatch = new ConcurrentLinkedQueue[(Long, Long, Long)]()
    // per-batch phase costs stamped with the TRIGGER's wall clock —
    // the same stamping discipline as ingestBatch, so the window
    // selects exactly the batches batchTimes counts (a snapshot-delta
    // approach billed warm-up batches whose progress events the
    // backed-up listener bus delivered after the window opened)
    val ingestPhaseByBatch =
      new ConcurrentLinkedQueue[(Long, scala.collection.Map[String, Long])]()
    // sink-cost split inside addBatch (the r17 knee's conclusion was
    // "the sink/shuffle half of addBatch binds past ~120k at
    // parts=16" — tuning it needs to know whether that cost is the
    // DISTRIBUTED write job or DRIVER-side work): foreachBatch stamps
    // each batch's total write wall ("sinkWrite"); the job listener
    // below attributes the write's Spark jobs by an inherited local
    // property and sums their wall ("sinkJob" = distributed compute +
    // task-side file writes + task commits). sinkWrite - sinkJob ≈
    // driver-side planning + commitJob (task-file renames, _SUCCESS);
    // addBatch - sinkWrite = micro-batch plumbing around foreachBatch.
    // A local property, NOT setJobGroup: the stream execution thread
    // owns its job group (hard stop cancels by it — the restart spec's
    // crash shape), and local properties inherit into job submissions
    // without touching that.
    val sinkMsByBatch = new ConcurrentHashMap[java.lang.Long, java.lang.Long]()
    val sinkJobMs = new ConcurrentHashMap[String, AtomicLong]()
    val sinkJobListener = new org.apache.spark.scheduler.SparkListener {
      private val starts = new ConcurrentHashMap[Integer, (String, Long)]()
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val b = Option(js.properties).map(_.getProperty("graft.demo.sinkBatch")).orNull
        if (b != null) starts.put(js.jobId, (b, js.time))
      }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val s = starts.remove(je.jobId)
        if (s != null)
          sinkJobMs.computeIfAbsent(s._1, _ => new AtomicLong()).addAndGet(je.time - s._2)
      }
    }
    // a SET of ids: a crash-restart starts a second query instance on
    // the same checkpoint, and processed-row accounting must span both
    val ingestIds = ConcurrentHashMap.newKeySet[java.util.UUID]()
    // last wall-clock ms at which the ingest leg consumed input — the
    // drain detector (an AvailableNow-style "done" signal doesn't
    // exist for a ProcessingTime query; 5 s of empty triggers does)
    val lastDataMs = new AtomicLong(System.currentTimeMillis())
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        rowsByQuery.computeIfAbsent(p.id, _ => new AtomicLong()).addAndGet(p.numInputRows)
        if (ingestIds.contains(p.id) && p.numInputRows > 0) {
          lastDataMs.set(System.currentTimeMillis())
          ingestBatch.add((java.time.Instant.parse(p.timestamp).toEpochMilli,
            p.numInputRows, p.durationMs.get("triggerExecution").toLong))
          // per-phase costs: where a micro-batch's wall-clock goes —
          // the capacity-knee question is "which phase saturates first",
          // unanswerable from triggerExecution alone. Spark's phase keys
          // (getBatch/latestOffset = source listing, queryPlanning,
          // addBatch = the actual execute+sink, walCommit/commitOffsets
          // = per-batch checkpoint protocol) plus the state store's own
          // commit latency from stateOperators.
          val phases = scala.collection.mutable.Map.empty[String, Long]
          p.durationMs.forEach((k, v) => phases.update(k, v.toLong))
          p.stateOperators.foreach(so =>
            phases.update("stateCommit",
              phases.getOrElse("stateCommit", 0L) + so.commitTimeMs))
          Option(sinkMsByBatch.remove(java.lang.Long.valueOf(p.batchId)))
            .foreach(t => phases.update("sinkWrite", t.longValue()))
          // jobEnd rides the core listener bus (a different queue than
          // this streaming event); by progress time it is essentially
          // always delivered — if a backed-up bus hasn't delivered it
          // yet, skip the key for this batch rather than record 0
          Option(sinkJobMs.remove(p.batchId.toString))
            .foreach(j => phases.update("sinkJob", j.get()))
          ingestPhaseByBatch.add(
            (java.time.Instant.parse(p.timestamp).toEpochMilli, phases))
        }
      }
    }

    // previous conf values are READ here; the mutations themselves
    // happen as the first statements inside the guarded region, so any
    // failure after the first set reaches the finally that restores
    // them (the suite shares this session). Restoring an unmutated key
    // to its just-read previous value is a harmless no-op.
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val chgKey = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prevProv = spark.conf.getOption(provKey)
    val prevChg = spark.conf.getOption(chgKey)
    // AtomicReference, not a plain var: the demo-killer thread swaps in
    // the restarted query, and the main thread must see the NEW
    // reference even when a timed join on the killer expires (a timed
    // join that times out establishes no happens-before edge) — a
    // stale reference would drain/stop the dead pre-restart query and
    // delete the temp tree under the live one
    val ingestQRef =
      new java.util.concurrent.atomic.AtomicReference[org.apache.spark.sql.streaming.StreamingQuery]()
    var viewQ: org.apache.spark.sql.streaming.StreamingQuery = null
    var srv: graft.server.QueryServer = null
    try {
    spark.streams.addListener(listener)
    spark.sparkContext.addSparkListener(sinkJobListener)
    spark.conf.set("spark.sql.shuffle.partitions", streamParts)
    // RocksDB + changelog checkpointing: the session-gate state is
    // workload-bounded (~gap-window × offered-rate keys) but still
    // ~1M live entries at 25k events/s — the default in-heap provider's
    // periodic full-map snapshots turned into GC pressure that degraded
    // every leg over a 300-s run (measured 25k→15k events/s drift);
    // RocksDB keeps state off-heap and changelog checkpointing makes
    // the per-batch commit O(delta), the same config the state-scale
    // benches validated flat to 10^7 keys
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(chgKey, "true")
    // ---- ingest query: the full reference hot path ------------------
    // maxFilesPerTrigger (default 4) = up to that many offered-seconds
    // per batch (one
    // file per tranche): at steady state each 1-s trigger clears one
    // arriving tranche; after a hiccup the query catches up at 4x the
    // offered rate instead of letting backlog ratchet
    // batchId-keyed plain-parquet commits in foreachBatch (no
    // _spark_metadata log): each micro-batch OVERWRITES its own
    // `batch=<id>` dir, so (a) a crash-recovery re-execution of an
    // interrupted batch rewrites its own files instead of appending
    // duplicates — the export sink is EXACTLY-ONCE across hard
    // restarts (ST7 discipline, same as CurationPipeline.commitBatch)
    // — and (b) the retention tick can still drop whole event-time
    // partitions (nested one level under the batch dirs) without
    // corrupting a sink manifest
    def startIngest(): org.apache.spark.sql.streaming.StreamingQuery = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(drop)
      // the ONE shared hot-path definition (IngestPipeline.hotPath) —
      // this harness must measure exactly what ThroughputBench measures
      val q = IngestPipeline.hotPath(stream).toDF()
        .withColumn("date_min", date_format(col("ts"), bucketPattern))
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, id: Long) =>
          val sc = b.sparkSession.sparkContext
          sc.setLocalProperty("graft.demo.sinkBatch", id.toString)
          val t0 = System.nanoTime()
          try b.write.mode("overwrite").partitionBy("date_min")
            .parquet(s"$sink/batch=$id")
          finally {
            sc.setLocalProperty("graft.demo.sinkBatch", null)
            sinkMsByBatch.put(id, (System.nanoTime() - t0) / 1000000L)
          }
        }
        .trigger(Trigger.ProcessingTime("1 second"))
        .start()
      ingestIds.add(q.id)
      q
    }
    ingestQRef.set(startIngest())

    // ---- view-maintenance query (A4 per-second tier) ----------------
    viewQ = StreamingViews.eventsBySecond(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(drop)
          .select(col("src").cast("long").as("user_id"), col("ts")))
      .writeStream
      .option("checkpointLocation", viewCkpt)
      .format("parquet").option("path", viewSink)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()

    // ---- dashboard over live HTTP ------------------------------------
    srv = new graft.server.QueryServer(spark, sfDir) // tier materializes here (warm phase)
    val port = srv.start()
    val http = java.net.http.HttpClient.newHttpClient()
    final case class Sample(atNanos: Long, proc: String, latNanos: Long, ok: Boolean)
    val samples = new ConcurrentLinkedQueue[Sample]()
    def fire(proc: String, params: String): Unit = {
      val uri = java.net.URI.create(
        s"http://127.0.0.1:$port/api/1.0/?Procedure=" +
          java.net.URLEncoder.encode(proc, "UTF-8") +
          "&Parameters=" + java.net.URLEncoder.encode(params, "UTF-8"))
      val t0 = System.nanoTime()
      val ok =
        try {
          // request timeout bounds shutdown: an untimed send parked on
          // a socket the teardown just closed would outlive the join
          // grace and keep the dash thread alive into the next suite
          val resp = http.send(
            java.net.http.HttpRequest.newBuilder(uri)
              .timeout(java.time.Duration.ofSeconds(10)).GET().build(),
            java.net.http.HttpResponse.BodyHandlers.ofString())
          resp.statusCode() == 200 && resp.body().contains("\"status\":1")
        } catch { case _: Exception => false }
      samples.add(Sample(t0, proc, System.nanoTime() - t0, ok))
    }
    val dash = new Thread(() => {
      var next = System.nanoTime()
      while (!stop.get()) {
        DashCalls.foreach { case (p, a) => fire(p, a) }
        next += 1000000000L
        if (next > System.nanoTime()) sleepUntil(next)
        else next = System.nanoTime() // overran the tick: resume at now, don't burst
      }
    }, "demo-dashboard")
    val refreshes = new AtomicLong(0)
    val srvRef = srv
    val refresher = new Thread(() => {
      while (!stop.get()) {
        val deadline = System.nanoTime() + refreshEverySec * 1000000000L
        // pre-warm on THIS thread: the dashboard's warm path then never
        // pays the post-refresh tier recompute (the p99-tail source)
        srvRef.refresh(prewarmHotKeys = true); refreshes.incrementAndGet()
        sleepUntil(deadline)
      }
    }, "demo-refresher")

    // ---- retention tick ----------------------------------------------
    val dropped = new ConcurrentLinkedQueue[String]()
    val retain = new Thread(() => {
      // format the horizon in the SESSION time zone — partition names
      // come from date_format(ts, bucketPattern), which renders in
      // spark.sql.session.timeZone; a hard-coded UTC formatter on a
      // non-UTC session would mis-target by the zone offset (west of
      // UTC it would drop the partition currently being appended)
      val fmt = java.time.format.DateTimeFormatter.ofPattern(bucketPattern)
        .withZone(java.time.ZoneId.of(
          spark.conf.get("spark.sql.session.timeZone",
            java.util.TimeZone.getDefault.getID)))
      while (!stop.get()) {
        sleepUntil(System.nanoTime() + retentionEverySec * 1000000000L)
        if (!stop.get()) {
          val horizonMicros = latestTrancheMicros.get() - keepSeconds * 1000000L
          val minKeep = fmt.format(java.time.Instant.ofEpochSecond(horizonMicros / 1000000L))
          Retention.dropOldPartitionsNested(sink, minKeep).foreach(dropped.add)
        }
      }
    }, "demo-retention")

    feeder.setDaemon(true); dash.setDaemon(true)
    refresher.setDaemon(true); retain.setDaemon(true)
    feeder.start(); dash.start(); refresher.start(); retain.start()

    // ---- timed window -------------------------------------------------
    Thread.sleep(warmSec * 1000L)
    def processed(id: java.util.UUID): Long =
      Option(rowsByQuery.get(id)).map(_.get()).getOrElse(0L)
    // sums over every ingest query instance: a crash-restart's second
    // instance re-executes the interrupted batch, so this OVERCOUNTS
    // by up to one batch of input rows — fine for rate/backlog reads
    // (≤4 offered-seconds of slack); the exactly-once claim rests on
    // exportRows vs the batch replay, never on listener counters
    def processedIngest(): Long = {
      import scala.jdk.CollectionConverters._
      ingestIds.asScala.map(processed).sum
    }
    val rows0 = processedIngest(); val viewRows0 = processed(viewQ.id)
    val landed0 = landed.get(); val refreshes0 = refreshes.get()
    val cacheStats0 = srvRef.cacheStatsByProc
    val windowStart = System.nanoTime()
    val windowStartMs = System.currentTimeMillis()
    // ---- optional mid-window hard kill + restart of the ingest leg --
    val recoverySecRef = new AtomicLong(-1L) // millis, -1 = n/a
    val killer = killIngestAtSec.map { killAt =>
      val th = new Thread(() => {
        sleepUntil(windowStart + killAt.toLong * 1000000000L)
        if (!stop.get()) {
          val tKill = System.nanoTime()
          // HARD stop: interrupts the stream execution thread; the
          // in-flight micro-batch dies before its commit log entry, so
          // recovery re-executes it from the offset WAL — the crash
          // shape the batchId-keyed sink exists to absorb
          try ingestQRef.get().stop() catch { case _: Exception => }
          ingestQRef.set(startIngest())
          // recovery = backlog back under one offered-second (the
          // steady-state bound); catch-up runs at maxFilesPerTrigger
          // tranches/batch = that multiple of the offered rate
          while (!stop.get() &&
                 landed.get() - processedIngest() > offeredEps &&
                 System.nanoTime() - tKill < 120L * 1000000000L)
            Thread.sleep(200)
          recoverySecRef.set((System.nanoTime() - tKill) / 1000000L)
        }
      }, "demo-killer")
      th.setDaemon(true); th.start(); th
    }
    Thread.sleep(durationSec * 1000L)
    val windowEnd = System.nanoTime()
    val windowEndMs = System.currentTimeMillis()
    val rows1 = processedIngest(); val viewRows1 = processed(viewQ.id)
    val landed1 = landed.get(); val refreshes1 = refreshes.get()
    val cacheStats1 = srvRef.cacheStatsByProc

    // ---- optional full drain before shutdown (exactly-once check) ---
    // the r18 driver run failed the exactness assert by ~one tranche
    // with NO evidence of which teardown leg lost it — record (a)
    // whether the drain actually completed (vs deadline expiry / a
    // dead query exiting the loop early) and (b) the restarted
    // instance's terminal exception, so a loaded-box failure is
    // attributable from the artifact instead of unfalsifiable
    var drainedOk = true
    var ingestError = ""
    if (verifyExactness) {
      feederDone.set(true)
      killer.foreach(_.join(150000))
      lastDataMs.set(System.currentTimeMillis())
      val drainDeadline = System.nanoTime() + 300L * 1000000000L
      // drained = the ingest leg has reported only empty triggers for
      // 5 s after the last tranche landed (the file source lists the
      // drop dir every trigger, so silence means nothing left)
      def drained(): Boolean = {
        val q = ingestQRef.get()
        // 5 s without a data-bearing trigger COMPLETION is not enough
        // by itself: lastDataMs only moves when a trigger finishes, so
        // a single catch-up batch running >5 s (4 tranches under a
        // load spike) would read as silence and truncate the drain.
        // Require additionally that no trigger is mid-flight and the
        // most recent completed trigger carried no input.
        System.currentTimeMillis() - lastDataMs.get() >= 5000 &&
          !q.status.isTriggerActive &&
          Option(q.lastProgress).forall(_.numInputRows == 0)
      }
      while (ingestQRef.get().isActive && !drained() &&
             System.nanoTime() < drainDeadline)
        Thread.sleep(250)
      drainedOk = drained()
      ingestError = ingestQRef.get().exception
        .map(e => jsonSafe(Option(e.getMessage).getOrElse(e.toString)).take(300))
        .getOrElse("")
      // never interrupt a mid-flight batch at FINAL stop: an aborted
      // overwrite leaves its batch=<id> dir deleted with no restart
      // left to re-execute it, and the sink read below would blame
      // exactly-once for a teardown artifact. (The mid-run hard kill
      // is the crash under test; this stop is bookkeeping.)
      val graceDeadline = System.nanoTime() + 15L * 1000000000L
      while (ingestQRef.get().isActive &&
             ingestQRef.get().status.isTriggerActive &&
             System.nanoTime() < graceDeadline)
        Thread.sleep(100)
    }

    stop.set(true)
    killer.foreach(_.join(10000))
    // the refresher gets a longer grace: it can be mid-refresh (a real
    // multi-second Spark job under load) and must not still be running
    // on the shared session after the confs are restored below
    Seq(feeder, dash, retain).foreach(_.join(5000))
    refresher.join(30000)
    // drain the backlog so the landed-vs-processed bookkeeping below
    // reflects steady state, not shutdown timing
    Thread.sleep(2000)
    ingestQRef.get().stop(); viewQ.stop(); srv.stop()

    // ---- exactly-once oracle: batch replay of the gap rule ----------
    // over EVERY landed event (the drop dir retains all tranches).
    // Same state machine (SessionDedup.sessionStarts), same ordering
    // ((ts, event_id) per (user, event_type) key) — feeds are stamped
    // with monotone event time, so the batch result is exactly what
    // the drained stream must have exported, duplicates would exceed
    // it and losses would undershoot it.
    val expectedExport: Long = if (!verifyExactness) -1L else {
      import spark.implicits._
      spark.read.parquet(drop)
        .select(col("event_id"), col("src").cast("long"), col("dest"), col("ts"))
        .as[(Long, Long, String, java.sql.Timestamp)]
        .groupByKey(e => (e._2, e._3))
        .mapGroups { (_: (Long, String), it: Iterator[(Long, Long, String, java.sql.Timestamp)]) =>
          val ts = it.map(e => (graft.streaming.SessionDedup.micros(e._4), e._1))
            .toSeq.sorted.map(_._1)
          graft.streaming.SessionDedup.sessionStarts(None, ts)._1
            .count(identity).toLong
        }.reduce(_ + _)
    }

    val wallSec = (windowEnd - windowStart) / 1e9
    val windowSamples = samples.toArray(Array.empty[Sample])
      .filter(s => s.atNanos >= windowStart && s.atNanos < windowEnd)
    def pctMs(lats: Array[Long], p: Double): Double =
      if (lats.isEmpty) 0.0
      else NearestRank(lats, p) / 1e6
    val allLat = windowSamples.map(_.latNanos).sorted
    val perProc = DashCalls.map(_._1).map { proc =>
      val l = windowSamples.filter(_.proc == proc).map(_.latNanos).sorted
      // hit rate from the server's own per-proc counters, windowed by
      // snapshot delta; @-procs never touch the cache → -1 (omitted)
      val (h0, m0) = cacheStats0.getOrElse(proc, (0L, 0L))
      val (h1, m1) = cacheStats1.getOrElse(proc, (0L, 0L))
      val (dh, dm) = (h1 - h0, m1 - m0)
      val hitRate = if (dh + dm <= 0) -1.0 else dh.toDouble / (dh + dm)
      ProcStats(proc, l.length, pctMs(l, 0.50), pctMs(l, 0.99),
        if (l.isEmpty) 0.0 else l.last / 1e6, hitRate)
    }
    // every rate/latency stat below is windowed to [windowStart,
    // windowEnd): batch times by their TRIGGER timestamp (wall-clock
    // ms), errors by their sample stamp, refreshes by counter
    // snapshots. droppedPartitions stays run-cumulative (a mechanics
    // counter — drops only become possible once event time outruns the
    // keep horizon).
    val windowBatches = ingestBatch.toArray(Array.empty[(Long, Long, Long)])
      .filter(b => b._1 >= windowStartMs && b._1 < windowEndMs)
    val batchTimes = windowBatches.map(_._3)
    // per-sub-window slices (only when the window holds >= 2 full
    // slices — a 45-s spec window with the default 150-s slice skips
    // this): batch rows by trigger stamp, dash latencies by sample
    // stamp, so a 900-s endurance run shows drift instead of a mean
    val nSub = if (subWindowSec > 0) durationSec / subWindowSec else 0
    val subWins =
      if (nSub < 2) Nil
      else (0 until nSub).map { i =>
        val loMs = windowStartMs + i.toLong * subWindowSec * 1000
        val hiMs = loMs + subWindowSec * 1000L
        val bt = windowBatches.filter(b => b._1 >= loMs && b._1 < hiMs)
        val loN = windowStart + i.toLong * subWindowSec * 1000000000L
        val hiN = loN + subWindowSec * 1000000000L
        val lat = windowSamples
          .filter(s => s.atNanos >= loN && s.atNanos < hiN).map(_.latNanos).sorted
        SubWin(i * subWindowSec, bt.map(_._2).sum.toDouble / subWindowSec,
          pctMs(lat, 0.99), bt.length, lat.length)
      }
    val exportRows =
      try spark.read.parquet(sink).count() catch { case _: Exception => 0L }
    // recursive data-file count: the listing cost a reader of the
    // batch-keyed sink pays (reported so endurance runs can watch it)
    def countParquet(f: java.io.File): Int = {
      val kids = Option(f.listFiles()).getOrElse(Array.empty)
      kids.count(k => k.isFile && k.getName.endsWith(".parquet")) +
        kids.filter(_.isDirectory).map(countParquet).sum
    }
    val res = DemoResult(
      durationSec = wallSec,
      offeredEps = (landed1 - landed0) / wallSec,
      sustainedEps = (rows1 - rows0) / wallSec,
      landedRows = landed1 - landed0, processedRows = rows1 - rows0,
      backlogRows = math.max(0L, landed.get() - processedIngest()),
      batchMsMean =
        if (batchTimes.isEmpty) 0.0 else batchTimes.sum.toDouble / batchTimes.length,
      batches = batchTimes.length,
      dashCalls = windowSamples.length,
      dashP50Ms = pctMs(allLat, 0.50), dashP99Ms = pctMs(allLat, 0.99),
      dashMaxMs = if (allLat.isEmpty) 0.0 else allLat.last / 1e6,
      dashErrors = windowSamples.count(!_.ok),
      refreshes = (refreshes1 - refreshes0).toInt,
      droppedPartitions = dropped.size(),
      viewRows = viewRows1 - viewRows0,
      exportRows = exportRows,
      perProc = perProc,
      subWindows = subWins,
      restartAtSec = killIngestAtSec.getOrElse(-1),
      recoverySec =
        if (recoverySecRef.get() < 0) -1.0 else recoverySecRef.get() / 1000.0,
      expectedExportRows = expectedExport,
      drainedOk = drainedOk, ingestError = ingestError,
      sinkFiles = countParquet(new java.io.File(sink)),
      loadBefore = loadBefore, loadAfter = BoxLoad.loadavg1m(),
      stealPct = BoxLoad.stealPctSince(steal0),
      ingestPhaseMs = {
        val inWindow = ingestPhaseByBatch
          .toArray(Array.empty[(Long, scala.collection.Map[String, Long])])
          .filter(b => b._1 >= windowStartMs && b._1 < windowEndMs)
        inWindow.flatMap(_._2.keys).distinct.map { k =>
          k -> inWindow.map(_._2.getOrElse(k, 0L)).sum /
            math.max(1, inWindow.length)
        }.toMap
      },
      maxFilesPerTrigger = maxFilesPerTrigger,
      streamParts = streamParts.toInt)
    graft.sources.VersionedStore.deleteRecursive(new java.io.File(base))
    res
    } finally {
      // reached on BOTH paths; everything here is idempotent. On a
      // mid-run failure this stops the daemon threads (their sleeps are
      // sliced on `stop`), tears down queries/server, and restores the
      // session confs — without it, a single query-start failure in the
      // shared suite session would leave shuffle.partitions and the
      // RocksDB provider set for every subsequent suite, the HTTP port
      // bound, and the feeder landing tranches forever.
      stop.set(true)
      Option(ingestQRef.get()).foreach(q => try q.stop() catch { case _: Exception => })
      if (viewQ != null) try viewQ.stop() catch { case _: Exception => }
      if (srv != null) try srv.stop() catch { case _: Exception => }
      spark.streams.removeListener(listener)
      spark.sparkContext.removeSparkListener(sinkJobListener)
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      prevProv match {
        case Some(v) => spark.conf.set(provKey, v); case None => spark.conf.unset(provKey)
      }
      prevChg match {
        case Some(v) => spark.conf.set(chgKey, v); case None => spark.conf.unset(chgKey)
      }
    }
  }

  /** Allocation file declaring the default pool internally FAIR (all
    * demo jobs share it; fair task-slot sharing is what lets a 50-ms
    * dashboard render finish while a 1-s micro-batch is mid-flight). */
  private def fairPoolFile: String = {
    val f = java.nio.file.Files.createTempFile("graft_fair", ".xml")
    java.nio.file.Files.write(f,
      """<?xml version="1.0"?>
        |<allocations>
        |  <pool name="default">
        |    <schedulingMode>FAIR</schedulingMode>
        |    <weight>1</weight>
        |    <minShare>0</minShare>
        |  </pool>
        |</allocations>
        |""".stripMargin.getBytes("UTF-8"))
    f.toString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val durationSec = sys.env.getOrElse("SPARK_GRAFT_DEMO_SEC", "300").toInt
    val offered = sys.env.getOrElse("SPARK_GRAFT_DEMO_EPS", "25000").toInt
    val mft = sys.env.getOrElse("SPARK_GRAFT_DEMO_MFT", "4").toInt
    val parts = sys.env.getOrElse("SPARK_GRAFT_DEMO_PARTS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // FAIR job scheduling: the demo multiplexes micro-batches, tier
      // refreshes, and sub-second dashboard renders on one scheduler —
      // under FIFO a dashboard job queues behind a whole refresh
      // aggregation. NOTE: mode=FAIR alone is not enough — without an
      // allocation file the single "default" pool schedules its jobs
      // FIFO internally, so the pool itself must be declared FAIR.
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.scheduler.allocation.file", fairPoolFile)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // knee mode (SPARK_GRAFT_DEMO_KNEE="25000,40000,60000"): the
    // integrated system's capacity curve — each offered rate runs a
    // full integrated window and reports (offered, sustained, p99,
    // backlog), locating where backlog or latency first breaks; the
    // single-leg ingest curve (BENCH_STREAM) tops out far higher, but
    // a capacity plan needs the SYSTEM number with the dashboard,
    // views, refreshes, and retention riding along
    sys.env.get("SPARK_GRAFT_DEMO_KNEE") match {
      case Some(rates) =>
        val kneeSec = sys.env.getOrElse("SPARK_GRAFT_DEMO_KNEE_SEC", "120").toInt
        val points = rates.split(",").map(_.trim.toInt).map { eps =>
          val r = run(spark, sfDir, durationSec = kneeSec, offeredEps = eps,
            subWindowSec = 60, maxFilesPerTrigger = mft, streamParts = parts)
          println(s"[demo-knee] $eps: ${r.json}")
          r
        }
        val arr = points.map(_.json).mkString("[", ",", "]")
        val json = s"""{"metric":"demo_knee","points":$arr}"""
        java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_DEMO_KNEE.json"),
          (json + "\n").getBytes("UTF-8"))
        println(s"[demo] knee curve written: ${points.map(p =>
          f"${p.offeredEps}%.0f->${p.sustainedEps}%.0f@p99=${p.dashP99Ms}%.0fms").mkString(" ")}")
      case None =>
        val subWin = sys.env.getOrElse("SPARK_GRAFT_DEMO_SUBWIN", "150").toInt
        val res = run(spark, sfDir, durationSec = durationSec,
          offeredEps = offered, subWindowSec = subWin, maxFilesPerTrigger = mft,
          streamParts = parts)
        val out = sys.env.getOrElse("SPARK_GRAFT_DEMO_OUT", "BENCH_DEMO.json")
        java.nio.file.Files.write(java.nio.file.Paths.get(out),
          (res.json + "\n").getBytes("UTF-8"))
        println(s"[demo] ${res.json}")
    }
    spark.stop()
  }
}
