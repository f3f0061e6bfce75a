package perfbench

import graft.sources.EventGen
import graft.streaming.{IngestPipeline, Retention, StreamingViews}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.jdk.CollectionConverters._

/** The reference operating mode, open loop: one tranche of seeded events
  * lands per second on a fixed schedule while the ingest hot path, the
  * per-second view, a 1 Hz dashboard over HTTP, the serving-tier refresher
  * and the retention tick all run at once. After the steady window a fixed
  * burst lands at once and the run measures how fast it drains.
  *
  * The streaming glue (sources, sinks, triggers, state store settings) is
  * owned here and copied from the program's DemoBench, so a change to the
  * program's layers moves these figures and a change to the glue cannot
  * hide in the program. */
object LiveRun {
  /** The dashboard's 1 Hz call set: five procedures plus @Statistics. */
  val DashCalls: Seq[(String, String)] = Seq(
    "GetTopUsers" -> "[60,10]",
    "GetTopDests" -> "[60,10]",
    "GetTopSources" -> "[10]",
    "GetTopSrcDests" -> "[10]",
    "GetEventsByCluster" -> "[60]",
    "@Statistics" -> "[\"PROCEDUREPROFILE\"]")

  val GenBaseMicros = 1700000000000000L
  val RefreshEverySec = 15
  val RetentionEverySec = 30
  val KeepSeconds = 120
  val BucketPattern = "yyyy-MM-dd-HH-mm"

  final case class Batch(id: Long, startMs: Double, durMs: Double, rows: Long,
                         phases: Map[String, Long], stateCommitMs: Long,
                         stateRows: Long, stateMem: Long)

  /** Progress events of one streaming query, keyed by its id. */
  final class Progress extends StreamingQueryListener {
    val batches = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, ConcurrentLinkedQueue[Batch]]()
    def of(q: StreamingQuery): Seq[Batch] =
      Option(batches.get(q.id)).map(_.asScala.toSeq.sortBy(_.id)).getOrElse(Nil)
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val so = p.stateOperators.toSeq
      batches.computeIfAbsent(p.id, _ => new ConcurrentLinkedQueue[Batch]()).add(Batch(
        p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        d.getOrElse("triggerExecution", 0L).toDouble, p.numInputRows, d,
        so.map(_.commitTimeMs).sum, so.map(_.numRowsTotal).sum, so.map(_.memoryUsedBytes).sum))
    }
  }

  def apply(spark: SparkSession, o: Opts, spans: Spans, engine: Option[EngineListener],
            sessionReadyS: Double): Map[String, Any] = {
    implicit val sp: SparkSession = spark
    val per = if (o.tiny) 2000 else 20000
    val warm = 3
    val window = o.seconds
    val burst = if (o.tiny) 2 else 12
    val nTranches = 1 + warm + window + burst
    val base = o.runDir
    val stage = s"$base/stage"; val drop = s"$base/drop"; val sink = s"$base/sink"
    val ckpt = s"$base/ckpt"; val viewSink = s"$base/view_sink"; val viewCkpt = s"$base/view_ckpt"

    // ---- set-up: pre-generate every tranche (one file each), fingerprint
    // the set, then start the streams and the server. The feeder only
    // moves files during the run, so landing is exact and load-independent.
    val tsScale = math.max(1L, 1000000L / per)
    // generated in whole tranches per task (local[4] splits the id range
    // into 4 equal slices), so every tranche is one file without a shuffle
    val generated = (nTranches + 3) / 4 * 4
    EventGen.events(spark, generated.toLong * per, seed = 1000L + o.seed)
      .withColumn("ts", expr(
        s"timestamp_micros(${GenBaseMicros}L + (event_id DIV ${per}L) * 1000000L + (event_id % ${per}L) * ${tsScale}L)"))
      .drop("ts_micros")
      .withColumn("tranche", expr(s"CAST(event_id DIV ${per}L AS INT)"))
      .write.mode("overwrite").partitionBy("tranche").parquet(stage)
    val generatedAtS = Harness.sinceJvmStartS
    val trancheSet = Harness.resultHash(spark.read.parquet(stage))
    val canary = Harness.resultHash(EventGen.events(spark, 20000L, seed = 0L).drop("ts_micros"))
    Files.createDirectories(Paths.get(drop))
    val landedRows = new AtomicLong(0)
    // the file source orders new files by modification time; a moved file
    // keeps the time it was generated at, so stamp it with a time that
    // rises with the tranche index (a burst must not land out of order)
    val landedMtime = new AtomicLong(0)
    def land(t: Int): Unit = {
      new java.io.File(s"$stage/tranche=$t").listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          val dest = Paths.get(drop, f"t$t%05d_${f.getName}")
          Files.move(f.toPath, dest)
          dest.toFile.setLastModified(
            landedMtime.updateAndGet(prev => math.max(prev + 1, System.currentTimeMillis())))
        }
      landedRows.addAndGet(per)
    }
    land(0) // the stream needs a schema
    val schema = spark.read.parquet(drop).schema

    val progress = new Progress
    spark.streams.addListener(progress)
    // glue settings copied from DemoBench: 8 state partitions, RocksDB
    // with changelog checkpointing, maxFilesPerTrigger 4, 1 s trigger,
    // sink partitioned by event-time minute
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    val sinkWriteMs = new java.util.concurrent.ConcurrentHashMap[java.lang.Long, java.lang.Double]()
    val sinkEndMs = new java.util.concurrent.ConcurrentHashMap[java.lang.Long, java.lang.Double]()
    // batch-keyed sink: each micro-batch overwrites its own batch=<id>
    // directory, so a replayed batch cannot duplicate rows
    val ingest = IngestPipeline.hotPath(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 4).parquet(drop)).toDF()
      .withColumn("date_min", date_format(col("ts"), BucketPattern))
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) =>
        val t0 = System.nanoTime()
        b.write.mode("overwrite").partitionBy("date_min").parquet(s"$sink/batch=$id")
        sinkWriteMs.put(id, (System.nanoTime() - t0) / 1e6)
        sinkEndMs.put(id, Clock.nowMs)
        ()
      }
      .trigger(Trigger.ProcessingTime("1 second")).start()
    val view = StreamingViews.eventsBySecond(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 4).parquet(drop)
          .select(col("src").cast("long").as("user_id"), col("ts")))
      .writeStream.option("checkpointLocation", viewCkpt)
      .format("parquet").option("path", viewSink).outputMode("append")
      .trigger(Trigger.ProcessingTime("1 second")).start()
    val streamsAtS = Harness.sinceJvmStartS
    val srv = new graft.server.QueryServer(spark, o.data)
    val port = srv.start()
    val setupS = Harness.sinceJvmStartS

    // ---- the run ---------------------------------------------------
    val stop = new AtomicBoolean(false)
    // the 1 s trigger fires on whole wall-clock seconds; tranches land
    // 800 ms past one, so every run meets the trigger grid at the same phase
    val wallMs = System.currentTimeMillis()
    val feedStartMs = Clock.nowMs + ((wallMs / 1000L + 2) * 1000L + 800L - wallMs)
    def due(t: Int): Double = feedStartMs + (t - 1) * 1000.0
    def sleepUntil(ms: Double): Unit = {
      var rem = ms - Clock.nowMs
      while (!stop.get() && rem > 0) { Thread.sleep(math.min(200L, math.ceil(rem).toLong)); rem = ms - Clock.nowMs }
    }
    val landedAt = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
    val burstFirst = 1 + warm + window
    // (CPU seconds, cache hits, cache misses) when the steady window opens
    val atWindow = new java.util.concurrent.atomic.AtomicReference((0.0, 0L, 0L))
    val feeder = new Thread(() => {
      (1 until burstFirst).foreach { t =>
        sleepUntil(due(t))
        if (t == 1 + warm) atWindow.set((Harness.cpuS, srv.cacheStats._1, srv.cacheStats._2))
        if (!stop.get()) { land(t); landedAt.put(t, Clock.nowMs) }
      }
      sleepUntil(due(burstFirst))
      if (!stop.get()) (burstFirst until nTranches).foreach { t => land(t); landedAt.put(t, Clock.nowMs) }
    }, "perfbench-feeder")

    val http = java.net.http.HttpClient.newBuilder()
      .version(java.net.http.HttpClient.Version.HTTP_1_1).build()
    val dashSamples = new ConcurrentLinkedQueue[Map[String, Any]]()
    val dashRoot = spans.nextId()
    val dash = new Thread(() => {
      // six calls per second, each due at its own slot; a call that
      // starts late because the previous one overran is timed from its
      // slot, so waits caused by stalls are counted
      var k = 0
      while (!stop.get()) {
        val dueMs = feedStartMs + k * 1000.0 / DashCalls.size
        sleepUntil(dueMs)
        if (!stop.get()) {
          val (proc, params) = DashCalls(k % DashCalls.size)
          val startMs = Clock.nowMs
          val uri = java.net.URI.create(s"http://127.0.0.1:$port/api/1.0/?Procedure=" +
            java.net.URLEncoder.encode(proc, "UTF-8") + "&Parameters=" +
            java.net.URLEncoder.encode(params, "UTF-8"))
          val ok = try {
            val r = http.send(java.net.http.HttpRequest.newBuilder(uri)
              .timeout(java.time.Duration.ofSeconds(20)).GET().build(),
              java.net.http.HttpResponse.BodyHandlers.ofString())
            r.statusCode() == 200 && r.body().contains("\"status\":1")
          } catch { case _: Exception => false }
          val endMs = Clock.nowMs
          dashSamples.add(Map("proc" -> proc, "due_ms" -> dueMs, "lat_ms" -> (endMs - dueMs),
            "late_ms" -> (startMs - dueMs), "ok" -> ok))
          spans.add(spans.nextId(), dashRoot.toString, "dashboard_call", proc, startMs, endMs,
            attrs = Map("due_ms" -> dueMs, "ok" -> ok))
        }
        k += 1
      }
    }, "perfbench-dashboard")

    val refreshMs = new ConcurrentLinkedQueue[Double]()
    val refreshFailures = new AtomicLong(0)
    val refresher = new Thread(() => {
      var n = 0
      while (!stop.get()) {
        val next = feedStartMs + (n + 1) * RefreshEverySec * 1000.0
        val t0 = Clock.nowMs
        try spans.around(spark, "", "refresh", s"refresh $n")(srv.refresh(prewarmHotKeys = true))
        catch { case _: Exception => refreshFailures.incrementAndGet() }
        refreshMs.add(Clock.nowMs - t0)
        n += 1
        sleepUntil(next)
      }
    }, "perfbench-refresher")

    val retentionMs = new ConcurrentLinkedQueue[Double]()
    val dropped = new AtomicLong(0)
    val retention = new Thread(() => {
      val fmt = java.time.format.DateTimeFormatter.ofPattern(BucketPattern)
        .withZone(java.time.ZoneOffset.UTC)
      var n = 0
      while (!stop.get()) {
        // first tick half an interval in, so even a short run ticks once
        sleepUntil(feedStartMs + (n + 0.5) * RetentionEverySec * 1000.0)
        if (!stop.get()) {
          val latest = (0 until nTranches).filter(landedAt.containsKey).lastOption.getOrElse(0)
          val horizonS = (GenBaseMicros / 1000000L) + latest - KeepSeconds
          val t0 = Clock.nowMs
          dropped.addAndGet(Retention.dropOldPartitionsNested(sink,
            fmt.format(java.time.Instant.ofEpochSecond(horizonS))).size)
          val t1 = Clock.nowMs
          retentionMs.add(t1 - t0)
          spans.add(spans.nextId(), "", "retention_tick", s"tick $n", t0, t1)
        }
        n += 1
      }
    }, "perfbench-retention")

    val threads = Seq(feeder, dash, refresher, retention)
    threads.foreach { t => t.setDaemon(true); t.start() }
    feeder.join()
    // drained: both queries have consumed every landed row and are idle
    def consumed(q: StreamingQuery): Long = progress.of(q).map(_.rows).sum
    val drainDeadline = Clock.nowMs + (if (o.tiny) 60000 else 90000)
    def drained: Boolean = Seq(ingest, view).forall(q =>
      consumed(q) == landedRows.get() && !q.status.isTriggerActive)
    while (!drained && Clock.nowMs < drainDeadline && ingest.isActive && view.isActive)
      Thread.sleep(100)
    val drainedOk = drained
    val cpuS = Harness.cpuS - atWindow.get()._1
    val (hits, misses) = srv.cacheStats
    val drainedAtS = Harness.sinceJvmStartS
    stop.set(true)
    threads.foreach(_.join(60000))
    ingest.stop(); view.stop(); srv.stop()
    val stoppedAtS = Harness.sinceJvmStartS
    spark.streams.removeListener(progress)
    spark.conf.set("spark.sql.shuffle.partitions", "4")

    // ---- tranche → micro-batch, from the checkpoint's own logs. The file
    // source numbers its log entries itself (a micro-batch without new
    // files takes no entry); the offset log says up to which entry each
    // micro-batch read.
    def logFiles(dir: String): Seq[java.io.File] =
      Option(new java.io.File(dir).listFiles()).toSeq.flatten.filter(_.isFile)
    def read(f: java.io.File) = new String(Files.readAllBytes(f.toPath), "UTF-8")
    val sourceEntry = "\"path\":\"[^\"]*/t(\\d{5})_[^\"]*\".*?\"batchId\":(\\d+)".r
    val trancheEntry: Map[Int, Long] = logFiles(s"$ckpt/sources/0").flatMap(f =>
      sourceEntry.findAllMatchIn(read(f)).map(m => m.group(1).toInt -> m.group(2).toLong)).toMap
    val readUpTo: Seq[(Long, Long)] = logFiles(s"$ckpt/offsets")
      .filter(_.getName.forall(_.isDigit)).flatMap { f =>
        "\"logOffset\":(\\d+)".r.findFirstMatchIn(read(f)).map(m => f.getName.toLong -> m.group(1).toLong)
      }.sortBy(_._1)
    val trancheBatch: Map[Int, Long] = trancheEntry.flatMap { case (t, entry) =>
      readUpTo.find(_._2 >= entry).map(t -> _._1)
    }
    val ingestBatches = progress.of(ingest)
    val viewBatches = progress.of(view)
    // a batch commits its offsets right after its sink write returns
    val commitMs: Map[Long, Double] = ingestBatches.flatMap(b =>
      Option(sinkEndMs.get(b.id)).map(e => b.id -> (e + b.phases.getOrElse("commitOffsets", 0L)))).toMap
    val lags = (1 + warm until burstFirst).map(t =>
      trancheBatch.get(t).flatMap(commitMs.get).map(_ - due(t)).getOrElse(-1.0))
    val burstDoneMs = (burstFirst until nTranches)
      .map(t => trancheBatch.get(t).flatMap(commitMs.get).getOrElse(Double.NaN)).max
    val windowStartMs = due(1 + warm)
    val burstMs = due(burstFirst)
    // catch-up: from the start of the first micro-batch that read a burst
    // tranche to the end of the last one (the batch in flight when the
    // burst lands is not part of it), and the rows those batches read
    val burstIds = (burstFirst until nTranches).flatMap(trancheBatch.get)
    val catchUp = ingestBatches.filter(b => burstIds.nonEmpty &&
      b.id >= burstIds.min && b.id <= burstIds.max)
    val drainS = if (catchUp.isEmpty) Double.NaN
      else (catchUp.map(b => b.startMs + b.durMs).max - catchUp.map(_.startMs).min) / 1e3

    // batch spans: every micro-batch of both queries; Spark jobs link to
    // them by (query id, batch id)
    val ingestRoot = spans.nextId(); val viewRoot = spans.nextId()
    def batchKey(q: String, b: String) = s"$q/$b"
    Seq(ingest -> ingestRoot, view -> viewRoot).foreach { case (q, root) =>
      progress.of(q).filter(_.rows > 0).foreach { b =>
        spans.add(spans.nextId(), root.toString, "micro_batch", s"${q.id} batch ${b.id}",
          b.startMs, b.startMs + b.durMs, key = batchKey(q.id.toString, b.id.toString),
          attrs = Map("rows" -> b.rows))
      }
    }
    spans.add(ingestRoot, "", "stream", "ingest", feedStartMs, burstDoneMs)
    spans.add(viewRoot, "", "stream", "view", feedStartMs, burstDoneMs)
    spans.add(dashRoot, "", "dashboard", "dashboard", feedStartMs, burstDoneMs)
    val engineTotals = engine.map(_.totals(
      (startMs, _) => startMs >= windowStartMs && startMs <= burstDoneMs, batchKey))
      .getOrElse(Map.empty)

    // ---- output checks, outside every timed window ------------------
    val landed = spark.read.parquet(drop)
    landed.createOrReplaceTempView("landed")
    // the 30-s gap rule, replayed in SQL without the program's session
    // code: an event opens a session when it is first for its (src,dest)
    // key or more than 30 s after the previous one, in (ts, event_id) order
    val replay = spark.sql(
      """SELECT count(*) FROM (
        |  SELECT ts, lag(ts) OVER (PARTITION BY src, dest ORDER BY ts, event_id) AS prev
        |  FROM landed)
        |WHERE prev IS NULL OR unix_micros(ts) - unix_micros(prev) > 30000000""".stripMargin)
      .collect()(0).getLong(0)
    val exported = spark.read.parquet(sink).count()
    val viewTotals = spark.read.parquet(viewSink).groupBy("second_ts")
      .agg(sum("count_values").as("n")).collect().map(r => r.getTimestamp(0).getTime -> r.getLong(1)).toMap
    val landedPerSec = landed.groupBy(date_trunc("second", col("ts")).as("s")).count()
      .collect().map(r => r.getTimestamp(0).getTime -> r.getLong(1)).toMap
    val viewMismatch = viewTotals.count { case (s, n) => !landedPerSec.get(s).contains(n) }
    // closed seconds: all but the last few, which the 5-s watermark holds open
    val viewClosedOk = viewTotals.size >= landedPerSec.size - 8

    val checkedAtS = Harness.sinceJvmStartS
    val sinkFiles = Files.walk(Paths.get(sink)).iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".parquet"))
    def pick(bs: Seq[Batch], fromMs: Double, toMs: Double) =
      bs.filter(b => b.rows > 0 && b.startMs >= fromMs && b.startMs <= toMs)
    val inWindow = pick(ingestBatches, windowStartMs, burstMs)
    Map("kind" -> "live", "setup_s" -> setupS,
      "session_s" -> sessionReadyS,
      "phase_at_s" -> Map("generated" -> generatedAtS, "streams" -> streamsAtS,
        "drained" -> drainedAtS, "stopped" -> stoppedAtS, "checked" -> checkedAtS),
      "offered_eps" -> per, "window_s" -> window, "burst_tranches" -> burst,
      "tranche_lag_ms" -> lags, "cpu_s" -> cpuS, "burst_drain_s" -> drainS,
      "catchup_eps" -> catchUp.map(_.rows).sum / drainS,
      // the burst's own rows at that rate: the catch-up batches may also
      // carry the last steady tranches, so raw batch time would vary
      "catchup_s" -> burst.toDouble * per * drainS / catchUp.map(_.rows).sum,
      "feeder_late_ms" -> (1 until nTranches).flatMap(t => Option(landedAt.get(t)).map(_ - due(math.min(t, burstFirst)))),
      "dash" -> dashSamples.asScala.toSeq.filter(s =>
        s("due_ms").asInstanceOf[Double] >= windowStartMs && s("due_ms").asInstanceOf[Double] <= burstDoneMs),
      "cache_hits" -> (hits - atWindow.get()._2), "cache_misses" -> (misses - atWindow.get()._3),
      "refresh_ms" -> refreshMs.asScala.toSeq, "refresh_failures" -> refreshFailures.get(),
      "retention_ms" -> retentionMs.asScala.toSeq, "retention_dropped" -> dropped.get(),
      "ingest_batches" -> inWindow.map(b => Map("dur_ms" -> b.durMs, "rows" -> b.rows,
        "phases" -> b.phases, "state_commit_ms" -> b.stateCommitMs,
        "sink_write_ms" -> Option(sinkWriteMs.get(b.id)).map(_.doubleValue).getOrElse(0.0))),
      "ingest_state_rows" -> ingestBatches.lastOption.map(_.stateRows).getOrElse(0L),
      "ingest_state_mem_bytes" -> ingestBatches.lastOption.map(_.stateMem).getOrElse(0L),
      "view_batches" -> pick(viewBatches, windowStartMs, burstMs).map(_.durMs),
      "view_state_rows" -> viewBatches.lastOption.map(_.stateRows).getOrElse(0L),
      "busy_window_ms" -> (burstMs - windowStartMs),
      "sink_files" -> sinkFiles.size, "sink_bytes" -> sinkFiles.map(p => Files.size(p)).sum,
      "checks" -> Map("drained" -> drainedOk, "export_rows" -> exported, "replay_rows" -> replay,
        "view_seconds" -> viewTotals.size, "landed_seconds" -> landedPerSec.size,
        "view_mismatch" -> viewMismatch, "view_closed_ok" -> viewClosedOk,
        "lags_mapped" -> (!lags.contains(-1.0) && !drainS.isNaN)),
      "fingerprints" -> Map("tranche_set" -> trancheSet, "canary" -> canary,
        "landed_rows" -> landedRows.get()),
      "engine" -> engineTotals)
  }
}
