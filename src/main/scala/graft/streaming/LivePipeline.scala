package graft.streaming

import graft.server.QueryServer
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, date_format}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.StructType
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicReference}
import scala.jdk.CollectionConverters._

/** Settings of one live topology. `dataDir` holds the tables the serving
  * tier reads; `runDir` holds the drop directory the file source lists
  * (`drop/`) and everything the topology writes: the export sink, the
  * per-second view and both checkpoints. The rest are the values callers
  * tune today: event-time files per trigger, state (and shuffle)
  * partitions, the export bucket pattern, and the retention tick's
  * interval and keep horizon in seconds of event time. */
final case class LiveConfig(
    dataDir: String,
    runDir: String,
    maxFilesPerTrigger: Int = 4,
    stateParts: Int = 8,
    bucketPattern: String = LiveConfig.MinuteBuckets,
    retentionEverySec: Int = 30,
    keepSeconds: Int = 120) {
  def dropDir: String = s"$runDir/drop"
  def sinkDir: String = s"$runDir/sink"
  def viewSinkDir: String = s"$runDir/view_sink"
}

object LiveConfig {
  val MinuteBuckets = "yyyy-MM-dd-HH-mm"
  val SecondBuckets = "yyyy-MM-dd-HH-mm-ss"
}

/** One serving-tier refresh: wall-clock ms at completion, and duration. */
final case class Refresh(endMs: Long, ms: Long)

/** The reference's operating mode as one topology (`run.sh:144-159`
  * starts ingest, the nibbler and the dashboard together):
  *
  *  - the ingest query runs the full hot path ([[IngestPipeline.hotPath]]:
  *    3 dim lookups → k-means scoring → 30-s session gate) over the
  *    drop-directory file source and exports the session openers;
  *  - a second query maintains the per-second view (A4,
  *    [[StreamingViews.eventsBySecond]]);
  *  - a [[QueryServer]] serves the dashboard procedures over HTTP, and a
  *    refresher re-materializes its tier every [[RefreshEverySec]];
  *  - a retention tick drops export buckets older than the keep horizon
  *    (the nibbler's chunked deletes as O(partitions) directory drops —
  *    `nibbler/src/nibbler/ContinuousDeleter.java:94-172`).
  *
  * Session-scoped settings are set by [[start]] and put back by
  * [[LiveHandles.stop]], so a shared session comes back as it was. */
object LivePipeline {
  val RefreshEverySec = 15

  /** Start the topology. The drop directory must already hold at least
    * one event file: the file source takes its schema from it. If any
    * part fails to start, what did start is stopped again. */
  def start(spark: SparkSession, cfg: LiveConfig): LiveHandles = {
    val h = new LiveHandles(spark, cfg)
    try { h.open(); h }
    catch { case t: Throwable => h.stop(); throw t }
  }
}

/** What a caller reads from a running topology, and its off switch. */
final class LiveHandles private[streaming] (spark: SparkSession, cfg: LiveConfig) {
  private val provKey = "spark.sql.streaming.stateStore.providerClass"
  private val chgKey = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
  private val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
  private val prevProv = spark.conf.getOption(provKey)
  private val prevChg = spark.conf.getOption(chgKey)

  private val stopping = new AtomicBoolean(false)
  private val ingestRef = new AtomicReference[StreamingQuery]()
  @volatile private var viewQ: StreamingQuery = null
  @volatile private var srv: QueryServer = null
  @volatile private var srvPort = -1
  @volatile private var schema: StructType = null
  @volatile private var refresher: Thread = null
  @volatile private var retention: Thread = null
  private val refreshLog = new ConcurrentLinkedQueue[Refresh]()
  private val dropped = new ConcurrentLinkedQueue[String]()
  // newest event time the ingest query has read: the retention clock
  private val latestEventMs = new AtomicLong(Long.MinValue)

  // Sink cost inside addBatch: "sinkWrite" is a batch's whole write wall,
  // "sinkJob" the wall of the Spark jobs it ran, found by a local
  // property (not setJobGroup: the stream thread's job group is what a
  // hard stop cancels by). sinkWrite - sinkJob ≈ driver-side commit work.
  private val SinkBatchProp = "graft.live.sinkBatch"
  private val sinkWriteMs = new ConcurrentHashMap[java.lang.Long, java.lang.Long]()
  private val sinkJobMs = new ConcurrentHashMap[Long, AtomicLong]()
  private val sinkJobListener = new SparkListener {
    private val starts = new ConcurrentHashMap[Integer, (Long, Long)]()
    override def onJobStart(js: SparkListenerJobStart): Unit =
      Option(js.properties).flatMap(p => Option(p.getProperty(SinkBatchProp)))
        .foreach(b => starts.put(js.jobId, (b.toLong, js.time)))
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(starts.remove(je.jobId)).foreach { case (b, t0) =>
        sinkJobMs.computeIfAbsent(b, _ => new AtomicLong()).addAndGet(je.time - t0)
      }
  }
  private val eventTimeListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (Option(ingestRef.get()).exists(_.id == e.progress.id))
        Option(e.progress.eventTime.get("max")).foreach { m =>
          latestEventMs.accumulateAndGet(java.time.Instant.parse(m).toEpochMilli, math.max)
        }
  }

  /** The live ingest instance (the newest after a restart). Its id is
    * the checkpoint's, so a restarted instance keeps it. */
  def ingest: StreamingQuery = ingestRef.get()
  def ingestId: UUID = ingest.id
  def viewId: UUID = viewQ.id
  def port: Int = srvPort
  def cacheStatsByProc: Map[String, (Long, Long)] = srv.cacheStatsByProc
  /** Sink cost of one micro-batch, each part once it is known. */
  def sinkMs(batchId: Long): Map[String, Long] =
    Option(sinkWriteMs.get(batchId)).map("sinkWrite" -> _.longValue).toMap ++
      Option(sinkJobMs.get(batchId)).map("sinkJob" -> _.get())
  def refreshes: Seq[Refresh] = refreshLog.asScala.toSeq
  /** `batch=<id>/<bucket>` names the retention tick has dropped. */
  def droppedPartitions: Seq[String] = dropped.asScala.toSeq

  private[streaming] def open(): Unit = {
    spark.streams.addListener(eventTimeListener)
    spark.sparkContext.addSparkListener(sinkJobListener)
    spark.conf.set("spark.sql.shuffle.partitions", cfg.stateParts.toString)
    // RocksDB + changelog checkpointing: ~1M live session keys at 25k
    // events/s made the in-heap provider's full snapshots a GC spiral
    // (25k→15k events/s over 300 s); off-heap state with O(delta) commits
    // holds flat.
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(chgKey, "true")
    schema = spark.read.parquet(cfg.dropDir).schema
    ingestRef.set(startIngest())
    viewQ = StreamingViews.eventsBySecond(
        source().select(col("src").cast("long").as("user_id"), col("ts")))
      .writeStream
      .option("checkpointLocation", s"${cfg.runDir}/view_ckpt")
      .format("parquet").option("path", cfg.viewSinkDir)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    srv = new QueryServer(spark, cfg.dataDir) // the tier materializes here
    srvPort = srv.start()

    refresher = new Thread(() => {
      while (!stopping.get()) {
        val t0 = System.nanoTime()
        // pre-warm on THIS thread: the dashboard's warm path then never
        // pays the post-refresh tier recompute (the p99-tail source)
        srv.refresh(prewarmHotKeys = true)
        refreshLog.add(Refresh(System.currentTimeMillis(), (System.nanoTime() - t0) / 1000000L))
        sleepUntil(t0 + LivePipeline.RefreshEverySec * 1000000000L)
      }
    }, "live-refresher")
    retention = new Thread(() => {
      // bucket names come from date_format(ts, bucketPattern), which
      // renders in the session time zone: format the horizon there too
      val fmt = java.time.format.DateTimeFormatter.ofPattern(cfg.bucketPattern)
        .withZone(java.time.ZoneId.of(
          spark.conf.get("spark.sql.session.timeZone", java.util.TimeZone.getDefault.getID)))
      while (!stopping.get()) {
        sleepUntil(System.nanoTime() + cfg.retentionEverySec * 1000000000L)
        val latest = latestEventMs.get()
        if (!stopping.get() && latest != Long.MinValue) {
          val minKeep = fmt.format(java.time.Instant.ofEpochMilli(latest - cfg.keepSeconds * 1000L))
          Retention.dropOldPartitionsNested(cfg.sinkDir, minKeep).foreach(dropped.add)
        }
      }
    }, "live-retention")
    Seq(refresher, retention).foreach { t => t.setDaemon(true); t.start() }
  }

  private def source(): DataFrame = spark.readStream.schema(schema)
    .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger).parquet(cfg.dropDir)

  // each micro-batch OVERWRITES its own `batch=<id>` dir (no sink log),
  // so a re-executed batch after a crash rewrites its files instead of
  // duplicating them, and retention can drop whole event-time buckets
  // nested under the batch dirs
  private def startIngest(): StreamingQuery =
    IngestPipeline.hotPath(source())(spark).toDF()
      .withColumn("date_min", date_format(col("ts"), cfg.bucketPattern))
      .writeStream
      .option("checkpointLocation", s"${cfg.runDir}/ckpt")
      .foreachBatch { (b: DataFrame, id: Long) =>
        val sc = b.sparkSession.sparkContext
        sc.setLocalProperty(SinkBatchProp, id.toString)
        val t0 = System.nanoTime()
        try b.write.mode("overwrite").partitionBy("date_min").parquet(s"${cfg.sinkDir}/batch=$id")
        finally {
          sc.setLocalProperty(SinkBatchProp, null)
          sinkWriteMs.put(id, (System.nanoTime() - t0) / 1000000L)
        }
      }
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()

  /** Sleep toward a deadline in ≤1-s slices, returning as soon as the
    * topology stops, so shutdown never waits out a long tick. */
  private def sleepUntil(deadlineNanos: Long): Unit = {
    var remMs = (deadlineNanos - System.nanoTime()) / 1000000L
    while (!stopping.get() && remMs > 0) {
      Thread.sleep(math.min(1000L, remMs))
      remMs = (deadlineNanos - System.nanoTime()) / 1000000L
    }
  }

  /** Hard-stop the ingest query and start it again from its checkpoint.
    * The stop interrupts the stream execution thread, so the in-flight
    * micro-batch dies before its commit and recovery re-executes it from
    * the offset log: the crash shape the batch-keyed sink absorbs. */
  def restartIngest(): Unit = synchronized {
    if (!stopping.get()) {
      try ingestRef.get().stop() catch { case _: Exception => }
      ingestRef.set(startIngest())
    }
  }

  /** Stop everything and put the session settings back. Idempotent. */
  def stop(): Unit = synchronized {
    if (!stopping.getAndSet(true)) {
      def quietly(f: => Unit): Unit = try f catch { case _: Exception => }
      // the refresher gets a longer grace: it can be mid-refresh (a
      // multi-second Spark job under load) and must not still run on
      // the session after its settings are put back
      Option(retention).foreach(_.join(5000))
      Option(refresher).foreach(_.join(30000))
      Option(ingestRef.get()).foreach(q => quietly(q.stop()))
      Option(viewQ).foreach(q => quietly(q.stop()))
      Option(srv).foreach(s => quietly(s.stop()))
      spark.streams.removeListener(eventTimeListener)
      spark.sparkContext.removeSparkListener(sinkJobListener)
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      prevProv.fold(spark.conf.unset(provKey))(spark.conf.set(provKey, _))
      prevChg.fold(spark.conf.unset(chgKey))(spark.conf.set(chgKey, _))
    }
  }
}
