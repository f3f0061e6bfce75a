package graft.streaming

import graft.ml.ModelSwap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's hot-path ingest (SURVEY.md §3.1, `NewEvent.java:50-79`)
  * re-expressed as a streaming pipeline:
  *
  *  1. enrichment — string→id dimension resolution as map lookups
  *     against literal dim maps (J5; the reference does 3 unique-index
  *     point lookups per event);
  *  2. scoring — nearest-centroid assignment against the current model
  *     (J3/M2), read per micro-batch from a [[graft.ml.ModelSwap]] so a
  *     retrain swap is atomic at batch granularity (ST8, LoadDsa
  *     semantics — `db/ddl.sql:31-43`);
  *  3. dual sink — every event to the events sink; only session-opening
  *     events (30-s gap, [[SessionDedup]]) to the export sink (F6/ST7).
  *
  * Scale: enrichment is a row-local lookup in a literal map (dims are
  * small by design, §1.1: 50 dests, 75 agents); scoring is a map-side
  * expression against ≤20 literal centers; the only shuffle is the
  * session-dedup keyed exchange.
  */
object IngestPipeline {

  /** J5: resolve string keys to dimension ids. `dests`/`agents` carry
    * (id: long, key: string) columns with unique keys — the reference's
    * unique index; a repeated key fails the `require` (a join would have
    * duplicated the event). Each dim is collected ONCE, when the query
    * is defined, into a literal map, so a micro-batch runs no broadcast
    * job and no join — the dims are frozen at that point, as the
    * reference loads them once at startup (`LogGenerator.loadUrls`).
    * Unknown strings keep null ids, as the reference inserts -1/null. */
  def enrich(events: DataFrame, dests: DataFrame, agents: DataFrame): DataFrame = {
    val destIds = idMap(dests, "dests")
    val agentIds = idMap(agents, "agents")
    events
      .withColumn("dest_id", try_element_at(destIds, col("dest")))
      .withColumn("referral_id", try_element_at(destIds, col("referral")))
      .withColumn("agent_id", try_element_at(agentIds, col("agent")))
  }

  private def idMap(dim: DataFrame, name: String): Column = {
    val rows = dim.collect()
    val keys = rows.map(_.getAs[String]("key"))
    require(keys.distinct.length == keys.length, s"$name dim has duplicate keys")
    map_from_arrays(lit(keys), lit(rows.map(_.getAs[Number]("id").longValue)))
  }

  /** The full reference hot path over a raw generated-event stream:
    * 3 dim lookups (J5) → k-means scoring against the
    * literal center set (J3/M2) → enriched-shape projection → 30-s
    * session gate (J4/ST4). ONE definition, run by the live topology
    * ([[LivePipeline]]) and by the benchmark's live harness, so no
    * measurement of "the reference hot path" runs a private copy. */
  def hotPath(stream: DataFrame)(implicit spark: SparkSession)
      : org.apache.spark.sql.Dataset[SessionDedup.RichEv] = {
    import spark.implicits._
    val enriched = enrich(stream,
      graft.sources.EventGen.dests(spark), graft.sources.EventGen.agents(spark))
    val scored = enriched.withColumn("cluster",
      graft.ml.MLOps.scoreExpr(graft.ml.MLOps.literalCenterSeq,
        pmod(col("src").cast("double"), lit(100.0)),
        col("value").cast("double")).cast("int"))
    val rich = scored.select(
      col("event_id"), col("src").cast("long").as("user_id"),
      col("dest").as("event_type"), col("ts"),
      col("value").cast("double").as("value"),
      col("dest_id"), col("referral_id"), col("agent_id"), col("cluster"))
      .as[SessionDedup.RichEv]
    SessionDedup.dedupRich(rich)
  }

  /** J3/M2 scoring expression against the model currently held by
    * `swap` — call inside foreachBatch so each micro-batch reads one
    * consistent version. Features (f1, f2) score against (c1, c2). */
  def scoreBatch(batch: DataFrame, swap: ModelSwap): DataFrame = {
    val centers = swap.current
    if (centers.isEmpty) batch.withColumn("cluster", lit(null).cast("int"))
    else {
      // argmin over ≤20 centers as a fused projection — shared with the
      // batch scoring queries (graft.ml.MLOps.scoreExpr)
      val seq = centers.toSeq.map { case (id, (c1, c2)) => (id.toLong, c1, c2) }
      batch.withColumn("cluster",
        graft.ml.MLOps.scoreExpr(seq, col("f1"), col("f2")).cast("int"))
    }
  }
}

/** ST6 retention: the reference nibbler's chunked TTL deletes
  * (`/root/reference/nibbler/src/nibbler/ContinuousDeleter.java:94-172`,
  * `DeleteAfterDate.java:65-95`) become (a) watermark-driven state
  * eviction inside the streaming ops and (b) dropping whole time
  * partitions of the at-rest sink — deterministic and O(partitions),
  * not O(rows), which is the design the chunked delete was
  * approximating.
  */
object Retention {
  /** Batch form of DeleteAfterDate: rows at/older than the cutoff are
    * dropped; returns (kept, deletedCount) like the proc's return value. */
  def deleteAfterDate(events: DataFrame, cutoffMicros: Long): (DataFrame, Long) = {
    val kept = events.filter(unix_micros(col("ts")) > cutoffMicros)
    val deleted = events.filter(unix_micros(col("ts")) <= cutoffMicros).count()
    (kept, deleted)
  }

  /** Drop on-disk time partitions older than the horizon. Expects a
    * sink directory partitioned by `date_hour=yyyy-MM-dd-HH` (or any
    * lexicographically ordered bucket column). Listing and deletes go
    * through the Hadoop FS of the sink's scheme ([[graft.sources.Dfs]])
    * — at 100 TB the sink is shared storage, not the driver's disk. */
  def dropOldPartitions(sinkDir: String, minKeepBucket: String): Seq[String] = {
    import graft.sources.Dfs
    val dropped = Dfs.list(Dfs.path(sinkDir))
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .filter(s => s.getPath.getName.split("=", 2)(1) < minKeepBucket)
    dropped.foreach(s => Dfs.delete(s.getPath))
    dropped.map(_.getPath.getName).sorted
  }

  /** TTL drop for a BATCH-KEYED exactly-once sink
    * (`batch=<id>/date_bucket=…/part-*.parquet`, the replay-idempotent
    * foreachBatch layout): descends one level into each `batch=` dir
    * and drops the time-bucket subdirs older than the horizon, then
    * removes batch dirs whose every time bucket has aged out — so the
    * directory count a reader must list stays bounded by the retention
    * window, not by total batches ever committed. Safe against a
    * concurrent replay: recovery only re-executes the LAST uncommitted
    * batch, whose buckets are by construction newer than any horizon
    * that could empty its dir. Returns dropped `batch/bucket` names. */
  def dropOldPartitionsNested(sinkDir: String, minKeepBucket: String): Seq[String] = {
    import graft.sources.Dfs
    val batchDirs = Dfs.list(Dfs.path(sinkDir))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
    batchDirs.flatMap { b =>
      val kids = Dfs.list(b.getPath)
      val buckets = kids.filter(s => s.isDirectory && s.getPath.getName.contains("="))
      val hit = buckets.filter(s => s.getPath.getName.split("=", 2)(1) < minKeepBucket)
      hit.foreach(s => Dfs.delete(s.getPath))
      // nonEmpty guard: a freshly-created batch dir (write in flight,
      // buckets not yet renamed out of _temporary) must not be swept
      if (buckets.nonEmpty && hit.length == buckets.length)
        Dfs.delete(b.getPath) // only markers left
      hit.map(h => s"${b.getPath.getName}/${h.getPath.getName}")
    }.sorted
  }
}
