package graft.streaming

import graft.SparkSpec
import graft.sources.EventGen
import org.apache.spark.sql.functions._

/** The live topology end to end on three small tranches: the export is
  * the gap rule's replay, the per-second view adds up to what landed, the
  * dashboard answers over HTTP, retention drops expired buckets, and
  * stopping puts the shared session's settings back. */
class LivePipelineSpec extends SparkSpec {

  test("export, view, dashboard and retention on three tranches; stop restores the session") {
    val per = 2000
    val run = ckpt("graft_live")
    val cfg = LiveConfig(sf, run, stateParts = 2,
      bucketPattern = LiveConfig.SecondBuckets, retentionEverySec = 1, keepSeconds = 5)
    // tranches 0-2 carry event seconds 0-2; tranche 3 is a small clock
    // tranche at second 12 that closes the view's seconds (5-s
    // watermark) and moves the retention horizon past them
    val stage = s"$run/stage"
    EventGen.events(spark, 3L * per + 10, seed = 7L)
      .withColumn("tranche", expr(s"CAST(least(event_id DIV $per, 3) AS INT)"))
      .withColumn("ts", expr(
        s"timestamp_micros(1700000000000000L + IF(tranche = 3, 12, tranche) * 1000000L + (event_id % $per) * 500L)"))
      .drop("ts_micros")
      .repartition(col("tranche"))
      .write.partitionBy("tranche").parquet(stage)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(cfg.dropDir))
    def land(t: Int): Unit =
      new java.io.File(s"$stage/tranche=$t").listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(cfg.dropDir, f"t$t%05d_${f.getName}")))
    def waitFor(what: String)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!cond && System.nanoTime() < deadline) Thread.sleep(200)
      assert(cond, s"timed out waiting for $what")
    }

    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val partsBefore = spark.conf.get("spark.sql.shuffle.partitions")
    val provBefore = spark.conf.getOption(provKey)
    land(0)
    val live = LivePipeline.start(spark, cfg)
    try {
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "2")
      land(1); land(2)
      live.ingest.processAllAvailable()

      val replay = spark.read.parquet(cfg.dropDir)
        .selectExpr("lag(ts) OVER (PARTITION BY src, dest ORDER BY ts, event_id) AS prev", "ts")
        .where("prev IS NULL OR unix_micros(ts) - unix_micros(prev) > 30000000")
        .count()
      assert(replay > 0)
      assert(spark.read.parquet(cfg.sinkDir).count() == replay)

      val resp = java.net.http.HttpClient.newHttpClient().send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(
          s"http://127.0.0.1:${live.port}/api/1.0/?Procedure=GetTopUsers&Parameters=" +
            java.net.URLEncoder.encode("[60,10]", "UTF-8"))).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200 && resp.body().contains("\"status\":1"), resp.body())

      land(3)
      val landedPerSec = spark.read.parquet(cfg.dropDir)
        .groupBy(date_trunc("second", col("ts")).as("s")).count()
        .collect().map(r => r.getTimestamp(0).getTime -> r.getLong(1)).toMap
      // the view's sink directory only exists once its first batch commits
      def viewTotals: Map[Long, Long] = scala.util.Try(spark.read.parquet(cfg.viewSinkDir)
        .groupBy("second_ts").agg(sum("count_values"))
        .collect().map(r => r.getTimestamp(0).getTime -> r.getLong(1)).toMap).getOrElse(Map.empty)
      waitFor("the view to close seconds 0-2")(viewTotals.size >= 3)
      val closed = viewTotals
      assert(closed.keys.toSeq.sorted.take(3).forall(s => closed(s) == per), closed)
      assert(closed.forall { case (s, n) => landedPerSec.get(s).contains(n) }, closed)

      waitFor("a retention drop")(live.droppedPartitions.nonEmpty)
      assert(live.droppedPartitions.forall(_.startsWith("batch=")))
    } finally {
      live.stop()
      live.stop()
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == partsBefore)
    assert(spark.conf.getOption(provKey) == provBefore)
  }
}
