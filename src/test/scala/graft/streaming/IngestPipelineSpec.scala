package graft.streaming

import graft.{SparkSpec, Tables}
import graft.ml.{MLOps, ModelSwap}
import org.apache.spark.sql.functions._

/** Hot-path ingest pieces: dim enrichment (J5), model-swap scoring
  * (J3/ST8), retention (ST6). */
class IngestPipelineSpec extends SparkSpec {

  test("enrich resolves string keys to dim ids via literal dim maps, unknowns null") {
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("event_type").as("dest"),
        col("event_type").as("referral"),
        concat(lit("agent-"), col("event_type")).as("agent"))
    val dests = ev.select(col("dest").as("key")).distinct()
      .orderBy("key").withColumn("id", monotonically_increasing_id())
    // agents dim misses one key on purpose → that key's id stays null
    val agents = ev.select(col("agent").as("key")).distinct()
      .filter(col("key") =!= "agent-error")
      .orderBy("key").withColumn("id", monotonically_increasing_id())
    val enriched = IngestPipeline.enrich(ev, dests, agents)
    assert(enriched.count() == ev.count())
    assert(enriched.filter(col("dest_id").isNull).count() == 0)
    assert(enriched.filter(col("referral_id").isNull).count() == 0)
    val errRows = enriched.filter(col("agent") === "agent-error")
    assert(errRows.count() > 0 && errRows.filter(col("agent_id").isNotNull).count() == 0)
    // ids actually resolve consistently: same key ⇒ same id
    assert(enriched.select("dest", "dest_id").distinct().count()
      == dests.count())
  }

  test("scoreBatch against swapped model: argmin matches assignNearest; swap is visible") {
    val ev = Tables.events(spark, sf)
      .withColumn("f1", (col("user_id") % 100).cast("double"))
      .withColumn("f2", col("value"))
    val centersV1 = (0 until 20).map(i => i -> (i * 5.0, i * 12.5)).toMap
    val swap = new ModelSwap(centersV1)
    val got = IngestPipeline.scoreBatch(ev, swap)
      .select("event_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = MLOps.assignNearest(Tables.events(spark, sf), MLOps.literalCenters(spark))
      .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    assert(got == want)
    // atomic swap: a one-center model sends everything to that center
    swap.swap(Map(7 -> (0.0, 0.0)))
    val after = IngestPipeline.scoreBatch(ev, swap)
      .select("cluster").distinct().collect().map(_.getInt(0)).toSeq
    assert(after == Seq(7))
  }

  test("scoreBatch with empty model yields null cluster (reference: -1/null before first train)") {
    val ev = Tables.events(spark, sf)
      .withColumn("f1", (col("user_id") % 100).cast("double"))
      .withColumn("f2", col("value"))
    val swap = new ModelSwap(Map.empty)
    val out = IngestPipeline.scoreBatch(ev, swap)
    assert(out.filter(col("cluster").isNotNull).count() == 0)
  }

  test("retention: deleteAfterDate drops exactly the rows at/before cutoff") {
    val ev = Tables.events(spark, sf)
    val cutoff = ev.agg(expr("(min(unix_micros(ts)) * 3 + max(unix_micros(ts))) div 4"))
      .collect()(0).getLong(0)
    val total = ev.count()
    val (kept, deleted) = Retention.deleteAfterDate(ev, cutoff)
    assert(kept.count() + deleted == total)
    assert(kept.filter(unix_micros(col("ts")) <= cutoff).count() == 0)
    assert(deleted > 0)
  }

  test("retention: dropOldPartitions removes only buckets below the horizon") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ret").toFile
    Seq("2024-01-01-00", "2024-01-01-01", "2024-01-02-05").foreach { b =>
      val d = new java.io.File(dir, s"date_hour=$b"); d.mkdirs()
      java.nio.file.Files.writeString(new java.io.File(d, "part-0.parquet").toPath, "x")
    }
    val dropped = Retention.dropOldPartitions(dir.getAbsolutePath, "2024-01-01-01")
    assert(dropped == Seq("date_hour=2024-01-01-00"))
    assert(dir.listFiles().map(_.getName).sorted.toSeq ==
      Seq("date_hour=2024-01-01-01", "date_hour=2024-01-02-05"))
  }
}
