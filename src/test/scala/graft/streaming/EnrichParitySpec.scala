package graft.streaming

import graft.SparkSpec
import graft.sources.EventGen
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._

/** J5 enrichment resolves dims through literal maps: it must equal the
  * broadcast-join formulation it replaced, and the hot path it feeds
  * must plan no broadcast at all. */
class EnrichParitySpec extends SparkSpec {

  /** The former enrichment: three broadcast left joins. */
  private def joinEnrich(events: DataFrame, dests: DataFrame, agents: DataFrame): DataFrame = {
    val d = broadcast(dests.select(col("id").as("dest_id"), col("key").as("dest_key")))
    val r = broadcast(dests.select(col("id").as("referral_id"), col("key").as("referral_key")))
    val a = broadcast(agents.select(col("id").as("agent_id"), col("key").as("agent_key")))
    events
      .join(d, events("dest") === d("dest_key"), "left")
      .join(r, events("referral") === r("referral_key"), "left")
      .join(a, events("agent") === a("agent_key"), "left")
      .drop("dest_key", "referral_key", "agent_key")
  }

  private val UnknownDest = "http://unknown.example/"

  /** Generated events with unknown dest, referral and agent strings and
    * the "" sentinel injected (referral is "" for about half already). */
  private def events(n: Long): DataFrame =
    EventGen.events(spark, n)
      .withColumn("dest", when(col("event_id") % 7 === 0, lit(UnknownDest))
        .when(col("event_id") % 17 === 0, lit("")).otherwise(col("dest")))
      .withColumn("referral", when(col("event_id") % 11 === 0, lit("no-such-referral"))
        .otherwise(col("referral")))
      .withColumn("agent", when(col("event_id") % 13 === 0, lit("UnknownBot/1.0"))
        .when(col("event_id") % 19 === 0, lit("")).otherwise(col("agent")))

  test("enrich equals the broadcast-join formulation, unknowns and the \"\" sentinel included") {
    val ev = events(20000)
    val dests = EventGen.dests(spark)
    val agents = EventGen.agents(spark)
    val got = IngestPipeline.enrich(ev, dests, agents).cache()
    val want = joinEnrich(ev, dests, agents)
    try {
      assert(got.columns.toSeq == want.columns.toSeq)
      assert(got.count() == 20000 && want.count() == 20000)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
      // the cases the parity must cover all occur
      assert(got.filter(col("dest") === UnknownDest).count() > 0)
      assert(got.filter(col("dest") === UnknownDest && col("dest_id").isNotNull).isEmpty)
      assert(got.filter(col("dest") === "").select("dest_id").distinct()
        .collect().map(_.getLong(0)).toSeq == Seq(49L), "the \"\" sentinel is id 49")
      assert(got.filter(col("referral_id").isNull).count() > 0)
      assert(got.filter(col("agent_id").isNull).count() > 0)
    } finally got.unpersist()
  }

  test("a duplicate dim key fails enrich (the reference's unique index)") {
    val ev = events(100)
    val dests = EventGen.dests(spark)
    val e = intercept[IllegalArgumentException] {
      IngestPipeline.enrich(ev, dests.union(dests.limit(1)), EventGen.agents(spark))
    }
    assert(e.getMessage.contains("duplicate"))
  }

  test("the executed hotPath plan has no BroadcastExchange or BroadcastHashJoin") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val in = ckpt("graft_hot_in") + "/data"
    EventGen.events(spark, 4000).write.parquet(in)
    val schema = spark.read.parquet(in).schema
    val q = IngestPipeline.hotPath(spark.readStream.schema(schema).parquet(in)).toDF()
      .writeStream.format("memory").queryName("hot_path_plan").outputMode("append")
      .option("checkpointLocation", ckpt("graft_hot_ckpt")).start()
    try {
      q.processAllAvailable()
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan.toString
      assert(spark.table("hot_path_plan").count() > 0)
      assert(plan.contains("FlatMapGroupsWithState"), plan)
      assert(!plan.contains("BroadcastExchange") && !plan.contains("BroadcastHashJoin"), plan)
    } finally q.stop()
  }
}
