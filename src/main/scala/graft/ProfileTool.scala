package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev tool: per-query overhead profile —
  * `runMain graft.ProfileTool <sfDir> <query> [query ...]` (or `ALL`).
  *
  * For each query, splits the Bench-style wall time into CONSTRUCTION
  * (the registry closure — driver-side collects, index builds, ML fits
  * all happen here) vs EXECUTION (toRdd.count over the final plan),
  * and counts Spark jobs / stages / tasks triggered in each phase.
  * Queries whose seconds are mostly jobs×latency (not data) show up as
  * high job counts; queries paying planning/codegen show as high
  * construction time with zero construction jobs. */
object ProfileTool {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names =
      if (args.length > 1 && args(1) != "ALL") args.tail.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = ToolSession(defaultCpus = 32)
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); tasks.addAndGet(sc.stageInfo.numTasks.toLong)
      }
    })
    def snap(): (Int, Int, Long) = (jobs.get, stages.get, tasks.get)
    // warm-up (same as Bench)
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    operators.AnnIndex.ensureAll(spark, sfDir)
    println(f"${"query"}%-28s  cons_s  exec_s  cjobs cstg  ejobs estg  etasks")
    names.foreach { n =>
      try {
        val (j0, s0, t0) = snap()
        val c0 = System.nanoTime()
        val df = SparkEntry.queries(n)(spark, sfDir)
        val c1 = System.nanoTime()
        val (j1, s1, _) = snap()
        df.queryExecution.toRdd.count()
        val e1 = System.nanoTime()
        val (j2, s2, t2) = snap()
        println(f"$n%-28s ${(c1 - c0) / 1e9}%7.2f ${(e1 - c1) / 1e9}%7.2f  ${j1 - j0}%5d ${s1 - s0}%4d  ${j2 - j1}%5d ${s2 - s1}%4d  ${t2 - t0}%6d")
      } catch { case e: Throwable => println(f"$n%-28s FAILED: ${e.getMessage}") }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      spark.catalog.clearCache()
      System.gc()
    }
    spark.stop()
  }
}
