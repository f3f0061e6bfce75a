package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Batch query mix: the seed permutes the frozen row list; passes over it
  * repeat until the measuring time is spent (at least two full passes).
  * Each row is timed as construction (building the DataFrame, including
  * any eager work the operator does) plus execution of its own physical
  * plan (`toRdd.count`, as the program's Bench does). */
object QueryRun {
  def apply(spark: SparkSession, o: Opts, spans: Spans, engine: Option[EngineListener],
            sessionReadyS: Double): Map[String, Any] = {
    val registry = SparkEntry.queries
    val missing = o.rows.filterNot(registry.contains)
    require(missing.isEmpty, s"rows missing from the registry: ${missing.mkString(",")}")
    val order = new scala.util.Random(o.seed).shuffle(o.rows)
    val sc = spark.sparkContext

    // ---- set-up: warm the session as the program's Bench does, so
    // executor, codegen and file-index start-up is not billed to a row
    spark.range(1000000).selectExpr("sum(id)").collect()
    graft.Tables.lineitem(spark, o.data).count()
    val setupS = Harness.sinceJvmStartS
    // result dumps for the DuckDB cross-check carry naive timestamps
    if (o.dump.isDefined) spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")

    def freeBlocks(): Unit = {
      sc.getPersistentRDDs.values.foreach(_.unpersist(true))
      spark.catalog.clearCache()
      System.gc()
    }

    val samples = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val hashes = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    val groupedTopK = scala.collection.mutable.Set.empty[String]
    // ---- check pass, untimed: builds each row and checks its result hash;
    // it also brings JIT-compiled code and file metadata to the state the
    // timed passes measure, whatever the seed's row order
    val checkStart = System.nanoTime()
    order.foreach { name =>
      try {
        val df = registry(name)(spark, o.data)
        hashes(name) = Harness.resultHash(df)
        if (o.trace && df.queryExecution.executedPlan.toString.contains("GroupedTopK"))
          groupedTopK += name
        o.dump.foreach(d => df.coalesce(1).write.mode("overwrite").parquet(s"$d/$name"))
      } catch {
        case e: Throwable =>
          failures += s"$name: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"
      }
      freeBlocks()
    }
    val checkPassS = (System.nanoTime() - checkStart) / 1e9

    // ---- timed passes ------------------------------------------------
    val t0 = System.nanoTime()
    val budgetNs = o.seconds * 1000000000L
    var pass = 0
    while (pass < 2 || System.nanoTime() - t0 < budgetNs) {
      val passSpan = spans.nextId()
      val passStart = Clock.nowMs
      order.foreach { name =>
        val rowSpan = spans.nextId()
        val rowStart = Clock.nowMs
        val cpu0 = Harness.workCpuS
        val c0 = System.nanoTime()
        var c1 = c0
        val ok = try {
          val df = spans.around(spark, rowSpan.toString, "construct", name) {
            registry(name)(spark, o.data)
          }
          c1 = System.nanoTime()
          spans.around(spark, rowSpan.toString, "execute", name) {
            df.queryExecution.toRdd.count()
          }
          true
        } catch {
          case e: Throwable =>
            failures += s"$name: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"
            false
        }
        val c2 = System.nanoTime()
        val cpu2 = Harness.workCpuS
        spans.add(rowSpan, passSpan.toString, "query", name, rowStart, Clock.nowMs)
        samples += Map("pass" -> pass, "row" -> name, "ok" -> ok,
          "construct_s" -> (c1 - c0) / 1e9, "execute_s" -> (c2 - c1) / 1e9,
          "cpu_s" -> (cpu2 - cpu0), "persisted_rdds" -> sc.getPersistentRDDs.size)
        freeBlocks()
      }
      spans.add(passSpan, "", "pass", s"pass $pass", passStart, Clock.nowMs)
      pass += 1
    }
    val engineTotals = engine.map(_.totals((_, span) => span.nonEmpty, (_, _) => ""))
      .getOrElse(Map.empty)
    o.dump.foreach { d =>
      val q = SparkEntry.oracleSql.filter { case (k, _) => o.rows.contains(k) }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$d/oracle_sql.json"), Json(q))
    }
    Map("kind" -> "queries", "setup_s" -> setupS, "session_s" -> sessionReadyS,
      "check_pass_s" -> checkPassS,
      "order" -> order, "passes" -> pass, "samples" -> samples.toSeq,
      "hashes" -> hashes, "failures" -> failures.toSeq,
      "grouped_topk_rows" -> groupedTopK.toSeq.sorted, "engine" -> engineTotals)
  }
}
