package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import java.nio.file.{Files, Paths, StandardCopyOption}

/** A4 keeps ONE state row per open second (a user → count map), not one
  * per (second, user). Fed one file per trigger under RocksDB, with
  * seconds straddling micro-batches and counts above 1, it must emit
  * exactly the rows of the per-(second, user) `count` formulation while
  * its state never holds more rows than there are open seconds. */
class EventsBySecondStateSpec extends SparkSpec {

  private val BaseMs = 1700000000000L
  private val PerFile = 500
  private val NumFiles = 12
  // one event every 7 ms: a 500-event file spans 3.5 s, so seconds
  // straddle files; 40 users make most (second, user) counts exceed 1
  private def tsMs(i: Int): Long = BaseMs + i * 7L
  private def user(i: Int): Long = (i * 31L) % 40
  private def second(i: Int): Long = Math.floorDiv(tsMs(i), 1000L)

  /** The former formulation: one state row per (second, user). */
  private def perKey(stream: DataFrame): DataFrame =
    stream.withWatermark("ts", "5 seconds")
      .groupBy(window(col("ts"), "1 second"), col("user_id"))
      .agg(count(lit(1)).as("count_values"))
      .select(col("window.start").as("second_ts"), col("user_id"), col("count_values"))

  test("append under RocksDB: same rows as per-(second, user) count, state ≤ open seconds") {
    import spark.implicits._
    val in = ckpt("graft_ebs_in")
    (0 until NumFiles).foreach { f =>
      val tmp = ckpt("graft_ebs_tmp") + "/f"
      (f * PerFile until (f + 1) * PerFile)
        .map(i => (i.toLong, user(i), new java.sql.Timestamp(tsMs(i))))
        .toDF("event_id", "user_id", "ts").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dest = Paths.get(in, f"f$f%02d.parquet")
      Files.move(part.toPath, dest, StandardCopyOption.ATOMIC_MOVE)
      dest.toFile.setLastModified(1000000000000L + f * 1000L)
    }
    assert((1 until NumFiles).exists(f => second(f * PerFile - 1) == second(f * PerFile)),
      "some second must straddle two files")
    val schema = spark.read.parquet(in).schema

    def run(name: String, view: DataFrame => DataFrame)
        : (Array[String], Array[StreamingQueryProgress]) = {
      val q = view(spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in))
        .writeStream.outputMode("append").format("memory").queryName(name)
        .option("checkpointLocation", ckpt(name))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      (spark.table(name).collect().map(_.toString).sorted, q.recentProgress)
    }

    withRocksDb {
      val (got, progress) = run("ebs_map_state", StreamingViews.eventsBySecond)
      val (want, keyedProgress) = run("ebs_key_state", perKey)
      assert(progress.count(_.numInputRows > 0) == NumFiles, "one file per trigger")
      assert(want.nonEmpty && got.sameElements(want),
        s"${got.length} rows vs ${want.length} from the per-key formulation")
      assert(spark.table("ebs_key_state").filter(col("count_values") > 1).count() > 0,
        "counts must exceed 1")

      // seconds the watermark has not closed after each batch: the state
      // after batch b covers the events read so far whose second ends
      // after that batch's watermark
      def openSeconds(p: StreamingQueryProgress, rowsRead: Long): Long = {
        val wm = java.time.Instant.parse(p.eventTime.get("watermark")).toEpochMilli
        (0 until rowsRead.toInt).map(second).distinct.count(s => (s + 1) * 1000L > wm)
      }
      val read = progress.map(_.numInputRows).scanLeft(0L)(_ + _).tail
      progress.zip(read).foreach { case (p, n) =>
        assert(p.stateOperators(0).numRowsTotal <= openSeconds(p, n),
          s"batch ${p.batchId}: ${p.stateOperators(0).numRowsTotal} state rows")
      }
      val last = progress.filter(_.numInputRows > 0).last
      val lastOpen = openSeconds(last, read(progress.indexOf(last)))
      assert(last.stateOperators(0).numRowsTotal <= lastOpen)
      // the per-key form holds a row per (second, user) of the same seconds
      assert(keyedProgress.filter(_.numInputRows > 0).last
        .stateOperators(0).numRowsTotal > lastOpen)
    }
  }
}
