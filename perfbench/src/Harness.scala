package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Command-line options passed down by `run.py`. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      data: String, runDir: String, out: String, rows: Seq[String],
                      tiny: Boolean, dump: Option[String])

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m.get("trace").contains("1"),
      m("data"), m("run-dir"), m("out"),
      m.get("rows").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil),
      m.get("tiny").contains("1"), m.get("dump"))
  }
}

/** Minimal JSON writer for the raw result file (maps, sequences, numbers,
  * strings, booleans). */
object Json {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case a: Array[_] => apply(a.toSeq)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case p: Product => apply(p.productIterator.toSeq)
  }
}

/** Wall clock shared by spans and listener events: epoch milliseconds with
  * sub-millisecond resolution from the monotonic clock. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNano) / 1e6
}

/** In-memory span recorder. A span names its parent either by id or, for
  * spans whose parent is only known later (a Spark job under a
  * micro-batch), by a key another span declares. Written once as JSON. */
final class Spans(val enabled: Boolean) {
  final case class Span(id: Long, parent: String, kind: String, name: String,
                        startMs: Double, endMs: Double, key: String,
                        attrs: Map[String, Any])
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  def nextId(): Long = ids.incrementAndGet()

  def add(id: Long, parent: String, kind: String, name: String, startMs: Double,
          endMs: Double, key: String = "", attrs: Map[String, Any] = Map.empty): Unit =
    if (enabled) buf.add(Span(id, parent, kind, name, startMs, endMs, key, attrs))

  /** Times `body`, recording a span around it; the Spark jobs it submits
    * on this thread are linked to the span through a local property. */
  def around[T](spark: SparkSession, parent: String, kind: String, name: String)(body: => T): T = {
    if (!enabled) body
    else {
      val id = nextId()
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Spans.Prop)
      sc.setLocalProperty(Spans.Prop, id.toString)
      val t0 = Clock.nowMs
      try body
      finally {
        add(id, parent, kind, name, t0, Clock.nowMs)
        sc.setLocalProperty(Spans.Prop, prev)
      }
    }
  }

  def size: Int = buf.size()

  def write(path: String): Unit = {
    val all = buf.asScala.toSeq.sortBy(_.startMs)
    val byKey = all.filter(_.key.nonEmpty).map(s => s.key -> s.id.toString).toMap
    val rows = all.map { s =>
      val parent = if (s.parent.startsWith("key:")) byKey.getOrElse(s.parent.drop(4), "")
                   else s.parent
      Map("id" -> s.id, "parent" -> (if (parent.isEmpty) None else Some(parent.toLong)),
        "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.startMs,
        "dur_ms" -> (s.endMs - s.startMs), "attrs" -> s.attrs)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      Json(Map("spans" -> rows)) + "\n")
  }
}

object Spans { val Prop = "perfbench.span" }

/** Spark engine totals for the traced run, restricted to the jobs a
  * workload counts (`timed`), plus one span per job. */
final class EngineListener(spans: Spans) extends SparkListener {
  private final case class Job(id: Int, startMs: Double, var endMs: Double, stages: Seq[Int],
                               span: String, queryId: String, batchId: String)
  private final class Stage {
    var tasks = 0L; var runMs = 0L; var cpuMs = 0.0; var gcMs = 0L; var schedMs = 0L
    var inBytes = 0L; var shRead = 0L; var shWrite = 0L; var spill = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties).getOrElse(new java.util.Properties())
    jobs.put(e.jobId, Job(e.jobId, e.time.toDouble, e.time.toDouble, e.stageIds,
      Option(p.getProperty(Spans.Prop)).getOrElse(""),
      Option(p.getProperty("sql.streaming.queryId")).getOrElse(""),
      Option(p.getProperty("streaming.sql.batchId")).getOrElse("")))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val s = stages.computeIfAbsent(e.stageId, _ => new Stage)
      s.synchronized {
        val dur = e.taskInfo.duration
        s.tasks += 1; s.runMs += m.executorRunTime; s.cpuMs += m.executorCpuTime / 1e6
        s.gcMs += m.jvmGCTime
        s.schedMs += math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - e.taskInfo.gettingResultTime)
        s.inBytes += m.inputMetrics.bytesRead
        s.shRead += m.shuffleReadMetrics.totalBytesRead
        s.shWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.durations += dur
      }
    }
  }

  /** Totals over the jobs `timed` selects; also emits their spans, linked
    * to the benchmark span that submitted them or to their micro-batch. */
  def totals(timed: (Double, String) => Boolean, batchKey: (String, String) => String)
      : Map[String, Double] = {
    val sel = jobs.values.asScala.toSeq.filter(j => timed(j.startMs, j.span))
    sel.foreach { j =>
      val parent = if (j.span.nonEmpty) j.span
                   else if (j.queryId.nonEmpty) "key:" + batchKey(j.queryId, j.batchId) else ""
      spans.add(spans.nextId(), parent, "spark_job", s"job ${j.id}", j.startMs, j.endMs,
        attrs = Map("stages" -> j.stages.size))
    }
    val st = sel.flatMap(_.stages).distinct.flatMap(id => Option(stages.get(id)))
    def sum(f: Stage => Double): Double = st.map(s => s.synchronized(f(s))).sum
    Map(
      "spark.jobs" -> sel.size.toDouble,
      "spark.stages" -> st.count(_.tasks > 0).toDouble,
      "spark.tasks" -> sum(_.tasks.toDouble),
      "spark.executor_run_ms" -> sum(_.runMs.toDouble),
      "spark.executor_cpu_ms" -> sum(_.cpuMs),
      "spark.gc_ms" -> sum(_.gcMs.toDouble),
      "spark.scheduler_delay_ms" -> sum(_.schedMs.toDouble),
      "spark.input_bytes" -> sum(_.inBytes.toDouble),
      "spark.shuffle_read_bytes" -> sum(_.shRead.toDouble),
      "spark.shuffle_write_bytes" -> sum(_.shWrite.toDouble),
      "spark.spill_bytes" -> sum(_.spill.toDouble),
      "spark.straggler_ms" -> sum { s =>
        if (s.durations.isEmpty) 0.0
        else {
          val d = s.durations.sorted
          (d.last - d((d.length - 1) / 2)).toDouble
        }
      })
  }
}

object Harness {
  /** Order-insensitive result hash: row count plus the sum of per-row
    * 64-bit hashes (as decimal, so the sum cannot overflow). Floating
    * columns hash at 12 significant digits so summation order does not
    * change the hash; nested values hash through their JSON form. */
  def resultHash(df: DataFrame): String = {
    import org.apache.spark.sql.types._
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => format_string("%.11e", c.cast("double"))
        case _: ArrayType | _: MapType | _: StructType => to_json(c)
        case _ => c.cast("string")
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))))
      .collect()(0)
    s"${r.getLong(0)}:${r.get(1)}"
  }

  /** JVM peak resident set (VmHWM) in MB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** CPU seconds this JVM has used so far, all threads. Time the host
    * steals from the guest is not in it, so it holds still when the
    * machine is shared. */
  def cpuS: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** CPU seconds of the threads that do a query's work: the calling
    * thread (planning, eager collects) and the executor's task threads.
    * Compiler and collector threads are left out, so how far the JIT has
    * got does not enter the figure. */
  def workCpuS: Double = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    val me = Thread.currentThread().getId
    val tasks = mx.getThreadInfo(mx.getAllThreadIds).filter(i =>
      i != null && i.getThreadName.startsWith("Executor task launch worker"))
    (mx.getThreadCpuTime(me) + tasks.map(i => math.max(0L, mx.getThreadCpuTime(i.getThreadId))).sum) / 1e9
  }

  /** JVM start → now, in seconds. */
  def sinceJvmStartS: Double =
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def session(o: Opts, live: Boolean): SparkSession = {
    val b = SparkSession.builder().master("local[4]").appName(s"perfbench-${o.workload}")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.runDir}/warehouse")
    if (live) {
      // the integrated run multiplexes micro-batches, tier refreshes and
      // dashboard renders on one scheduler: one FAIR pool, declared FAIR
      // inside as well (mode=FAIR alone schedules the default pool FIFO)
      val f = java.nio.file.Paths.get(o.runDir, "fair.xml")
      java.nio.file.Files.writeString(f,
        """<?xml version="1.0"?>
          |<allocations><pool name="default"><schedulingMode>FAIR</schedulingMode>
          |<weight>1</weight><minShare>0</minShare></pool></allocations>
          |""".stripMargin)
      b.config("spark.scheduler.mode", "FAIR").config("spark.scheduler.allocation.file", f.toString)
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val spans = new Spans(o.trace)
    val live = o.workload.startsWith("live")
    val spark = session(o, live)
    val sessionReadyS = sinceJvmStartS
    val engine = if (o.trace) Some(new EngineListener(spans)) else None
    engine.foreach(spark.sparkContext.addSparkListener)
    val raw: Map[String, Any] =
      try {
        if (live) LiveRun(spark, o, spans, engine, sessionReadyS)
        else QueryRun(spark, o, spans, engine, sessionReadyS)
      } finally spark.stop()
    val traceFile = s"${o.runDir}/trace.json"
    if (o.trace) spans.write(traceFile)
    val all = raw ++ Map("peak_rss_mb" -> peakRssMb, "spans" -> spans.size,
      "trace_file" -> (if (o.trace) traceFile else ""))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o.out), Json(all) + "\n")
  }
}
