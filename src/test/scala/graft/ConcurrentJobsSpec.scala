package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Queries that overlap independent jobs on pooled threads must run
  * every one of those jobs under the caller's job group, also when the
  * threads were first used by an earlier caller with another group. */
class ConcurrentJobsSpec extends SparkSpec {

  test("overlapped construction jobs carry the caller's job group on every build") {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(j.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    // a job under `group` whose start event, once seen, means every
    // earlier job's start event has been delivered too
    def marker(group: String): Unit = {
      sc.setJobGroup(group, group)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains(group) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains(group), s"listener never saw the $group marker job")
    }
    try {
      for (q <- Seq("heavy_hitters_cms", "dq_check_report")) {
        groups.clear()
        sc.setJobGroup("a", "first build")
        SparkEntry.queries(q)(spark, sf)
        marker("mark")
        sc.setJobGroup("b", "second build")
        SparkEntry.queries(q)(spark, sf)
        marker("flush")
        val seen = groups.asScala.toSeq
        val second = seen.slice(seen.indexOf("mark") + 1, seen.indexOf("flush"))
        assert(second.nonEmpty, s"$q ran no construction jobs")
        assert(second.forall(_ == "b"),
          s"$q: second build's jobs ran under groups ${second.mkString(",")}")
      }
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
