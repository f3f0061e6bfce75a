package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import scala.concurrent.Future
import scala.jdk.FutureConverters._

/** Independent Spark actions overlapped from one caller. Each body runs
  * on a daemon thread of its own pool with the caller's Spark local
  * properties (job group, scheduler pool, job tags, SQL execution id)
  * and active session installed for its duration, then restored —
  * Spark's `SQLExecution.withThreadLocalCaptured`, the mechanism its
  * broadcast and subquery execution use. A pooled thread otherwise
  * keeps the properties of the caller that created it, so a later
  * caller's jobs would run under a stale job group and pool. The pool
  * is not Scala's global one: a body blocks on Spark jobs, and the
  * cached pool grows by one thread per body waiting. */
object ConcurrentJobs {
  private lazy val pool = java.util.concurrent.Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-concurrent-jobs")
    t.setDaemon(true)
    t
  }

  def async[T](spark: SparkSession)(body: => T): Future[T] =
    SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], pool)(body).asScala
}
