package graft

import org.apache.spark.sql.SparkSession

/** The one session config for the tools that plan registry queries
  * (`Bench`, `Verify`, `ExplainTool`, `ProfileTool`), so a plan dump,
  * a profile and a timing all describe the plan that `Verify` checks:
  * the graft extension, a UTC session time zone, one shuffle partition
  * per core, no UI. `SPARK_GRAFT_CPUS` sets the core count; each tool
  * passes its own default. Tool-specific settings go on top. */
object ToolSession {
  def apply(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
