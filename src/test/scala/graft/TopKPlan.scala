package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.{Final, Partial, WindowGroupLimitExec}

/** The plan Spark gives the per-key `row_number() <= k` idiom: a final
  * WindowGroupLimit above the hash exchange and a partial one below
  * it, so each task ships at most k rows per key instead of the whole
  * group. */
object TopKPlan {
  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case other => other.children
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: children(p).flatMap(nodes)

  /** The nodes below `p` down to (and including) the first exchanges. */
  private def untilExchange(p: SparkPlan): Seq[SparkPlan] =
    children(p).flatMap {
      case e: ShuffleExchangeExec => Seq(e)
      case c => c +: untilExchange(c)
    }

  /** Runs `df` (so AQE settles on its final plan) and returns whether
    * some final WindowGroupLimit reads a shuffle whose map side ends in
    * a partial WindowGroupLimit on the same key and limit. */
  def limitsBeforeShuffle(df: DataFrame): Boolean = {
    df.queryExecution.toRdd.count()
    nodes(df.queryExecution.executedPlan).exists {
      case f: WindowGroupLimitExec if f.mode == Final =>
        untilExchange(f).collect { case e: ShuffleExchangeExec => e }.exists { e =>
          (e +: untilExchange(e)).exists {
            case p: WindowGroupLimitExec => p.mode == Partial &&
              p.limit == f.limit && p.partitionSpec == f.partitionSpec
            case _ => false
          }
        }
      case _ => false
    }
  }
}
