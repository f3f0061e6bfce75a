package graft

import graft.functions.{DotProductI64, IntToIp, IpToInt, SimHashAgg, VecSumAgg}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point: deploying with
  * `spark.sql.extensions=graft.GraftExtensions` gives every session the
  * engine's function library at creation time — no per-session
  * registerAll calls. This is the injection mechanism the builder brief
  * lists for engine extensions (SURVEY.md §4; the reference's analogue
  * is the catalog-wide `IMPORT CLASS events.Utils`, db/ddl.sql:156).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("ip_to_int"),
      new ExpressionInfo(classOf[IpToInt].getName, "ip_to_int"),
      es => IpToInt(es.head)))
    e.injectFunction((
      FunctionIdentifier("int_to_ip"),
      new ExpressionInfo(classOf[IntToIp].getName, "int_to_ip"),
      es => IntToIp(es.head)))
    e.injectFunction((
      FunctionIdentifier("dot_i64"),
      new ExpressionInfo(classOf[DotProductI64].getName, "dot_i64"),
      es => DotProductI64(es(0), es(1))))
    e.injectFunction((
      FunctionIdentifier("simhash_agg"),
      new ExpressionInfo(classOf[SimHashAgg].getName, "simhash_agg"),
      es => SimHashAgg(es.head).toAggregateExpression()))
    e.injectFunction((
      FunctionIdentifier("vec_sum"),
      new ExpressionInfo(classOf[VecSumAgg].getName, "vec_sum"),
      es => VecSumAgg(es.head).toAggregateExpression()))
  }
}
