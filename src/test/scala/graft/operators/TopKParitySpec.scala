package graft.operators

import graft.{SparkEntry, SparkSpec, Tables}

/** Per-key top-k written three ways — SQL window, DataFrame window and
  * LATERAL subquery — must agree row for row, and the cut must be a
  * no-op when k exceeds every group. */
class TopKParitySpec extends SparkSpec {

  test("grouped_topk_orders, window_topk_orders and lateral_top_orders return identical rows") {
    val Seq(sqlWindow, dfWindow, lateral) =
      Seq("grouped_topk_orders", "window_topk_orders", "lateral_top_orders")
        .map(q => SparkEntry.queries(q)(spark, sf).collect().map(_.toSeq).toSeq)
    assert(sqlWindow.nonEmpty)
    assert(sqlWindow == dfWindow, "SQL and DataFrame window forms diverge")
    assert(sqlWindow == lateral, "window and LATERAL forms diverge")
  }

  test("k larger than every group returns all rows") {
    // 1000 is the largest k Spark still plans as a WindowGroupLimit;
    // Int.MaxValue takes the plain window filter
    val docs = Tables.documents(spark, sf)
    val n = docs.count()
    for (k <- Seq(1000, Int.MaxValue)) {
      assert(SelectionOps2.exactKPerLang(docs, k).count() == n, s"exactKPerLang k=$k")
      assert(TrainingOps8.domainCapSample(docs, k).count() == n, s"domainCapSample k=$k")
    }
  }
}
