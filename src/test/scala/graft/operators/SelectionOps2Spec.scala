package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Exact-k stratified sample + round-robin interleave invariants
  * (values are the oracle's job; these pin the semantics that make
  * them SAMPLERS/SCHEDULES, not just queries). */
class SelectionOps2Spec extends SparkSpec {

  test("sample_exact_k: exactly k per stratum, content-deterministic under reshard") {
    val docs = Tables.documents(spark, sf)
    val got = SelectionOps2.exactKPerLang(docs, 3).collect()
    val perLang = got.groupBy(_.getString(0)).view.mapValues(_.length).toMap
    val langSizes = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    langSizes.foreach { case (lang, n) =>
      assert(perLang.getOrElse(lang, 0) == math.min(3L, n).toInt,
        s"stratum $lang: want min(3, $n)")
    }
    // reshard invariance: membership is a pure content function
    val reshard = SelectionOps2.exactKPerLang(docs.repartition(7, col("doc_id")), 3)
      .collect()
    assert(got.map(_.toSeq).toSeq == reshard.map(_.toSeq).toSeq,
      "sample must be partitioning-independent")
  }

  test("sample_exact_k cuts each stratum to k before the shuffle (partial WindowGroupLimit)") {
    val df = SelectionOps2.exactKPerLang(Tables.documents(spark, sf), 3)
    assert(graft.TopKPlan.limitsBeforeShuffle(df),
      s"whole strata shuffle:\n${df.queryExecution.executedPlan}")
  }

  test("interleave_order: positions are a permutation and sources alternate") {
    val out = SelectionOps2.interleaveOrder(Tables.documents(spark, sf)).collect()
    val pos = out.map(_.getLong(2))
    assert(pos.distinct.length == pos.length, "positions must be unique")
    val n = out.length
    val bySrc = out.groupBy(_.getString(1))
    val nSrc = bySrc.size
    // per source: positions ≡ sidx (mod S) and strictly increasing
    bySrc.foreach { case (_, rows) =>
      val ps = rows.map(_.getLong(2)).sorted
      assert(ps.map(_ % nSrc).distinct.length == 1,
        "a source's positions must share one residue class (round-robin slots)")
      // consecutive docs of the same source are exactly S apart -> no
      // adjacent same-source pair anywhere in the consumed order
      ps.sliding(2).foreach { case Array(a, b) => assert(b - a == nSrc); case _ => }
    }
    // the whole schedule is dense at the front: every position below
    // (min stratum size × S) is occupied
    val minRank = bySrc.values.map(_.length).min.toLong
    val dense = pos.count(_ < minRank * nSrc)
    assert(dense == (minRank * nSrc).toInt, s"front of schedule has holes")
    assert(n == pos.length)
  }
}
