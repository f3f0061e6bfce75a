package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Round-9 curation tranche invariants (exact values are the DuckDB
  * oracle's job — these pin the semantics and the physical plans). */
class TrainingOps8Spec extends SparkSpec {

  private def q(name: String) = TrainingOps8.queries(name)(spark, sf)

  test("domain_cap_sample: min(k, |source|) survivors per source, reshard-invariant") {
    val docs = Tables.documents(spark, sf)
    val got = TrainingOps8.domainCapSample(docs, 2).collect()
    val perSrc = got.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    val srcSizes = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    srcSizes.foreach { case (src, n) =>
      assert(perSrc.getOrElse(src, 0) == math.min(2L, n).toInt,
        s"source $src: want min(2, $n) survivors")
    }
    // the cap is a pure function of (doc_id, source) — partitioning-free
    val reshard = TrainingOps8.domainCapSample(
      docs.repartition(7, col("n_chars")), 2).collect()
    assert(got.map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString).toSeq ==
      reshard.map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString).toSeq,
      "survivor set must be partitioning-independent")
  }

  test("domain_cap_sample and the funnel's cap stage cut each source to k before the shuffle") {
    for (name <- Seq("domain_cap_sample", "quality_gate_funnel")) {
      val df = q(name)
      assert(graft.TopKPlan.limitsBeforeShuffle(df),
        s"$name shuffles whole sources (no partial WindowGroupLimit):\n${df.queryExecution.executedPlan}")
    }
  }

  test("quality_gate_funnel: five monotone stages anchored at the corpus size") {
    val rows = q("quality_gate_funnel").collect()
    assert(rows.length == 5)
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    val surv = rows.map(_.getLong(2))
    assert(surv.zip(surv.tail).forall { case (a, b) => b <= a },
      s"funnel must be nonincreasing: ${surv.mkString(",")}")
    val docs = Tables.documents(spark, sf)
    assert(surv(0) == docs.count(), "stage 0 is the whole corpus")
    val lenOk = docs.filter(col("n_chars").between(120, 500)).count()
    assert(surv(1) == lenOk, "stage 1 is the length gate, recomputed independently")
  }

  test("gram_coverage_curve: coverage is a nondecreasing share of the exact total") {
    val rows = q("gram_coverage_curve").collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == Seq(100L, 1000L, 5000L))
    val total = rows.head.getLong(2)
    rows.foreach { r =>
      assert(r.getLong(1) <= total, "covered cannot exceed total")
      assert(math.abs(r.getDouble(3) - r.getLong(1).toDouble / total) < 1e-15)
    }
    val cov = rows.map(_.getDouble(3))
    assert(cov.zip(cov.tail).forall { case (a, b) => b >= a },
      "coverage must grow with k")
    // recompute the head of the distribution brute-force
    val freq = Tables.documents(spark, sf)
      .select(split(col("text"), " ", -1).as("w"))
      .filter(size(col("w")) >= 3)
      .select(explode(expr(
        "transform(sequence(1, size(w) - 2), i -> concat_ws(' ', slice(w, i, 3)))")).as("g"))
      .groupBy("g").count().collect().map(r => (r.getString(0), r.getLong(1)))
    assert(total == freq.map(_._2).sum, "total = all trigram tokens")
    val top100 = freq.sortBy { case (g, c) => (-c, g) }.take(100).map(_._2).sum
    assert(rows.head.getLong(1) == top100, "covered@100 = brute-force top-100 mass")
  }

  test("dataset_card: partitions the corpus and carries exact word totals") {
    val docs = Tables.documents(spark, sf)
    val card = q("dataset_card").collect()
    assert(card.map(_.getLong(1)).sum == docs.count(), "n_docs partitions the corpus")
    val bySrc = card.map(r => r.getString(0) -> r).toMap
    val src = bySrc.keys.head
    val expectWords = docs.filter(col("source") === src)
      .select(sum(size(split(col("text"), " ", -1)).cast("long"))).head.getLong(0)
    assert(bySrc(src).getLong(5) == expectWords, s"total_words for $src")
    card.foreach { r =>
      assert(math.abs(r.getDouble(3) - r.getLong(2).toDouble / r.getLong(1)) < 1e-12,
        "mean_chars = total_chars / n_docs")
      assert(r.getDouble(6) >= 0.0 && r.getDouble(6) <= 1.0)
    }
  }

  test("dedup_keep_best: keeps the max-chars member of each dedup_cluster component") {
    val clusters = DedupOps.queries("dedup_cluster")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val chars = Tables.documents(spark, sf).select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val best = q("dedup_keep_best").collect()
    assert(best.map(_.getLong(3)).sum == clusters.length,
      "members partition the corpus")
    val members = clusters.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    best.foreach { r =>
      val (cid, keepId, keepChars, n) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val mem = members(cid)
      assert(mem.length == n, s"cluster $cid member count")
      assert(mem.contains(keepId), s"keep_id $keepId must be in cluster $cid")
      val maxChars = mem.map(chars).max
      assert(keepChars == maxChars, s"cluster $cid must keep the longest member")
      assert(mem.filter(m => chars(m) == maxChars).min == keepId,
        s"ties resolve to the lowest doc_id in cluster $cid")
    }
  }
}
