package graft.operators

import graft.{ConcurrentJobs, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 governance tranche: the audit surface a 100 TB training-data
  * platform publishes ABOUT its corpus — constraint conformance,
  * re-identification risk, distribution drift, and epoch reweighting —
  * the reports that gate a dataset release rather than transform the
  * data itself.
  *
  *  - `dq_check_report` — declarative data-quality constraint report
  *    (Deequ-style): primary-key uniqueness, referential integrity,
  *    range bounds, and null-rate rules over the relational tables,
  *    one row per rule with checked/violation counts and a pass flag.
  *    The synthetic lineitem table genuinely violates its
  *    (l_orderkey, l_linenumber) key, so the report exercises the
  *    failure path, not just green rows;
  *  - `kanon_quasi_id_audit` — k-anonymity risk audit: equivalence
  *    classes over the quasi-identifier tuple (event_type, value
  *    decile), rows living in classes smaller than k for
  *    k ∈ {2, 5, 10} — the re-identification exposure table privacy
  *    review asks for before an event log may ship as training data;
  *  - `unigram_tv_drift` — pairwise total-variation distance between
  *    per-source word unigram distributions. TV = ½·Σ|p−q| is computed
  *    in EXACT integer arithmetic — Σ|c_a·T_b − c_b·T_a| over
  *    2·T_a·T_b — with the absent-word mass folded in algebraically
  *    (Σ_{A∖B} c_a·T_b = T_b·(T_a − Σ_∩ c_a)), so only the INNER join
  *    on shared words is ever materialized and the one IEEE division
  *    happens at the very end;
  *  - `sample_upweight` — epoch materialization for mixture balancing:
  *    sources below the max token budget repeat for
  *    ceil(maxTokens/tokens) epochs (capped at 4) — the "epochs per
  *    source" recipe of published LLM data mixtures — expanded
  *    deterministically with full provenance (doc_id, epoch,
  *    n_epochs).
  *
  * All four are DuckDB-oracle-checked: counts and products stay in
  * BIGINT in both engines; doubles appear only as one final division
  * of two exact longs (identical IEEE bits).
  *
  * Scale notes (100 TB):
  *  - dq_check_report is three single-pass hash aggregates (one per
  *    table: count + distinct + conditional sums ride the same scan)
  *    plus one broadcast anti-join for the FK rule; every output is a
  *    1-row aggregate, nothing corpus-sized shuffles. The 1-row partials
  *    are eagerly checkpointed so the six report rows don't re-scan.
  *  - kanon_quasi_id_audit is one hash aggregation on the quasi-id
  *    tuple (map-side partials; |classes| rows out), a broadcast 1-row
  *    total, and a 3-way k-explode over the class census — the class
  *    census is computed once regardless of how many k thresholds are
  *    audited.
  *  - unigram_tv_drift shuffles (source, word, count) rows once on the
  *    word key for the inner pair join; the per-source totals are a
  *    |sources|-row broadcast. Pair cardinality is |sources|²-bounded
  *    per word, and |sources| is a catalog-sized dimension (20 here),
  *    not corpus-scaled. Counts stay far below 2⁶³ until T_a·c_b
  *    approaches 9.2×10¹⁸; past that, swap the products onto
  *    DecimalType(38,0) — same exactness, both engines.
  *  - sample_upweight's expansion is a broadcast join (|sources| rows)
  *    plus a row-local sequence explode — output size is Σ epochs,
  *    data-proportional by design, with zero extra shuffles.
  */
object GovernanceOps {
  type Q = (SparkSession, String) => DataFrame

  /** k thresholds audited by `kanon_quasi_id_audit`. */
  val KanonKs: Seq[Long] = Seq(2L, 5L, 10L)

  /** Epoch cap for `sample_upweight` (no source repeats more than
    * MaxEpochs times regardless of how small it is). */
  val MaxEpochs = 4L

  /** Deequ-style constraint report: one row per rule. */
  def dqCheckReport(orders: DataFrame, customer: DataFrame,
                    lineitem: DataFrame): DataFrame = {
    // one scan per table: count/distinct/conditional sums share the pass.
    // The four 1-row tiers are INDEPENDENT (disjoint tables / the FK
    // anti-join) and each materialization is a 1-2-task job over a
    // single-split scan — sequential checkpoints left the cluster idle
    // ~3/4 of the construction (guide §2.6: a few concurrent jobs fill
    // the idle capacity). Materialize them concurrently; this is a
    // batch-only path, so unlike ServingTier.refresh (kept sequential
    // on purpose) there is no latency-sensitive micro-batch to starve.
    import scala.concurrent.Await
    import scala.concurrent.duration.Duration
    val spark = orders.sparkSession
    val oF = ConcurrentJobs.async(spark)(orders.agg(
      count(lit(1)).as("n"),
      countDistinct(col("o_orderkey")).as("nd"),
      sum(when(!(col("o_totalprice") > 0), 1L).otherwise(0L)).as("bad_price"))
      .localCheckpoint(true))
    val cF = ConcurrentJobs.async(spark)(customer.agg(
      count(lit(1)).as("n"),
      sum(when(col("c_name").isNull, 1L).otherwise(0L)).as("null_name"))
      .localCheckpoint(true))
    val lF = ConcurrentJobs.async(spark)(lineitem.agg(
      count(lit(1)).as("n"),
      countDistinct(col("l_orderkey"), col("l_linenumber")).as("nd"),
      sum(when(!col("l_quantity").between(1, 50), 1L).otherwise(0L)).as("bad_qty"))
      .localCheckpoint(true))
    // FK rule: orders whose customer is missing (broadcast anti join)
    val fkF = ConcurrentJobs.async(spark)(orders.select(col("o_custkey"))
      .join(broadcast(customer.select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("viol")).localCheckpoint(true))
    val o = Await.result(oF, Duration.Inf)
    val c = Await.result(cF, Duration.Inf)
    val l = Await.result(lF, Duration.Inf)
    val fk = Await.result(fkF, Duration.Inf)

    def rule(id: Long, name: String, src: DataFrame,
             checked: org.apache.spark.sql.Column,
             viol: org.apache.spark.sql.Column): DataFrame =
      src.select(lit(id).as("rule_id"), lit(name).as("rule"),
        checked.cast("long").as("n_checked"), viol.cast("long").as("n_violations"))

    val oc = fk.crossJoin(o.select(col("n").as("o_n")))
    rule(0, "orders_pk_unique", o, col("n"), col("n") - col("nd"))
      .union(rule(1, "orders_fk_customer", oc, col("o_n"), col("viol")))
      .union(rule(2, "lineitem_qty_range", l, col("n"), col("bad_qty")))
      .union(rule(3, "customer_name_not_null", c, col("n"), col("null_name")))
      .union(rule(4, "lineitem_pk_unique", l, col("n"), col("n") - col("nd")))
      .union(rule(5, "orders_price_positive", o, col("n"), col("bad_price")))
      .withColumn("pass", col("n_violations") === 0L)
      .orderBy("rule_id")
  }

  /** k-anonymity audit over the (event_type, value-decile) quasi-id. */
  def kanonAudit(events: DataFrame, ks: Seq[Long]): DataFrame = {
    val cls = events
      .select(col("event_type"), floor(col("value") / 10).cast("long").as("vb"))
      .groupBy("event_type", "vb").agg(count(lit(1)).as("n"))
    val total = events.agg(count(lit(1)).as("total"))
    cls.crossJoin(broadcast(total))
      .withColumn("k", explode(typedlit(ks)))
      .groupBy("k")
      .agg(count(lit(1)).as("n_classes"),
        sum(when(col("n") < col("k"), 1L).otherwise(0L)).as("classes_at_risk"),
        sum(when(col("n") < col("k"), col("n")).otherwise(0L)).as("rows_at_risk"),
        max(col("total")).as("total"))
      .withColumn("risk_ppm", expr("rows_at_risk * 1000000 div total"))
      .drop("total")
      .orderBy("k")
  }

  /** Per-(source, word) counts with per-source totals attached. */
  private def sourceWordCounts(docs: DataFrame): (DataFrame, DataFrame) = {
    val c = docs
      .select(col("source"), explode(split(col("text"), " ", -1)).as("word"))
      .filter(col("word") =!= "")
      .groupBy("source", "word").agg(count(lit(1)).as("c"))
    val t = c.groupBy("source").agg(sum("c").as("t")).localCheckpoint(true)
    (c, t)
  }

  /** Exact pairwise total-variation drift between source unigram
    * distributions: tv = (isum + 2·T_a·T_b) / (2·T_a·T_b), with
    * isum = Σ_∩ (|c_a·T_b − c_b·T_a| − c_a·T_b − c_b·T_a) ≤ 0. */
  def unigramTvDrift(docs: DataFrame): DataFrame = {
    // Overflow posture: every c·T and T_a·T_b product below runs as
    // BIGINT arithmetic under Spark's default ANSI mode, which THROWS
    // ArithmeticException on 64-bit overflow — a corpus big enough to
    // push T_a·T_b past 9.2e18 fails loudly here (and in the DuckDB
    // oracle, whose BIGINT ops also error), never wraps into a
    // plausible wrong TV. The migration past that point is
    // DecimalType(38,0) products — same exactness, both engines; the
    // streaming twin's kernel (DriftMonitorStream.tvAgainst) carries
    // the matching Math.multiplyExact guards.
    val (c, t) = sourceWordCounts(docs)
    val cT = c.join(broadcast(t), "source").localCheckpoint(true)
    val x = cT.select(col("source").as("sa"), col("word"),
      col("c").as("ca"), col("t").as("ta"))
    val y = cT.select(col("source").as("sb"), col("word"),
      col("c").as("cb"), col("t").as("tb"))
    val isum = x.join(y, Seq("word"))
      .filter(col("sa") < col("sb"))
      .groupBy("sa", "sb")
      .agg(sum(abs(col("ca") * col("tb") - col("cb") * col("ta"))
        - col("ca") * col("tb") - col("cb") * col("ta")).as("isum"))
    val pairs = t.select(col("source").as("src_a"), col("t").as("ta"))
      .join(t.select(col("source").as("src_b"), col("t").as("tb")),
        col("src_a") < col("src_b"))
    pairs.join(isum,
        pairs("src_a") === isum("sa") && pairs("src_b") === isum("sb"), "left")
      .select(col("src_a"), col("src_b"),
        (coalesce(col("isum"), lit(0L)) + lit(2L) * col("ta") * col("tb")).as("tv_num"),
        (lit(2L) * col("ta") * col("tb")).as("tv_den"))
      .withColumn("tv", col("tv_num").cast("double") / col("tv_den").cast("double"))
      .orderBy("src_a", "src_b")
  }

  /** Epoch expansion: r_s = min(MaxEpochs, ceil(maxTok / tok_s)). */
  def sampleUpweight(docs: DataFrame): DataFrame = {
    val tok = docs.groupBy("source").agg(sum("n_chars").as("tok"))
    val mx = tok.agg(max("tok").as("mt"))
    val r = tok.crossJoin(broadcast(mx))
      .select(col("source"),
        least(lit(MaxEpochs), expr("(mt + tok - 1) div tok")).as("n_epochs"))
    docs.select(col("doc_id"), col("source"))
      .join(broadcast(r), "source")
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1L), col("n_epochs"))).as("epoch"), col("n_epochs"))
      .orderBy("doc_id", "epoch")
  }

  val queries: Map[String, Q] = Map(
    "dq_check_report" -> ((s, d) => dqCheckReport(
      Tables.orders(s, d), Tables.customer(s, d), Tables.lineitem(s, d))),
    "kanon_quasi_id_audit" -> ((s, d) => kanonAudit(Tables.events(s, d), KanonKs)),
    "unigram_tv_drift" -> ((s, d) => unigramTvDrift(Tables.documents(s, d))),
    "sample_upweight" -> ((s, d) => sampleUpweight(Tables.documents(s, d)))
  )

  val oracles: Map[String, String] = Map(
    "dq_check_report" ->
      """SELECT CAST(rule_id AS BIGINT) AS rule_id, rule,
        |       CAST(n_checked AS BIGINT) AS n_checked,
        |       CAST(n_violations AS BIGINT) AS n_violations,
        |       n_violations = 0 AS pass FROM (
        |SELECT 0 AS rule_id, 'orders_pk_unique' AS rule,
        |       (SELECT count(*) FROM orders) AS n_checked,
        |       (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders) AS n_violations
        |UNION ALL SELECT 1, 'orders_fk_customer', (SELECT count(*) FROM orders),
        |       (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |          (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |UNION ALL SELECT 2, 'lineitem_qty_range', (SELECT count(*) FROM lineitem),
        |       (SELECT count(*) FROM lineitem WHERE NOT (l_quantity BETWEEN 1 AND 50))
        |UNION ALL SELECT 3, 'customer_name_not_null', (SELECT count(*) FROM customer),
        |       (SELECT count(*) FROM customer WHERE c_name IS NULL)
        |UNION ALL SELECT 4, 'lineitem_pk_unique', (SELECT count(*) FROM lineitem),
        |       (SELECT count(*) - count(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem)
        |UNION ALL SELECT 5, 'orders_price_positive', (SELECT count(*) FROM orders),
        |       (SELECT count(*) FROM orders WHERE NOT (o_totalprice > 0))
        |) ORDER BY rule_id""".stripMargin,

    "kanon_quasi_id_audit" ->
      """WITH q AS (SELECT event_type, CAST(floor(value/10) AS BIGINT) AS vb FROM events),
        |cls AS (SELECT event_type, vb, count(*) AS n FROM q GROUP BY 1, 2),
        |tot AS (SELECT count(*) AS total FROM events),
        |ks AS (SELECT CAST(unnest([2, 5, 10]) AS BIGINT) AS k)
        |SELECT k, CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(count(*) FILTER (WHERE n < k) AS BIGINT) AS classes_at_risk,
        |  CAST(coalesce(sum(n) FILTER (WHERE n < k), 0) AS BIGINT) AS rows_at_risk,
        |  CAST(coalesce(sum(n) FILTER (WHERE n < k), 0) * 1000000 // max(total) AS BIGINT) AS risk_ppm
        |FROM ks CROSS JOIN cls CROSS JOIN tot GROUP BY k ORDER BY k""".stripMargin,

    "unigram_tv_drift" ->
      """WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents),
        |c AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c
        |      FROM w WHERE word <> '' GROUP BY 1, 2),
        |t AS (SELECT source, CAST(sum(c) AS BIGINT) AS t FROM c GROUP BY 1),
        |pairs AS (SELECT a.source AS src_a, b.source AS src_b, a.t AS ta, b.t AS tb
        |          FROM t a JOIN t b ON a.source < b.source),
        |i AS (SELECT x.source AS sa, y.source AS sb,
        |         CAST(sum(abs(x.c*ty.t - y.c*tx.t) - x.c*ty.t - y.c*tx.t) AS BIGINT) AS isum
        |      FROM c x JOIN c y ON x.word = y.word AND x.source < y.source
        |      JOIN t tx ON tx.source = x.source JOIN t ty ON ty.source = y.source
        |      GROUP BY 1, 2)
        |SELECT p.src_a, p.src_b,
        |  CAST(coalesce(isum, 0) + 2*ta*tb AS BIGINT) AS tv_num,
        |  CAST(2*ta*tb AS BIGINT) AS tv_den,
        |  CAST(coalesce(isum, 0) + 2*ta*tb AS DOUBLE) / CAST(2*ta*tb AS DOUBLE) AS tv
        |FROM pairs p LEFT JOIN i ON i.sa = p.src_a AND i.sb = p.src_b
        |ORDER BY src_a, src_b""".stripMargin,

    "sample_upweight" ->
      """WITH tok AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS tok
        |             FROM documents GROUP BY 1),
        |mx AS (SELECT max(tok) AS mt FROM tok),
        |r AS (SELECT source, CAST(least(4, (mt + tok - 1) // tok) AS BIGINT) AS n_epochs
        |      FROM tok CROSS JOIN mx)
        |SELECT d.doc_id, d.source,
        |       CAST(unnest(generate_series(1, r.n_epochs)) AS BIGINT) AS epoch,
        |       r.n_epochs
        |FROM documents d JOIN r USING (source)
        |ORDER BY doc_id, epoch""".stripMargin
  )
}
