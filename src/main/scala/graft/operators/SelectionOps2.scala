package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second selection tranche.
  *
  *  - `sample_exact_k` — EXACT-k per-stratum sampling: the k
  *    smallest-content-hash docs per language. The rate-threshold
  *    samplers (`sample_stratified`/`sample_mixture`) hit a BUDGET in
  *    expectation; evaluation sets and human-review queues need
  *    exactly k per stratum, reproducibly. Membership is a pure
  *    content function (md5 order), so any reshard/rerun returns the
  *    identical sample. The per-stratum cut is the `row_number() <= k`
  *    window idiom, which Spark plans as a WindowGroupLimit.
  *  - `interleave_order` — deterministic round-robin curriculum: docs
  *    ordered by content hash WITHIN each source, then sources
  *    interleaved one-doc-at-a-time (pos = rank·S + source_idx). The
  *    mixture plans decide HOW MANY docs per source; this decides the
  *    ORDER they're consumed so no training window sees a single-source
  *    run — the standard interleaving the packing stage feeds from.
  *
  * Scale notes (100 TB):
  *  - sample_exact_k: a partial WindowGroupLimit keeps ≤ k rows per
  *    stratum in each task before the one hash Exchange on `lang`, so
  *    only |tasks|·|langs|·k rows shuffle and get sorted and ranked;
  *    output is |langs|·k rows.
  *  - interleave_order: the only wide op is a per-source window rank
  *    (hash-partitioned by source — NOT a global window); position
  *    arithmetic is a map stage. Output carries every doc, but each
  *    partition computes its rows independently.
  */
object SelectionOps2 {
  type Q = (SparkSession, String) => DataFrame

  val ExactK = 5

  /** k lexicographically-smallest md5(text) docs per language. */
  def exactKPerLang(docs: DataFrame, k: Int): DataFrame = {
    val pr = docs.select(col("doc_id"), col("lang"), md5(col("text")).as("pr"))
    pr.withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy(col("pr"), col("doc_id"))))
      .filter(col("rn") <= k)
      .select(col("lang"), col("doc_id"), col("pr"))
      .orderBy("lang", "pr", "doc_id")
  }

  /** Round-robin interleave position across sources: rank within
    * source (by content hash, ties by doc_id) × #sources + the
    * source's alphabetical index. Positions are strictly increasing
    * per source and no two consecutive positions within a source are
    * adjacent globally (S ≥ 2). */
  def interleaveOrder(docs: DataFrame): DataFrame = {
    val ranked = docs
      .select(col("doc_id"), col("source"), md5(col("text")).as("pr"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("source").orderBy(col("pr"), col("doc_id"))) - lit(1))
    val srcIdx = docs.select(col("source").as("s2")).distinct()
      .withColumn("sidx", row_number().over(
        // tiny relation (|sources|) — the single-partition window is
        // over a handful of rows, not the corpus
        Window.orderBy(col("s2"))) - lit(1))
    val nSrc = srcIdx.select(count(lit(1)).as("ns"))
    ranked
      .join(broadcast(srcIdx), col("source") === col("s2"))
      .join(broadcast(nSrc))
      .select(col("doc_id"), col("source"),
        (col("rnk").cast("long") * col("ns") + col("sidx")).as("pos"))
      .orderBy("pos")
  }

  /** Near-dup cluster-size histogram — the shape audit over
    * `dedup_cluster`'s components (how much of the corpus sits in
    * 2-doc twins vs mass-duplicated templates decides whether to keep
    * one-per-cluster or drop entire clusters). Costs one extra
    * 2-level aggregate over the component labels — component count →
    * size → histogram rows, both tiny next to the pair join. */
  def clusterSizes(docs: DataFrame): DataFrame = {
    val pairs = DedupOps.jaccardPairs(docs)
      .filter(col("j") >= 0.5).select("da", "db")
    DedupOps.connectedComponentsAuto(docs.select("doc_id"), pairs)
      .groupBy(col("label")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")
  }

  val queries: Map[String, Q] = Map(
    "sample_exact_k" -> ((s, d) =>
      exactKPerLang(Tables.documents(s, d), ExactK)),
    "interleave_order" -> ((s, d) =>
      interleaveOrder(Tables.documents(s, d))),
    "dup_cluster_sizes" -> ((s, d) =>
      clusterSizes(Tables.documents(s, d)))
  )

  val oracles: Map[String, String] = Map(
    "sample_exact_k" ->
      s"""SELECT lang, doc_id, pr FROM (
         |  SELECT lang, doc_id, md5(text) AS pr,
         |         row_number() OVER (PARTITION BY lang
         |                            ORDER BY md5(text), doc_id) AS rn
         |  FROM documents) t
         |WHERE rn <= $ExactK ORDER BY lang, pr, doc_id""".stripMargin,

    "dup_cluster_sizes" ->
      """WITH RECURSIVE
        |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
        |       FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM toks)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
        |          FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |jac AS (SELECT da, db
        |        FROM inter
        |        JOIN sizes sa ON sa.doc_id = da
        |        JOIN sizes sb ON sb.doc_id = db
        |        WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5),
        |edges AS (SELECT da AS src, db AS dst FROM jac
        |          UNION ALL SELECT db, da FROM jac),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
        |comp AS (SELECT a AS doc_id, min(b) AS label FROM reach GROUP BY a),
        |szs AS (SELECT label, count(*) AS sz FROM comp GROUP BY label)
        |SELECT sz AS cluster_size, count(*) AS n_clusters
        |FROM szs GROUP BY sz ORDER BY cluster_size""".stripMargin,

    "interleave_order" ->
      """WITH ranked AS (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY md5(text), doc_id) - 1 AS rnk
        |  FROM documents),
        |sidx AS (
        |  SELECT source AS s2,
        |         row_number() OVER (ORDER BY source) - 1 AS sidx
        |  FROM (SELECT DISTINCT source FROM documents) u),
        |ns AS (SELECT count(*) AS n FROM sidx)
        |SELECT doc_id, source, CAST(rnk AS BIGINT) * n + sidx AS pos
        |FROM ranked JOIN sidx ON source = s2 CROSS JOIN ns
        |ORDER BY pos""".stripMargin
  )
}
