package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-9 curation tranche: the dataset-assembly second pass — the
  * operations that run AFTER per-document scoring (quality/gopher/PII,
  * earlier tranches) and BEFORE packing/sharding, when the pipeline
  * decides WHICH scored documents ship in the final mixture.
  *
  *  - `domain_cap_sample` — cap documents per source/domain at k,
  *    deterministically (the classic "no single crawl domain may
  *    dominate the mixture" rule, applied with a content-independent
  *    hash priority so the survivor set is stable across reruns and
  *    partitionings);
  *  - `quality_gate_funnel` — the curation funnel report: survivor
  *    counts after each successive gate (length → language → token
  *    count → domain cap) — the observability table every large
  *    filtering run publishes alongside its output;
  *  - `gram_coverage_curve` — cumulative corpus coverage of the top-k
  *    word trigram types (k ∈ {100, 1000, 5000}): how much of the
  *    corpus the head of the n-gram distribution explains — the
  *    redundancy/diversity dial used when deciding dedup aggressiveness;
  *  - `dataset_card` — the per-source summary table (docs, chars,
  *    words, language spread, length-gate pass share) that fronts a
  *    published dataset card;
  *  - `dedup_keep_best` — near-dup cluster resolution keeping the BEST
  *    member (max n_chars, ties → lowest doc_id) instead of the
  *    first: the curation-grade variant of `dedup_cluster`'s
  *    min-id canonicalization.
  *
  * All five are DuckDB-oracle-checked (exact longs; doubles only as a
  * final long/long division, identical bits in both engines).
  *
  * Scale notes (100 TB):
  *  - domain_cap_sample is the `row_number() <= k` window idiom,
  *    which Spark plans as a partial WindowGroupLimit (≤ k rows per
  *    domain per task) before ONE shuffle on the domain key and a final
  *    WindowGroupLimit + Window after it. A skewed mega domain ships k
  *    rows per task, not its row count, to the reduce side.
  *  - quality_gate_funnel is two jobs over the corpus: one
  *    conditional-sum pass (map-side partials, 1-row result) and the
  *    same capped window count for the cap stage. Nothing corpus-sized
  *    shuffles; gates are row-local predicates.
  *  - gram_coverage_curve never materializes a global vocabulary
  *    order: TakeOrderedAndProject keeps the top-5000 gram types
  *    (per-partition partial top-k, driver merge of 5000-row heaps);
  *    the rank window runs over those ≤5000 rows only, and the corpus
  *    total is a broadcast 1-row aggregate.
  *  - dataset_card is one hash aggregation keyed by source
  *    (|sources| rows out); countDistinct(lang) expands to the usual
  *    two-level partial distinct, still keyed by source.
  *  - dedup_keep_best reuses the df-capped inverted-index jaccard
  *    pairs and the adaptive connected-components of `dedup_cluster`
  *    (driver union-find under 500k edges, large-star/small-star
  *    above); the keep choice is a max(struct) aggregate per cluster —
  *    no window, no re-join of the corpus against itself.
  */
object TrainingOps8 {
  type Q = (SparkSession, String) => DataFrame

  /** Documents kept per source by `domain_cap_sample` (sf0.01 carries
    * 25 docs/source — the cap visibly bites at the oracle SF). */
  val DomainCap = 20

  /** Knuth multiplicative-hash priority: content-independent,
    * partition-independent, identical bigint arithmetic in Spark and
    * DuckDB (doc_id ⋅ 2654435761 stays far below 2⁶³). */
  private def priorityCol = (col("doc_id") * lit(2654435761L)) % lit(2147483647L)
  private val prioritySql = "(doc_id * 2654435761) % 2147483647"

  /** Length gate shared by the funnel and the card. */
  private def lenOk = col("n_chars").between(120, 500)
  private val lenOkSql = "n_chars BETWEEN 120 AND 500"

  /** Deterministic per-domain cap: k smallest hash priorities win. */
  def domainCapSample(docs: DataFrame, k: Int): DataFrame =
    capPerSource(docs.select(col("doc_id"), col("source"), priorityCol.as("pr")), k)

  /** The k rows of smallest (pr, doc_id) per source. */
  private def capPerSource(pr: DataFrame, k: Int): DataFrame =
    pr.withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy(col("pr"), col("doc_id"))))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("source"), col("pr"))

  /** Per-cluster best-member resolution over the exact near-dup graph. */
  def keepBest(docs: DataFrame): DataFrame = {
    val pairs = DedupOps.jaccardPairs(docs).filter(col("j") >= 0.5).select("da", "db")
    DedupOps.connectedComponentsAuto(docs.select("doc_id"), pairs)
      .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .groupBy(col("label").as("cluster_id"))
      .agg(max(struct(col("n_chars"), (-col("doc_id")).as("nid"))).as("m"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), (-col("m.nid")).as("keep_id"),
        col("m.n_chars").as("keep_chars"), col("n_members"))
  }

  val queries: Map[String, Q] = Map(
    "domain_cap_sample" -> ((s, d) =>
      domainCapSample(Tables.documents(s, d), DomainCap).orderBy("doc_id")),

    // curation funnel: cumulative survivor counts through four gates
    "quality_gate_funnel" -> ((s, d) => {
      val f = Tables.documents(s, d)
        .withColumn("nw", size(split(col("text"), " ", -1)).cast("long"))
        .withColumn("pr", priorityCol)
        .withColumn("s1", lenOk)
        .withColumn("s2", lenOk && col("lang").isin("en", "es", "de", "fr"))
        .withColumn("s3", lenOk && col("lang").isin("en", "es", "de", "fr") &&
          col("nw").between(25, 90))
      val head = f.agg(
        count(lit(1)).as("c0"),
        sum(when(col("s1"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("s2"), 1L).otherwise(0L)).as("c2"),
        sum(when(col("s3"), 1L).otherwise(0L)).as("c3"))
      val capped = capPerSource(
          f.filter(col("s3")).select(col("doc_id"), col("source"), col("pr")), DomainCap)
        .agg(count(lit(1)).as("c4"))
      head.crossJoin(broadcast(capped))
        .select(explode(array(
          struct(lit(0L).as("stage"), lit("all").as("gate"), col("c0").as("survivors")),
          struct(lit(1L).as("stage"), lit("length").as("gate"), col("c1").as("survivors")),
          struct(lit(2L).as("stage"), lit("lang").as("gate"), col("c2").as("survivors")),
          struct(lit(3L).as("stage"), lit("words").as("gate"), col("c3").as("survivors")),
          struct(lit(4L).as("stage"), lit("domain_cap").as("gate"), col("c4").as("survivors"))
        )).as("x"))
        .select(col("x.stage").as("stage"), col("x.gate").as("gate"),
          col("x.survivors").as("survivors"))
        .orderBy("stage")
    }),

    // head-of-distribution coverage: top-k trigram types' share of all
    // trigram tokens, k ∈ {100, 1000, 5000}
    "gram_coverage_curve" -> ((s, d) => {
      import s.implicits._
      val grams = Tables.documents(s, d)
        .select(split(col("text"), " ", -1).as("w"))
        .filter(size(col("w")) >= 3)
        .select(explode(expr(
          "transform(sequence(1, size(w) - 2), i -> concat_ws(' ', slice(w, i, 3)))")).as("g"))
      // freq feeds the corpus total AND the top-k leg — one vocabulary
      // materialization instead of two gram explode+count passes
      val freq = grams.groupBy("g").agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true)
      val total = freq.agg(sum("cnt").as("total"))
      // top-k FIRST (TakeOrderedAndProject), THEN rank the ≤5000
      // survivors — the global-order window never sees the vocabulary
      val top = freq.orderBy(col("cnt").desc, col("g")).limit(5000)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("cnt").desc, col("g"))).cast("long"))
      val ks = Seq(100L, 1000L, 5000L).toDF("k")
      top.join(broadcast(ks), col("rk") <= col("k"))
        .groupBy("k").agg(sum("cnt").as("covered"))
        .crossJoin(broadcast(total))
        .select(col("k"), col("covered"), col("total"),
          (col("covered").cast("double") / col("total").cast("double")).as("coverage"))
        .orderBy("k")
    }),

    // per-source dataset card
    "dataset_card" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("nw", size(split(col("text"), " ", -1)).cast("long"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_chars").as("total_chars"),
          countDistinct("lang").as("n_langs"),
          sum("nw").as("total_words"),
          sum(when(lenOk, 1L).otherwise(0L)).as("n_len_ok"))
        .select(col("source"), col("n_docs"), col("total_chars"),
          (col("total_chars").cast("double") / col("n_docs").cast("double")).as("mean_chars"),
          col("n_langs"), col("total_words"),
          (col("n_len_ok").cast("double") / col("n_docs").cast("double")).as("len_ok_share"))
        .orderBy("source")),

    "dedup_keep_best" -> ((s, d) =>
      keepBest(Tables.documents(s, d)).orderBy("cluster_id"))
  )

  val oracles: Map[String, String] = Map(
    "domain_cap_sample" ->
      s"""SELECT doc_id, source, pr FROM (
         |  SELECT doc_id, source, $prioritySql AS pr,
         |         row_number() OVER (PARTITION BY source
         |                            ORDER BY $prioritySql, doc_id) AS rn
         |  FROM documents)
         |WHERE rn <= $DomainCap ORDER BY doc_id""".stripMargin,

    "quality_gate_funnel" ->
      s"""WITH f AS (
         |  SELECT doc_id, source, lang, n_chars,
         |         len(string_split(text, ' ')) AS nw,
         |         $prioritySql AS pr
         |  FROM documents),
         |s AS (
         |  SELECT *,
         |         ($lenOkSql) AS s1,
         |         ($lenOkSql AND lang IN ('en','es','de','fr')) AS s2,
         |         ($lenOkSql AND lang IN ('en','es','de','fr')
         |          AND nw BETWEEN 25 AND 90) AS s3
         |  FROM f),
         |cap AS (
         |  SELECT count(*) AS c4 FROM (
         |    SELECT row_number() OVER (PARTITION BY source ORDER BY pr, doc_id) AS rn
         |    FROM s WHERE s3)
         |  WHERE rn <= $DomainCap)
         |SELECT CAST(stage AS BIGINT) AS stage, gate, CAST(survivors AS BIGINT) AS survivors FROM (
         |  SELECT 0 AS stage, 'all' AS gate, count(*) AS survivors FROM s
         |  UNION ALL SELECT 1, 'length', count(*) FILTER (WHERE s1) FROM s
         |  UNION ALL SELECT 2, 'lang', count(*) FILTER (WHERE s2) FROM s
         |  UNION ALL SELECT 3, 'words', count(*) FILTER (WHERE s3) FROM s
         |  UNION ALL SELECT 4, 'domain_cap', c4 FROM cap)
         |ORDER BY stage""".stripMargin,

    "gram_coverage_curve" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT array_to_string(w[i:i+2], ' ') AS g
        |      FROM (SELECT w, unnest(range(1, len(w) - 1)) AS i
        |            FROM toks WHERE len(w) >= 3)),
        |freq AS (SELECT g, count(*) AS cnt FROM g GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM freq),
        |ranked AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, g) AS rk FROM freq),
        |ks AS (SELECT CAST(unnest([100, 1000, 5000]) AS BIGINT) AS k)
        |SELECT k, CAST(sum(cnt) AS BIGINT) AS covered,
        |       max(total) AS total,
        |       CAST(CAST(sum(cnt) AS BIGINT) AS DOUBLE) / CAST(max(total) AS DOUBLE) AS coverage
        |FROM ks JOIN ranked ON rk <= k CROSS JOIN tot
        |GROUP BY k ORDER BY k""".stripMargin,

    "dataset_card" ->
      s"""SELECT source,
         |       count(*) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |       CAST(CAST(sum(n_chars) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_chars,
         |       count(DISTINCT lang) AS n_langs,
         |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_words,
         |       CAST(count(*) FILTER (WHERE $lenOkSql) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS len_ok_share
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // same 3-gram / jaccard-0.5 / min-label component construction as
    // the dedup_cluster oracle, resolved to the best member per cluster
    "dedup_keep_best" ->
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
        |cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
        |mem AS (SELECT cl.cluster_id, cl.doc_id, d.n_chars,
        |               row_number() OVER (PARTITION BY cl.cluster_id
        |                                  ORDER BY d.n_chars DESC, cl.doc_id) AS rn,
        |               count(*) OVER (PARTITION BY cl.cluster_id) AS nm
        |        FROM cl JOIN documents d ON d.doc_id = cl.doc_id)
        |SELECT cluster_id, doc_id AS keep_id, n_chars AS keep_chars,
        |       CAST(nm AS BIGINT) AS n_members
        |FROM mem WHERE rn = 1 ORDER BY cluster_id""".stripMargin
  )
}
