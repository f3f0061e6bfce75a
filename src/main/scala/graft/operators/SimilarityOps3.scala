package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sparse-vector similarity: idf-weighted shingle cosine via the
  * inverted-index join — the text-side complement of the dense
  * embedding kernels (SimilarityOps/dot_i64). Oracle-checked.
  *
  * Scale notes (100 TB):
  *  - weights are INTEGER (linear idf in milli-units, binary tf over
  *    DISTINCT shingles), so dot products and norms are exact long
  *    sums — order-independent, bit-identical to the oracle under any
  *    partitioning; only the final cosine division is floating point
  *    (one correctly-rounded IEEE op on identical operands per pair);
  *  - the pair join is the same inverted-index shape as
  *    dedup_ngram_jaccard, with the same document-frequency cut
  *    ([[DedupOps.HotGramDfCap]]): grams in more docs than the cap are
  *    dropped before pairing, so pair rows are bounded by
  *    cap × |inverted index| (linear in corpus size), never N²; the
  *    MinHash/LSH tranche remains the candidate-bounded path;
  *  - the idf join is a broadcast of the df tier only when the
  *    vocabulary is dim-sized; here it rides the same shuffle as the
  *    pair join (both key on the gram), so AQE reuses the exchange.
  */
object SimilarityOps3 {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // top-10 most similar doc pairs by idf-weighted shingle cosine:
    // w(g) = 1000·N / df(g) (integer linear idf — no log, so both
    // engines agree exactly), dot = Σ_{shared g} w(g)², norms row-local
    "sparse_cosine_topk" -> ((s, d) => {
      // the shingle explode feeds the df tier and the weighted-gram
      // join — materialize it once (eager localCheckpoint; lazy
      // lineage recomputed the corpus explode). Grams ride as xxhash64
      // longs: df/weights/dots depend only on gram IDENTITY, so the
      // hash is correctness-neutral (2⁻⁶⁴, the jaccard family's
      // documented tolerance) and every shuffle key drops from a
      // ~17-char string to 8 bytes
      val grams = DedupOps.docShingleArrays(Tables.documents(s, d))
        .select(col("doc_id"), explode(col("ghs")).as("g"))
        .localCheckpoint(true)
      val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n"))
      // DF cut (see DedupOps.HotGramDfCap): grams above the cap are
      // dropped from the vocabulary entirely — weights, norms, and dots
      // all see the same capped gram space, so the result is a true
      // cosine over the sub-vocabulary. Bounds pair volume at
      // dfCap² × |vocabulary| / 2; hot grams carry the smallest idf
      // weights, so the signal lost is the smallest terms of the dot.
      // Cap ≫ max df at every test scale ⇒ oracle hashes unchanged.
      //
      // tf is binary over DISTINCT shingles, so BOTH endpoints of a
      // shared gram carry the same weight and every pair contribution
      // is w(g)² — a per-GRAM constant, computed once per capped gram
      // as the integer w2 column. The pair sum is Σ w² with no per-pair
      // multiply; both self-join legs carry w2 only so that they share
      // one exchange (see the least(w2, w2b) note below).
      // (An in-partition combination-generation variant — collect the
      // gram's doc array, explode the pair list — measured SLOWER than
      // the streaming self-join: materializing up to cap² structs per
      // row beats nothing; the join pipelines pairs straight into the
      // partial aggregate.)
      val df = grams.groupBy("g").agg(count(lit(1)).as("df"))
        .filter(col("df") <= DedupOps.HotGramDfCap)
      val wg = df.crossJoin(broadcast(nDocs))
        .select(col("g"),
          expr("(1000 * n div df) * (1000 * n div df)").as("w2"))
      val gw = grams.join(wg, "g").localCheckpoint(true)
      // norm feeds TWO join branches below (n2a and n2b legs) — left
      // lazy each branch re-ran the doc-keyed aggregate over the gw
      // checkpoint; one doc-sized materialization serves both
      val norm = gw.groupBy("doc_id").agg(sum(col("w2")).as("n2"))
        .localCheckpoint(true)
      // the checkpoint's AQE-coalesced output loses partitioning info,
      // so the a⋈b self-join re-shuffled BOTH legs of the SAME relation.
      // One explicit repartition on the join key, with the two legs
      // projecting IDENTICAL columns (so canonicalized plans match and
      // the planner emits Exchange + ReusedExchange instead of two
      // shuffles of the biggest relation in the query). least(w2, w2b)
      // is exact: tf is binary, so both endpoints of a shared gram
      // carry the SAME per-gram w² — consuming both copies is what
      // keeps leg b's w2 from being pruned into a narrower (reuse-
      // breaking) exchange.
      val gwp = gw.repartition(col("g"))
      val a = gwp.select(col("doc_id").as("da"), col("g"), col("w2"))
      val b = gwp.select(col("doc_id").as("db"), col("g"), col("w2").as("w2b"))
      val dots = a.join(b, Seq("g")).filter(col("da") < col("db"))
        .groupBy("da", "db").agg(sum(least(col("w2"), col("w2b"))).as("dot"))
      dots
        .join(norm.select(col("doc_id").as("da"), col("n2").as("n2a")), "da")
        .join(norm.select(col("doc_id").as("db"), col("n2").as("n2b")), "db")
        .select(col("da"), col("db"),
          (col("dot").cast("double") /
            (sqrt(col("n2a").cast("double")) * sqrt(col("n2b").cast("double"))))
            .as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("da"), col("db"))
        .limit(10)
    }),

    // late-interaction (MaxSim) retrieval: vectors grouped 8-per-"doc"
    // (multi-vector documents), query = the first 4 vectors;
    // score(doc) = Σ_q max_v dot(q, v) — the ColBERT scoring shape.
    // Integer-quantized dots through the codegen kernel ⇒ exact.
    // Scale: the query side is tiny by construction (broadcast); the
    // doc side is scanned once; per-row work is |qvecs| × 8 dots, and
    // both reductions (max per query vec, sum over query vecs) are
    // partial-aggregated on doc_id.
    "maxsim_topk" -> ((s, d) => {
      graft.functions.VectorFunctions.registerAll(s)
      val q = Tables.embeddings(s, d)
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
            .as("qv"))
      val queries = q.filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("qv").as("qvec"))
      val docs = q.select(expr("vec_id div 8").as("doc"),
        col("vec_id"), col("qv"))
      docs.crossJoin(broadcast(queries))
        .select(col("doc"), col("qid"),
          graft.functions.VectorFunctions.dot_i64(col("qv"), col("qvec")).as("dot"))
        .groupBy("doc", "qid").agg(max("dot").as("best"))
        .groupBy("doc").agg(sum("best").as("maxsim"))
        .orderBy(col("maxsim").desc, col("doc"))
        .limit(10)
    })
  )

  val oracles: Map[String, String] = Map(
    "sparse_cosine_topk" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
        |       FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM toks)),
        |df AS (SELECT g, count(*) AS df FROM sh GROUP BY g),
        |n AS (SELECT count(*) AS n FROM documents),
        |wt AS (SELECT sh.doc_id, sh.g, (1000 * n.n // df.df) AS w
        |       FROM sh JOIN df USING (g), n),
        |norm AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2
        |         FROM wt GROUP BY doc_id),
        |dots AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |                CAST(sum(a.w * b.w) AS BIGINT) AS dot
        |         FROM wt a JOIN wt b ON a.g = b.g AND a.doc_id < b.doc_id
        |         GROUP BY 1, 2)
        |SELECT da, db,
        |       CAST(dot AS DOUBLE)
        |         / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
        |         AS cos_sim
        |FROM dots
        |JOIN norm na ON na.doc_id = da
        |JOIN norm nb ON nb.doc_id = db
        |ORDER BY cos_sim DESC, da, db LIMIT 10""".stripMargin,

    "maxsim_topk" ->
      """WITH e AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS x
        |  FROM embeddings),
        |dots AS (
        |  SELECT v.vec_id // 8 AS doc, v.vec_id AS vid, q.vec_id AS qid,
        |         CAST(sum(v.x * q.x) AS BIGINT) AS dot
        |  FROM e v JOIN e q ON q.i = v.i AND q.vec_id < 4
        |  GROUP BY 1, 2, 3),
        |best AS (
        |  SELECT doc, qid, max(dot) AS best FROM dots GROUP BY doc, qid)
        |SELECT doc, CAST(sum(best) AS BIGINT) AS maxsim
        |FROM best GROUP BY doc
        |ORDER BY maxsim DESC, doc LIMIT 10""".stripMargin
  )
}
