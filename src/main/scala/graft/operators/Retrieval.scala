package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Full-text retrieval over the corpus: BM25 (Robertson/Spärck Jones
  * probabilistic weighting — the standard lexical ranker) serving a
  * batch of queries in one pass. A training-data pipeline runs exactly
  * this shape for targeted corpus curation: retrieve the top-k
  * documents per probe query (benchmark prompts, domain seeds, known
  * contaminants) across the whole corpus.
  *
  * Scale design — corpus-side postings, query-side broadcast:
  *  - term frequencies are one `explode` + one (doc_id, term) groupBy —
  *    the only corpus-sized shuffle in the plan;
  *  - document frequencies and collection stats are term-keyed /
  *    single-row aggregates (tiny), joined back by BROADCAST — the
  *    corpus-sized postings stream is never re-shuffled;
  *  - the query set (thousands of terms at most) broadcasts to the
  *    postings scan, so scoring touches only postings whose term
  *    appears in some query — filter-by-join, no full-corpus scoring;
  *  - per-query top-k is the `row_number ≤ k` idiom: Spark's sorted
  *    `Window`, with `WindowGroupLimit` trimming each query to k rows
  *    before the shuffle — never a global sort.
  *
  * Cross-engine determinism: the only non-IEEE-reproducible step is
  * `ln`, so the idf is quantized to DECIMAL(18,9) once per term; the
  * per-term contribution is then exact double arithmetic, quantized to
  * DECIMAL(28,12) BEFORE the per-document sum (decimal addition is
  * order-independent, double addition is not), and the final score to
  * DECIMAL(20,10) — the ranking key, with doc_id as the total
  * tiebreak.
  */
object Retrieval {

  /** Deterministic probe queries over the synthetic corpus vocabulary. */
  val DemoQueries: Seq[(String, String)] = Seq(
    "q_exec" -> "hash join table scan",
    "q_plan" -> "query filter sort merge",
    "q_stream" -> "stream window batch",
    "q_store" -> "column row group value")

  // The engine-parity-critical vector dot folds, defined ONCE: both
  // encode the identical left-to-right summation order (Spark: an
  // `aggregate` fold from 0.0; DuckDB: `list_reduce` over the index
  // range — no init, but 0.0 + x == x exactly so the partial sums
  // coincide), which is what makes the cosine chains hash-exact. All
  // call sites (hybrid/RRF/MMR, both engines) delegate here so the
  // order convention can never drift between copies.
  private def dotSpark(u: String, v: String): String =
    s"aggregate(zip_with($u, $v, (a, b) -> a * b), CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
  private def dotDuck(u: String, v: String): String =
    s"""list_reduce(list_transform(range(1, len($u) + 1),
       |      i -> $u[i] * $v[i]), (a, x) -> a + x)""".stripMargin

  private def queryTermsDf(documents: DataFrame,
      queries: Seq[(String, String)]): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    queries
      .flatMap { case (qid, q) => q.split(" ").distinct.map(qid -> _) }
      .toDF("qid", "term")
  }

  /** The postings list `(term, doc_id, dl, tf)` of the literal term set
    * `onlyTerms`: one `explode` + one groupBy — the only corpus-sized
    * shuffle of the whole retrieval pipeline.
    *
    * The exploded token stream is pruned to `onlyTerms` BEFORE the
    * groupBy (the [[proximitySearch]] trick: the downstream query-term
    * joins discard everything else anyway, but Catalyst cannot push an
    * inner-join filter through the aggregate, so without this the
    * corpus-wide (doc_id, dl, term) shuffle builds postings for the
    * whole vocabulary and then drops all but the handful of probe
    * terms — guide §2.3, shuffle fewer bytes). Per-term tf/df over the
    * surviving terms are unchanged: the filter commutes with a groupBy
    * that keys on `term`. */
  private def postings(documents: DataFrame, onlyTerms: Seq[String]): DataFrame =
    documents
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      // dl is functionally dependent on doc_id — keying the groupBy with
      // it costs nothing and saves a join back for length normalization
      .select(col("doc_id"), size(col("ts")).cast("double").as("dl"),
        explode(col("ts")).as("term"))
      .where(col("term").isin(onlyTerms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))

  /** BM25 top-`k` documents per query: `(qid, bm25_rank, doc_id,
    * score)`. `k1` saturates term frequency; `b` mixes in document
    * length normalization (0 = none, 1 = full). */
  def bm25Search(documents: DataFrame,
      queries: Seq[(String, String)] = DemoQueries, k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = documents.select(col("doc_id"), split(col("text"), " ").as("ts"))
    // query terms are a plan-time literal set: prune the postings
    // build to them (per-term tf and df are unchanged — see
    // [[postings]]); only the collection stats still need the full
    // corpus, and they come from the UN-exploded doc scan below
    val tf = postings(documents,
      queries.flatMap(_._2.split(" ")).distinct)
    val dfc = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = toks.agg(count(lit(1)).as("n"),
      sum(size(col("ts"))).cast("long").as("sumdl"))
    val avgdl = col("sumdl").cast("double") / col("n").cast("double")
    val idfQ = expr(
      """CAST(CAST(ln((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
        |  / (CAST(df AS DOUBLE) + 0.5) + 1.0) AS DECIMAL(18,9)) AS DOUBLE)"""
        .stripMargin)
    val tfNorm = col("tf") * lit(k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))

    val contrib = tf
      .join(broadcast(queryTermsDf(documents, queries)), Seq("term"))
      .join(broadcast(dfc), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("qid"), col("doc_id"),
        (idfQ * tfNorm).cast("decimal(28,12)").as("c"))
    // the exact decimal sum goes through DOUBLE before the final
    // quantize: DuckDB TRUNCATES decimal→decimal downscales while Spark
    // rounds, but both engines ROUND double→decimal identically (and
    // scale-12 decimal→double is correctly rounded in both)
    val scored = contrib
      .groupBy(col("qid"), col("doc_id"))
      .agg(expr(
        "CAST(CAST(CAST(sum(c) AS DOUBLE) AS DECIMAL(20,10)) AS DOUBLE)")
        .as("score"))
    scored
      .withColumn("bm25_rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
      .where(col("bm25_rank") <= k)
      .select(col("qid"), col("bm25_rank"), col("doc_id"), col("score"))
      .orderBy("qid", "bm25_rank")
  }

  /** Hybrid lexical→dense retrieval: BM25 recalls `kCand` candidates
    * per query, a pseudo-relevance-feedback query vector (Rocchio
    * 1971 / classic PRF: the element-wise mean of the top-`nPrf`
    * candidates' embeddings) re-ranks them by cosine, top-`k` kept —
    * the two-stage shape of production retrieval (cheap lexical
    * recall over the whole corpus, dense scoring only on candidates).
    *
    * Scale: stage 1 is [[bm25Search]] (corpus-sized work lives
    * there); stage 2 touches `|queries| · kCand` rows — joins against
    * the embedding table on its key and never scans vectors for
    * non-candidates. Determinism: the PRF fold and the dot products
    * run left-to-right over rank-sorted DOUBLE arrays (float
    * addition order would be engine-dependent; double conversion of
    * float32 is exact), and the final cosine is DECIMAL(20,10)-
    * quantized — the ranking key, doc_id tiebreak.
    * Output: `(qid, hybrid_rank, doc_id, bm25_score, cos_sim)`. */
  def hybridSearch(documents: DataFrame, embeddings: DataFrame,
      queries: Seq[(String, String)] = DemoQueries, kCand: Int = 50,
      nPrf: Int = 5, k: Int = 10): DataFrame = {
    val cands = bm25Search(documents, queries, kCand)
    val emb = embeddings.select(col("vec_id").as("doc_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
    val withEmb = cands.join(emb, Seq("doc_id"))
    val qvec = withEmb
      .where(col("bm25_rank") <= nPrf)
      .groupBy(col("qid"))
      .agg(sort_array(collect_list(
        struct(col("bm25_rank").as("r"), col("e").as("e")))).as("pe"))
      .select(col("qid"), expr(
        """transform(
          |  aggregate(slice(pe, 2, size(pe) - 1), pe[0].e,
          |    (acc, x) -> zip_with(acc, x.e, (a, b) -> a + b)),
          |  s -> s / CAST(size(pe) AS DOUBLE))""".stripMargin).as("q"))
    val dot = dotSpark _
    withEmb
      .join(broadcast(qvec), Seq("qid"))
      .select(col("qid"), col("doc_id"), col("score").as("bm25_score"),
        expr(s"""CAST(CAST(${dot("q", "e")} /
           |  (sqrt(${dot("q", "q")}) * sqrt(${dot("e", "e")}))
           | AS DECIMAL(20,10)) AS DOUBLE)""".stripMargin).as("cos_sim"))
      .withColumn("hybrid_rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("cos_sim").desc, col("doc_id").asc)).cast("long"))
      .where(col("hybrid_rank") <= k)
      .select(col("qid"), col("hybrid_rank"), col("doc_id"),
        col("bm25_score"), col("cos_sim"))
      .orderBy("qid", "hybrid_rank")
  }

  /** Reciprocal-rank fusion of the two rankers [[hybridSearch]]
    * already runs — BM25 lexical rank and PRF-vector cosine rank over
    * the same candidate set — combined as `1/(c+r₁) + 1/(c+r₂)`
    * (Cormack et al., SIGIR'09, c = 60). Rank-space fusion needs no
    * score calibration between rankers, which is why it is the default
    * in production hybrid stacks; scores here are exact rationals of
    * integer ranks, so the fused ordering is engine-portable by
    * construction. Same plan shape as [[hybridSearch]]: the dense
    * stage touches only the kCand shortlist. */
  def rrfFusion(documents: DataFrame, embeddings: DataFrame,
      queries: Seq[(String, String)] = DemoQueries, kCand: Int = 50,
      nPrf: Int = 5, k: Int = 10, c: Int = 60): DataFrame = {
    val cands = bm25Search(documents, queries, kCand)
    val emb = embeddings.select(col("vec_id").as("doc_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
    val withEmb = cands.join(emb, Seq("doc_id"))
    val qvec = withEmb
      .where(col("bm25_rank") <= nPrf)
      .groupBy(col("qid"))
      .agg(sort_array(collect_list(
        struct(col("bm25_rank").as("r"), col("e").as("e")))).as("pe"))
      .select(col("qid"), expr(
        """transform(
          |  aggregate(slice(pe, 2, size(pe) - 1), pe[0].e,
          |    (acc, x) -> zip_with(acc, x.e, (a, b) -> a + b)),
          |  s -> s / CAST(size(pe) AS DOUBLE))""".stripMargin).as("q"))
    val dot = dotSpark _
    withEmb
      .join(broadcast(qvec), Seq("qid"))
      .select(col("qid"), col("doc_id"), col("bm25_rank").cast("long").as("bm25_rank"),
        expr(s"""CAST(CAST(${dot("q", "e")} /
           |  (sqrt(${dot("q", "q")}) * sqrt(${dot("e", "e")}))
           | AS DECIMAL(20,10)) AS DOUBLE)""".stripMargin).as("cos_sim"))
      .withColumn("cos_rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("cos_sim").desc, col("doc_id").asc)).cast("long"))
      .withColumn("rrf_score", expr(
        s"""CAST(CAST(1.0 / ($c + bm25_rank) + 1.0 / ($c + cos_rank)
           | AS DECIMAL(20,12)) AS DOUBLE)""".stripMargin))
      .withColumn("rrf_rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("rrf_score").desc, col("doc_id").asc)).cast("long"))
      .where(col("rrf_rank") <= k)
      .select(col("qid"), col("rrf_rank"), col("doc_id"),
        col("bm25_rank"), col("cos_rank"), col("rrf_score"))
      .orderBy("qid", "rrf_rank")
  }

  /** The BM25 pipeline as shared CTEs ending in `r (qid, doc_id,
    * score, bm25_rank)` — the common prefix of [[bm25SearchSql]] and
    * [[hybridSearchSql]]. */
  private def bm25Ctes(queries: Seq[(String, String)], k1: Double,
      b: Double): String = {
    val qvals = queries
      .flatMap { case (qid, q) => q.split(" ").distinct.map(qid -> _) }
      .map { case (qid, t) => s"('$qid', '$t')" }.mkString(", ")
    s"""WITH q (qid, term) AS (VALUES $qvals),
       |toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |tfg AS (
       |  SELECT doc_id, len(ts)::DOUBLE AS dl, unnest(ts) AS term
       |  FROM toks),
       |tf AS (
       |  SELECT doc_id, dl, term, count(*)::DOUBLE AS tf
       |  FROM tfg GROUP BY 1, 2, 3),
       |dfc AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
       |stats AS (SELECT count(*)::BIGINT AS n, sum(len(ts))::BIGINT AS sumdl
       |  FROM toks),
       |contrib AS (
       |  SELECT q.qid, t.doc_id,
       |    CAST(CAST(CAST(ln((s.n::DOUBLE - d.df::DOUBLE + 0.5)
       |          / (d.df::DOUBLE + 0.5) + 1.0) AS DECIMAL(18,9)) AS DOUBLE)
       |      * (t.tf * ${k1 + 1.0} / (t.tf + $k1 *
       |          (${1.0 - b} + $b * t.dl / (s.sumdl::DOUBLE / s.n::DOUBLE))))
       |      AS DECIMAL(28,12)) AS c
       |  FROM tf t JOIN q USING (term) JOIN dfc d USING (term)
       |  CROSS JOIN stats s),
       |sc AS (
       |  SELECT qid, doc_id,
       |    CAST(CAST(CAST(sum(c) AS DOUBLE) AS DECIMAL(20,10)) AS DOUBLE)
       |      AS score
       |  FROM contrib GROUP BY 1, 2),
       |r AS (
       |  SELECT qid, doc_id, score, row_number() OVER (PARTITION BY qid
       |    ORDER BY score DESC, doc_id) AS bm25_rank
       |  FROM sc)""".stripMargin
  }

  def bm25SearchSql(queries: Seq[(String, String)] = DemoQueries,
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75): String =
    s"""${bm25Ctes(queries, k1, b)}
       |SELECT qid, CAST(bm25_rank AS BIGINT) AS bm25_rank, doc_id, score
       |FROM r WHERE bm25_rank <= $k ORDER BY qid, bm25_rank""".stripMargin

  /** DuckDB replay of [[hybridSearch]]: the PRF fold and dot products
    * via `list_reduce` in the same left-to-right rank order as the
    * Spark `aggregate` calls (an engine's own `sum()` over vector
    * components has no order guarantee — a fold does). */
  def hybridSearchSql(queries: Seq[(String, String)] = DemoQueries,
      kCand: Int = 50, nPrf: Int = 5, k: Int = 10, k1: Double = 1.2,
      b: Double = 0.75): String = {
    def dot(u: String, v: String) = dotDuck(u, v)
    s"""${bm25Ctes(queries, k1, b)},
       |e AS (SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS e
       |  FROM embeddings),
       |we AS (
       |  SELECT r.qid, r.doc_id, r.score, r.bm25_rank, e.e
       |  FROM r JOIN e USING (doc_id) WHERE r.bm25_rank <= $kCand),
       |pe AS (
       |  SELECT qid, list(e ORDER BY bm25_rank) AS pes
       |  FROM we WHERE bm25_rank <= $nPrf GROUP BY qid),
       |qv AS (
       |  SELECT qid,
       |    list_transform(
       |      list_reduce(pes, (acc, x) ->
       |        list_transform(range(1, len(acc) + 1), i -> acc[i] + x[i])),
       |      s -> s / len(pes)::DOUBLE) AS q
       |  FROM pe),
       |hsc AS (
       |  SELECT we.qid, we.doc_id, we.score AS bm25_score,
       |    CAST(CAST(${dot("qv.q", "we.e")}
       |        / (sqrt(${dot("qv.q", "qv.q")}) * sqrt(${dot("we.e", "we.e")}))
       |      AS DECIMAL(20,10)) AS DOUBLE) AS cos_sim
       |  FROM we JOIN qv USING (qid)),
       |h AS (
       |  SELECT qid, doc_id, bm25_score, cos_sim,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY cos_sim DESC, doc_id) AS hybrid_rank
       |  FROM hsc)
       |SELECT qid, CAST(hybrid_rank AS BIGINT) AS hybrid_rank, doc_id,
       |  bm25_score, cos_sim
       |FROM h WHERE hybrid_rank <= $k ORDER BY qid, hybrid_rank""".stripMargin
  }

  def rrfFusionSql(queries: Seq[(String, String)] = DemoQueries,
      kCand: Int = 50, nPrf: Int = 5, k: Int = 10, c: Int = 60,
      k1: Double = 1.2, b: Double = 0.75): String = {
    def dot(u: String, v: String) = dotDuck(u, v)
    s"""${bm25Ctes(queries, k1, b)},
       |e AS (SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS e
       |  FROM embeddings),
       |we AS (
       |  SELECT r.qid, r.doc_id, r.bm25_rank, e.e
       |  FROM r JOIN e USING (doc_id) WHERE r.bm25_rank <= $kCand),
       |pe AS (
       |  SELECT qid, list(e ORDER BY bm25_rank) AS pes
       |  FROM we WHERE bm25_rank <= $nPrf GROUP BY qid),
       |qv AS (
       |  SELECT qid,
       |    list_transform(
       |      list_reduce(pes, (acc, x) ->
       |        list_transform(range(1, len(acc) + 1), i -> acc[i] + x[i])),
       |      s -> s / len(pes)::DOUBLE) AS q
       |  FROM pe),
       |csc AS (
       |  SELECT we.qid, we.doc_id, CAST(we.bm25_rank AS BIGINT) AS bm25_rank,
       |    CAST(CAST(${dot("qv.q", "we.e")}
       |        / (sqrt(${dot("qv.q", "qv.q")}) * sqrt(${dot("we.e", "we.e")}))
       |      AS DECIMAL(20,10)) AS DOUBLE) AS cos_sim
       |  FROM we JOIN qv USING (qid)),
       |cr AS (
       |  SELECT qid, doc_id, bm25_rank,
       |    CAST(row_number() OVER (PARTITION BY qid
       |      ORDER BY cos_sim DESC, doc_id) AS BIGINT) AS cos_rank
       |  FROM csc),
       |rr AS (
       |  SELECT qid, doc_id, bm25_rank, cos_rank,
       |    CAST(CAST(1.0 / ($c + bm25_rank) + 1.0 / ($c + cos_rank)
       |      AS DECIMAL(20,12)) AS DOUBLE) AS rrf_score
       |  FROM cr),
       |rk AS (
       |  SELECT qid, doc_id, bm25_rank, cos_rank, rrf_score,
       |    CAST(row_number() OVER (PARTITION BY qid
       |      ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rrf_rank
       |  FROM rr)
       |SELECT qid, rrf_rank, doc_id, bm25_rank, cos_rank, rrf_score
       |FROM rk WHERE rrf_rank <= $k ORDER BY qid, rrf_rank""".stripMargin
  }

  /** Deterministic term-pair probes for [[proximitySearch]] (the
    * [[DemoQueries]] vocabulary). */
  val ProximityQueries: Seq[(String, String, String)] = Seq(
    ("p_hash_join", "hash", "join"),
    ("p_table_scan", "table", "scan"),
    ("p_stream_window", "stream", "window"),
    ("p_sort_merge", "sort", "merge"))

  /** PROXIMITY search — the positions-aware retrieval face BM25 lacks:
    * for each `(qid, term_a, term_b)` probe, find documents where the
    * two terms occur within `window` token positions and rank by the
    * minimum gap (phrase-ish matching; a curation pipeline uses
    * exactly this to find boilerplate collocations and benchmark
    * phrasings that bag-of-words scoring dilutes).
    *
    * Scale shape: POSITIONAL postings built once — one posexplode +
    * one (doc_id, term) groupBy whose per-group state is the term's
    * position list within one document (bounded by document length,
    * the repo's bounded-per-doc discipline) — then the tiny probe
    * table BROADCASTS into the postings and the b-side resolves
    * through one (doc_id, term) equi-join, so each (query, doc) pair
    * is ONE row with two position arrays; the min-gap is an in-row
    * O(tf_a·tf_b) fold, never a row explosion. Per-query top-k is the
    * `row_number ≤ k` idiom (Spark's sorted `Window`, `WindowGroupLimit`
    * trims before the shuffle). Output: (qid, prox_rank, doc_id, min_gap). */
  def proximitySearch(documents: DataFrame,
      queries: Seq[(String, String, String)] = ProximityQueries,
      window: Int = 8, k: Int = 10): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val qdf = queries.toDF("qid", "term_a", "term_b")
    // The probe-term set is driver-side and tiny: filter the token
    // stream to it BEFORE the postings groupBy. The joins below keep
    // only probe terms anyway, but Catalyst cannot push that predicate
    // through the aggregate, so without this the corpus-wide
    // (doc_id, term) shuffle builds postings for the whole vocabulary
    // and then discards all but ~8 terms.
    val probeTerms = queries.flatMap { case (_, a, b) => Seq(a, b) }.distinct
    val pos = documents
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
      .where(col("term").isin(probeTerms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
    pos
      .join(broadcast(qdf), col("term") === col("term_a"))
      .select(col("qid"), col("doc_id"), col("ps").as("pa"), col("term_b"))
      .join(pos.select(col("doc_id"), col("term").as("term_b"),
        col("ps").as("pb")), Seq("doc_id", "term_b"))
      .withColumn("min_gap", expr(
        "array_min(flatten(transform(pa, x -> transform(pb, y -> abs(x - y)))))")
        .cast("long"))
      .where(col("min_gap") <= window)
      .withColumn("prox_rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("min_gap").asc, col("doc_id").asc)).cast("long"))
      .where(col("prox_rank") <= k)
      .select(col("qid"), col("prox_rank"), col("doc_id"), col("min_gap"))
      .orderBy("qid", "prox_rank")
  }

  /** DuckDB replay of [[proximitySearch]]: positional token stream,
    * relational min-gap per (query, doc), same (gap, doc_id) rank. */
  def proximitySearchSql(window: Int = 8, k: Int = 10): String = {
    val vals = ProximityQueries
      .map { case (q, a, b) => s"('$q', '$a', '$b')" }.mkString(", ")
    s"""WITH qp AS (
       |  SELECT * FROM (VALUES $vals) q(qid, term_a, term_b)),
       |tp AS (
       |  SELECT doc_id, tok AS term, idx - 1 AS pos FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
       |      generate_subscripts(string_split(text, ' '), 1) AS idx
       |    FROM documents)),
       |mg AS (
       |  SELECT q.qid, a.doc_id, min(abs(a.pos - b.pos)) AS min_gap
       |  FROM qp q
       |  JOIN tp a ON a.term = q.term_a
       |  JOIN tp b ON b.doc_id = a.doc_id AND b.term = q.term_b
       |  GROUP BY 1, 2),
       |pr AS (
       |  SELECT qid, doc_id, min_gap,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY min_gap, doc_id) AS prox_rank
       |  FROM mg WHERE min_gap <= $window)
       |SELECT qid, prox_rank::BIGINT AS prox_rank, doc_id,
       |  min_gap::BIGINT AS min_gap
       |FROM pr WHERE prox_rank <= $k
       |ORDER BY qid, prox_rank""".stripMargin
  }

  /** Query-likelihood retrieval with Dirichlet smoothing (Ponte &
    * Croft 1998's LM ranking; Zhai & Lafferty 2001's Dirichlet prior)
    * — the language-model face of lexical retrieval that [[bm25Search]]
    * doesn't cover: rank by log P(q|d) under a document LM smoothed
    * toward the collection model,
    * `score = Σ_t log((tf_td + μ·p_t) / (dl_d + μ))`, `p_t = cf_t/|C|`.
    *
    * Computed via the standard sparse decomposition
    * `Σ_{t∈q∩d} ln(1 + tf/(μ·p_t)) + m_q · ln(μ/(dl_d + μ))` so only
    * MATCHED postings are touched (the absent-term mass folds into the
    * per-document constant, `m_q` = the query's in-collection term
    * count) — same candidate pruning as BM25: a document scores only
    * if it shares ≥ 1 term with the query. Query terms absent from the
    * collection have `p_t = 0` and drop out (the standard convention;
    * both engines prune them with the same cf join).
    *
    * Plan shape = [[bm25Search]]'s: [[postings]] is the one
    * corpus-sized shuffle; collection frequencies aggregate term-keyed
    * then broadcast back pruned to query terms; stats are a 1-row
    * broadcast; per-query top-k is the `row_number ≤ k` bounded-heap
    * idiom.
    *
    * Cross-engine exactness (SCALE.md §8 conventions, stricter than
    * BM25's decimal dance): every `ln` is floor-quantized to integer
    * nanos (`floor(ln(x)·1e9 + 0.5)` — pure IEEE multiply/add/floor on
    * identical operands), all sums and the rank key are then BIGINT
    * (exact, order-independent), and the published score is one final
    * int→double cast (< 2⁵³) and one division. Output:
    * `(qid, ql_rank, doc_id, score)`. */
  def qlDirichletSearch(documents: DataFrame,
      queries: Seq[(String, String)] = DemoQueries, k: Int = 10,
      mu: Double = 300.0): DataFrame = {
    // postings pruned to the literal query-term set (see [[postings]]
    // — cf per query term is unchanged); the collection token total,
    // which a pruned postings stream can no longer supply, comes from
    // the un-exploded doc scan: Σ dl ≡ Σ tf, and integer-valued
    // doubles below 2^53 sum exactly in any order
    val ctot = documents
      .select(size(split(col("text"), " ")).cast("long").as("dl"))
      .agg(sum(col("dl")).cast("long").as("ctot"))
    val tf = postings(documents, queries.flatMap(_._2.split(" ")).distinct)
    val qterms = queryTermsDf(documents, queries)
    // collection term frequency, pruned to query terms at the join
    // (cf is vocab-sized — qterms broadcasts INTO it, never the
    // reverse). The post-join frame
    // is query-bounded (≤ |queries|·|query terms| rows), so collect it
    // ONCE: both consumers (the scoring broadcast and m_q) would
    // otherwise each re-execute the vocab-sized postings aggregation
    // behind it.
    val qcfAgg = tf.groupBy(col("term"))
      .agg(sum(col("tf")).cast("long").as("cf"))
      .join(broadcast(qterms), Seq("term"))
    val qcfRows = qcfAgg.collect()
    val qcf = tf.sparkSession.createDataFrame(
      java.util.Arrays.asList(qcfRows: _*), qcfAgg.schema)
    // m_q: the query's in-collection distinct-term count (drives the
    // absent-term constant; bounded by query length)
    val mq = qcf.groupBy(col("qid")).agg(count(lit(1)).as("m"))
    val matched = tf
      .join(broadcast(qcf), Seq("term"))
      .crossJoin(broadcast(ctot))
      .select(col("qid"), col("doc_id"), col("dl"),
        expr(s"""CAST(floor(ln(1.0d + tf / ($mu *
                |  (CAST(cf AS DOUBLE) / CAST(ctot AS DOUBLE))))
                |  * 1000000000.0d + 0.5d) AS BIGINT)""".stripMargin)
          .as("c"))
    matched
      // dl is functionally dependent on doc_id (postings carries it)
      .groupBy(col("qid"), col("doc_id"), col("dl"))
      .agg(sum(col("c")).as("sm"))
      .join(broadcast(mq), Seq("qid"))
      .withColumn("si", col("sm") + col("m") *
        expr(s"""CAST(floor(ln($mu / (dl + $mu))
                |  * 1000000000.0d + 0.5d) AS BIGINT)""".stripMargin))
      .withColumn("ql_rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("si").desc, col("doc_id").asc)).cast("long"))
      .where(col("ql_rank") <= k)
      .select(col("qid"), col("ql_rank"), col("doc_id"),
        (col("si").cast("double") / lit(1000000000.0)).as("score"))
      .orderBy("qid", "ql_rank")
  }

  /** DuckDB replay of [[qlDirichletSearch]]: same postings, same
    * floor-quantized integer-nanos log arithmetic, same
    * (si DESC, doc_id) rank — BIGINT-exact end to end. */
  def qlDirichletSearchSql(k: Int = 10, mu: Double = 300.0): String = {
    val vals = DemoQueries
      .flatMap { case (qid, q) => q.split(" ").distinct.map(qid -> _) }
      .map { case (qid, t) => s"('$qid', '$t')" }.mkString(", ")
    s"""WITH tk AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
       |    unnest(string_split(text, ' ')) AS term
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, dl, term, count(*)::DOUBLE AS tf
       |  FROM tk GROUP BY 1, 2, 3),
       |q AS (SELECT * FROM (VALUES $vals) v(qid, term)),
       |qcf AS (
       |  SELECT q.qid, c.term, c.cf FROM q JOIN (
       |    SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1
       |  ) c USING (term)),
       |st AS (SELECT CAST(sum(tf) AS BIGINT) AS ctot FROM tf),
       |mq AS (SELECT qid, count(*) AS m FROM qcf GROUP BY 1),
       |mc AS (
       |  SELECT qcf.qid, tf.doc_id, tf.dl,
       |    CAST(floor(ln(1.0 + tf.tf / ($mu *
       |      (CAST(qcf.cf AS DOUBLE) / CAST(st.ctot AS DOUBLE))))
       |      * 1000000000.0 + 0.5) AS BIGINT) AS c
       |  FROM tf JOIN qcf ON tf.term = qcf.term, st),
       |sc AS (
       |  SELECT qid, doc_id, dl, CAST(sum(c) AS BIGINT) AS sm
       |  FROM mc GROUP BY 1, 2, 3),
       |fin AS (
       |  SELECT sc.qid, sc.doc_id,
       |    sc.sm + mq.m * CAST(floor(ln($mu / (sc.dl + $mu))
       |      * 1000000000.0 + 0.5) AS BIGINT) AS si
       |  FROM sc JOIN mq USING (qid)),
       |rk AS (
       |  SELECT qid, doc_id, si,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY si DESC, doc_id) AS ql_rank
       |  FROM fin)
       |SELECT qid, CAST(ql_rank AS BIGINT) AS ql_rank, doc_id,
       |  CAST(si AS DOUBLE) / 1000000000.0 AS score
       |FROM rk WHERE ql_rank <= $k ORDER BY qid, ql_rank""".stripMargin
  }

  /** Maximal-marginal-relevance diversification re-rank over the
    * [[bm25Search]] candidates (Carbonell & Goldstein, SIGIR 1998:
    * greedily pick argmax λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) — the
    * classic redundancy killer between first-stage retrieval and an
    * LLM context window, where near-duplicate passages waste tokens).
    * λ = 0.7; rel = the BM25 score, sim = embedding cosine
    * (the [[hybridSearch]] dot-fold convention, quantized
    * DECIMAL(20,10)); the first pick is pure relevance. Deterministic
    * throughout — argmax ties break on doc_id, every mmr score
    * quantizes through DECIMAL(18,9) — so the full greedy trajectory
    * replays as `k` unrolled CTEs in the oracle.
    *
    * Scale shape: the candidate set is kCand per query (bounded by
    * construction), so everything after the BM25 run — the kCand²-
    * per-query pairwise sims, the k greedy rounds — is bounded work
    * independent of corpus size; candidates and each round's picked
    * set are persisted (each is referenced by every later round — the
    * [[graft.operators.Preference.btStrength]] plan-doubling lesson).
    * Candidates without an embedding row drop before the re-rank
    * (the hybridSearch join convention).
    *
    * Output: (qid, mmr_rank 1..k, doc_id, bm25_score, max_sim,
    * mmr_score) ordered by (qid, mmr_rank); max_sim is NULL on the
    * first pick. */
  def mmrRerank(documents: DataFrame, embeddings: DataFrame,
      queries: Seq[(String, String)] = DemoQueries, kCand: Int = 20,
      k: Int = 5): DataFrame = {
    val emb = embeddings.select(col("vec_id").as("doc_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
    val cands = bm25Search(documents, queries, kCand)
      .join(emb, Seq("doc_id"))
      .select(col("qid"), col("doc_id"), col("score"), col("e"))
      .persist()
    val dot = dotSpark _
    val sims = cands
      .select(col("qid"), col("doc_id").as("da"), col("e").as("ea"))
      .join(cands.select(col("qid"), col("doc_id").as("db"),
        col("e").as("eb")), Seq("qid"))
      .where(col("da") =!= col("db"))
      .select(col("qid"), col("da"), col("db"),
        expr(s"""CAST(CAST(${dot("ea", "eb")} /
           |  (sqrt(${dot("ea", "ea")}) * sqrt(${dot("eb", "eb")}))
           | AS DECIMAL(20,10)) AS DOUBLE)""".stripMargin).as("cos"))
      .persist()
    val w1 = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("doc_id").asc)
    // each round's picked set is LAZILY localCheckpoint'ed, not
    // persisted: round t's pick references round t−1's set twice and
    // unions onto it, and under persist the nested cached-union
    // lineage made the DRIVER's planning cost double per round
    // (measured 0.95/1.44/2.45/7.94 s for rounds 2–5); the checkpoint
    // truncates the plan at a ≤k·|queries|-row RDD per round while
    // staying lazy at construction (the rankByRange trade — blocks
    // release via the ContextCleaner, recompute-on-executor-loss
    // does not apply to a bounded driver-adjacent frame)
    var all = cands
      .withColumn("rn", row_number().over(w1)).where(col("rn") === 1)
      .select(col("qid"), col("doc_id"), lit(1L).as("mmr_rank"),
        col("score").as("bm25_score"),
        lit(null).cast("double").as("max_sim"),
        expr("CAST(CAST(0.7 * score AS DECIMAL(18,9)) AS DOUBLE)")
          .as("mmr_score"))
      .localCheckpoint(false)
    for (t <- 2 to k) {
      val pickedIds = all.select(col("qid"), col("doc_id"))
      val pick = cands
        .join(pickedIds, Seq("qid", "doc_id"), "left_anti")
        .select(col("qid"), col("doc_id"), col("score"))
        .join(sims.select(col("qid"), col("da").as("doc_id"),
          col("db").as("other"), col("cos")), Seq("qid", "doc_id"))
        .join(pickedIds.select(col("qid"), col("doc_id").as("other")),
          Seq("qid", "other"))
        .groupBy(col("qid"), col("doc_id"), col("score"))
        .agg(max(col("cos")).as("max_sim"))
        .withColumn("mmr_score", expr(
          "CAST(CAST(0.7 * score - 0.3 * max_sim AS DECIMAL(18,9)) AS DOUBLE)"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("mmr_score").desc, col("doc_id").asc)))
        .where(col("rn") === 1)
        .select(col("qid"), col("doc_id"), lit(t.toLong).as("mmr_rank"),
          col("score").as("bm25_score"), col("max_sim"),
          col("mmr_score"))
      all = all.unionAll(pick).localCheckpoint(false)
    }
    all.orderBy("qid", "mmr_rank")
  }

  /** DuckDB replay of [[mmrRerank]]: the shared [[bm25Ctes]] body, the
    * hybridSearch dot fold, and the greedy trajectory unrolled as one
    * CTE pair (pick, picked-set) per round. */
  def mmrRerankSql(queries: Seq[(String, String)] = DemoQueries,
      kCand: Int = 20, k: Int = 5, k1: Double = 1.2,
      b: Double = 0.75): String = {
    def dot(u: String, v: String) = dotDuck(u, v)
    val steps = (2 to k).map { t =>
      s"""s$t AS (
         |  SELECT qid, doc_id, CAST($t AS BIGINT) AS mmr_rank,
         |    score AS bm25_score, max_sim, mmr_score
         |  FROM (
         |    SELECT m.*, row_number() OVER (PARTITION BY qid
         |      ORDER BY mmr_score DESC, doc_id) AS rn
         |    FROM (
         |      SELECT c.qid, c.doc_id, c.score,
         |        max(s.cos) AS max_sim,
         |        CAST(CAST(0.7 * c.score - 0.3 * max(s.cos)
         |          AS DECIMAL(18,9)) AS DOUBLE) AS mmr_score
         |      FROM c
         |      JOIN sims s ON s.qid = c.qid AND s.da = c.doc_id
         |      JOIN p${t - 1} p ON p.qid = s.qid AND p.doc_id = s.db
         |      WHERE NOT EXISTS (SELECT 1 FROM p${t - 1} x
         |        WHERE x.qid = c.qid AND x.doc_id = c.doc_id)
         |      GROUP BY c.qid, c.doc_id, c.score) m) mm
         |  WHERE rn = 1),
         |p$t AS (SELECT qid, doc_id FROM p${t - 1}
         |        UNION ALL SELECT qid, doc_id FROM s$t)""".stripMargin
    }.mkString(",\n")
    val unionAll = (1 to k).map(t => s"SELECT * FROM s$t")
      .mkString("\n  UNION ALL ")
    s"""${bm25Ctes(queries, k1, b)},
       |e AS (SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS e
       |  FROM embeddings),
       |c AS (SELECT r.qid, r.doc_id, r.score, e.e
       |  FROM r JOIN e USING (doc_id) WHERE r.bm25_rank <= $kCand),
       |sims AS (
       |  SELECT a.qid, a.doc_id AS da, b.doc_id AS db,
       |    CAST(CAST(${dot("a.e", "b.e")} /
       |      (sqrt(${dot("a.e", "a.e")}) * sqrt(${dot("b.e", "b.e")}))
       |     AS DECIMAL(20,10)) AS DOUBLE) AS cos
       |  FROM c a JOIN c b ON a.qid = b.qid AND a.doc_id <> b.doc_id),
       |s1 AS (
       |  SELECT qid, doc_id, CAST(1 AS BIGINT) AS mmr_rank,
       |    score AS bm25_score, CAST(NULL AS DOUBLE) AS max_sim,
       |    CAST(CAST(0.7 * score AS DECIMAL(18,9)) AS DOUBLE)
       |      AS mmr_score
       |  FROM (SELECT c.*, row_number() OVER (PARTITION BY qid
       |    ORDER BY score DESC, doc_id) AS rn FROM c) cc
       |  WHERE rn = 1),
       |p1 AS (SELECT qid, doc_id FROM s1),
       |$steps
       |SELECT * FROM (
       |  $unionAll) u
       |ORDER BY qid, mmr_rank""".stripMargin
  }

  // nDCG gain term, engine-verbatim up to dialect (2^rel − 1 is
  // integer-exact at rel ≤ |query terms|; log2 via ln/ln with the
  // whole term quantized — the idf convention above)
  private def dcgTermSpark(relCol: String, rankCol: String): String =
    s"""CAST(CAST(
       |  CAST(shiftleft(1, CAST($relCol AS INT)) - 1 AS DOUBLE)
       |  / (ln(CAST($rankCol + 1 AS DOUBLE)) / ln(2.0))
       |AS DECIMAL(18,9)) AS DOUBLE)""".stripMargin

  /** Ranking-quality metrics over the [[bm25Search]] run — the
    * retrieval-evals readout (Järvelin & Kekäläinen, "Cumulated
    * gain-based evaluation of IR techniques", TOIS 2002: DCG@k =
    * Σ (2^rel − 1)/log₂(rank+1), normalized by the ideal ordering;
    * plus binary MRR). Relevance judgments are deterministic graded
    * qrels derivable by any engine: rel(q, d) = number of DISTINCT
    * query terms the document contains (the ideal ranking puts
    * all-terms documents first), with "fully relevant" (rel = |q|)
    * as the MRR binary. This closes the eval loop on the retrieval
    * stack the repo already ships (bm25 / proximity / hybrid / QL):
    * the same faces a search pipeline tunes against.
    *
    * Scale shape: the BM25 run is [[bm25Search]] unchanged; the qrels
    * table is one postings-keyed broadcast join + a (qid, doc)
    * aggregate (bounded by docs matching ≥1 query term); the ideal
    * ranking is a per-qid top-k window over the qrels (the bm25_rank
    * machinery); everything then folds to ONE row per query. Gain
    * terms quantize through DECIMAL(18,9) and sum as decimals
    * (order-free); 2^rel − 1 is integer-exact.
    *
    * Output: (qid, n_rel, n_full, dcg, idcg, ndcg, mrr) ordered by
    * qid — n_rel = corpus docs matching ≥1 term, n_full = docs
    * matching all terms; mrr = 1/rank of the first fully-relevant
    * doc in the top-k, 0.0 when none. */
  def retrievalNdcg(documents: DataFrame,
      queries: Seq[(String, String)] = DemoQueries,
      k: Int = 10): DataFrame = {
    val ranked = bm25Search(documents, queries, k)
    val qt = queryTermsDf(documents, queries)
    // pruned to the literal query-term set before the groupBy — the
    // qrels join keeps only those terms anyway (see [[postings]])
    val rel = postings(documents, queries.flatMap(_._2.split(" ")).distinct)
      .join(broadcast(qt), Seq("term"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("rel"))
    val nq = qt.groupBy(col("qid")).agg(count(lit(1)).as("n_terms"))
    val dcg = ranked
      .join(rel, Seq("qid", "doc_id"))
      .groupBy(col("qid"))
      .agg(sum(expr("CAST(" + dcgTermSpark("rel", "bm25_rank")
        + " AS DECIMAL(18,9))")).as("dcg_d"))
    val ideal = rel
      .withColumn("irank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("rel").desc, col("doc_id").asc)).cast("long"))
      .where(col("irank") <= k)
      .groupBy(col("qid"))
      .agg(sum(expr("CAST(" + dcgTermSpark("rel", "irank")
        + " AS DECIMAL(18,9))")).as("idcg_d"))
    val relStats = rel.join(broadcast(nq), Seq("qid"))
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_rel"),
        sum(when(col("rel") === col("n_terms"), 1L).otherwise(0L))
          .as("n_full"))
    val firstFull = ranked
      .join(rel, Seq("qid", "doc_id"))
      .join(broadcast(nq), Seq("qid"))
      .where(col("rel") === col("n_terms"))
      .groupBy(col("qid"))
      .agg(min(col("bm25_rank")).as("first_full_rank"))
    relStats
      .join(dcg, Seq("qid"))
      .join(ideal, Seq("qid"))
      .join(firstFull, Seq("qid"), "left")
      .select(col("qid"), col("n_rel"), col("n_full"),
        expr("CAST(dcg_d AS DOUBLE)").as("dcg"),
        expr("CAST(idcg_d AS DOUBLE)").as("idcg"),
        expr(
          """CASE WHEN CAST(idcg_d AS DOUBLE) > 0.0 THEN
            |  CAST(CAST(CAST(dcg_d AS DOUBLE) / CAST(idcg_d AS DOUBLE)
            |  AS DECIMAL(18,9)) AS DOUBLE)
            |ELSE CAST(0.0 AS DOUBLE) END""".stripMargin).as("ndcg"),
        expr(
          """CASE WHEN first_full_rank IS NOT NULL THEN
            |  CAST(CAST(1.0 / CAST(first_full_rank AS DOUBLE)
            |  AS DECIMAL(18,9)) AS DOUBLE)
            |ELSE CAST(0.0 AS DOUBLE) END""".stripMargin).as("mrr"))
      .orderBy("qid")
  }

  /** DuckDB replay of [[retrievalNdcg]]: the shared [[bm25Ctes]] body,
    * the identical qrels aggregate, the identical quantized gain
    * chain on both the run and the ideal ordering. */
  def retrievalNdcgSql(queries: Seq[(String, String)] = DemoQueries,
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75): String = {
    def dcgTerm(relCol: String, rankCol: String): String =
      s"""CAST(CAST(
         |  CAST((1 << CAST($relCol AS INT)) - 1 AS DOUBLE)
         |  / (ln(CAST($rankCol + 1 AS DOUBLE)) / ln(2.0))
         |AS DECIMAL(18,9)) AS DOUBLE)""".stripMargin
    s"""${bm25Ctes(queries, k1, b)},
       |rel AS (
       |  SELECT q.qid, t.doc_id, count(*)::BIGINT AS rel
       |  FROM tf t JOIN q USING (term) GROUP BY 1, 2),
       |nq AS (SELECT qid, count(*)::BIGINT AS n_terms FROM q GROUP BY 1),
       |topk AS (SELECT qid, doc_id, bm25_rank FROM r
       |         WHERE bm25_rank <= $k),
       |dcg AS (
       |  SELECT t.qid,
       |    sum(CAST(${dcgTerm("rel.rel", "t.bm25_rank")}
       |      AS DECIMAL(18,9))) AS dcg_d
       |  FROM topk t JOIN rel ON t.qid = rel.qid AND t.doc_id = rel.doc_id
       |  GROUP BY 1),
       |irk AS (
       |  SELECT qid, rel, row_number() OVER (PARTITION BY qid
       |    ORDER BY rel DESC, doc_id) AS irank
       |  FROM rel),
       |ideal AS (
       |  SELECT qid,
       |    sum(CAST(${dcgTerm("rel", "irank")} AS DECIMAL(18,9)))
       |      AS idcg_d
       |  FROM irk WHERE irank <= $k GROUP BY 1),
       |rs AS (
       |  SELECT rel.qid, count(*)::BIGINT AS n_rel,
       |    CAST(sum(CASE WHEN rel.rel = nq.n_terms THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_full
       |  FROM rel JOIN nq USING (qid) GROUP BY 1),
       |ff AS (
       |  SELECT t.qid, min(t.bm25_rank) AS first_full_rank
       |  FROM topk t JOIN rel ON t.qid = rel.qid AND t.doc_id = rel.doc_id
       |  JOIN nq ON nq.qid = t.qid
       |  WHERE rel.rel = nq.n_terms GROUP BY 1)
       |SELECT rs.qid, rs.n_rel, rs.n_full,
       |  CAST(dcg_d AS DOUBLE) AS dcg,
       |  CAST(idcg_d AS DOUBLE) AS idcg,
       |  CASE WHEN CAST(idcg_d AS DOUBLE) > 0.0 THEN
       |    CAST(CAST(CAST(dcg_d AS DOUBLE) / CAST(idcg_d AS DOUBLE)
       |    AS DECIMAL(18,9)) AS DOUBLE)
       |  ELSE CAST(0.0 AS DOUBLE) END AS ndcg,
       |  CASE WHEN first_full_rank IS NOT NULL THEN
       |    CAST(CAST(1.0 / CAST(first_full_rank AS DOUBLE)
       |    AS DECIMAL(18,9)) AS DOUBLE)
       |  ELSE CAST(0.0 AS DOUBLE) END AS mrr
       |FROM rs JOIN dcg USING (qid) JOIN ideal USING (qid)
       |LEFT JOIN ff USING (qid)
       |ORDER BY qid""".stripMargin
  }
}
