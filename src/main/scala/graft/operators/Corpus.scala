package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-preparation operators a large-scale training-data pipeline
  * runs between raw ingest and tokenized shards: deterministic
  * train/validation splitting, benchmark decontamination, sequence
  * chunking, and pattern redaction.
  *
  * Scale design: splits and chunk layouts are pure per-row expressions
  * (no shuffle); decontamination is an inverted-index join where the
  * benchmark side — always tiny next to the corpus — builds the
  * postings that the corpus stream probes.
  */
object Corpus {

  /** Deterministic 0-99 bucket from a column's MD5 (content-stable:
    * re-running the pipeline, or running it on another engine, assigns
    * every row the same bucket — the property that makes a train/val
    * split reproducible). 15 hex chars keep the value positive in
    * signed 64. */
  private[graft] def hashBucket(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long") % 100

  /** Train/validation split by doc_id hash: stable under re-runs,
    * insertion-order independent, and skew-free. `valPct` of docs land
    * in 'val'. */
  def hashSplit(documents: DataFrame, valPct: Int = 10): DataFrame =
    documents.select(col("doc_id"),
      when(hashBucket(col("doc_id")) < valPct, lit("val"))
        .otherwise(lit("train")).as("split"))
      .orderBy("doc_id")

  def hashSplitSql(valPct: Int = 10): String =
    s"""SELECT doc_id,
       |  CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100
       |    < $valPct THEN 'val' ELSE 'train' END AS split
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Per-source corpus data card: the one-scan summary a pipeline
    * publishes next to each training mix — doc/token/char volumes,
    * language spread, and doc-length extremes per source. Everything
    * is integer except the mean (quantized through DECIMAL so the
    * float column hash-matches across engines). One shuffle of
    * |sources| aggregation cells; token counting rides the scan. */
  def corpusProfile(documents: DataFrame): DataFrame =
    documents
      .select(col("source"), col("lang"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        countDistinct(col("lang")).as("n_langs"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        expr("""CAST(CAST(CAST(sum(n_tokens) AS DOUBLE) / count(1)
          | AS DECIMAL(20,8)) AS DOUBLE)""".stripMargin).as("mean_tokens"))
      .orderBy("source")

  def corpusProfileSql(): String =
    """SELECT source, count(*)::BIGINT AS n_docs,
      |  sum(n_tokens)::BIGINT AS total_tokens,
      |  sum(n_chars)::BIGINT AS total_chars,
      |  count(DISTINCT lang)::BIGINT AS n_langs,
      |  min(n_tokens)::BIGINT AS min_tokens,
      |  max(n_tokens)::BIGINT AS max_tokens,
      |  CAST(CAST(CAST(sum(n_tokens) AS DOUBLE) / count(*)
      |    AS DECIMAL(20,8)) AS DOUBLE) AS mean_tokens
      |FROM (
      |  SELECT source, lang, n_chars,
      |    len(string_split(text, ' '))::BIGINT AS n_tokens
      |  FROM documents)
      |GROUP BY source ORDER BY source""".stripMargin

  /** Stratified split with EXACT per-stratum proportions: within each
    * `source`, docs are ranked by content-stable hash and the first
    * floor(n·valPct/100) become 'val'. [[hashSplit]] only hits valPct in
    * expectation — fine for train shards, wrong for a 500-doc eval
    * stratum where ±3% is material. Hash-ordered ranking keeps the
    * selection insertion-order independent and reproducible across
    * engines.
    *
    * Scale: one shuffle clustering each stratum, then a per-stratum
    * sort-rank. Source cardinality is small, so a hot stratum owns one
    * task; if a stratum outgrows an executor, rank in two levels like
    * [[sequencePacking]]'s distributed prefix sum (per-salt rank +
    * broadcast per-salt offsets). Exact proportions are usually wanted
    * on eval-sized strata; petabyte train strata take [[hashSplit]]. */
  def stratifiedSplit(documents: DataFrame, valPct: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
    documents.select(col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(
        w.orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(w))
      .select(col("doc_id"), col("source"),
        when(col("rk") <= floor(col("n") * valPct / 100), lit("val"))
          .otherwise(lit("train")).as("split"))
      .orderBy("doc_id")
  }

  def stratifiedSplitSql(valPct: Int = 10): String =
    s"""SELECT doc_id, source,
       |  CASE WHEN rk <= floor(n * $valPct / 100) THEN 'val' ELSE 'train'
       |    END AS split
       |FROM (
       |  SELECT doc_id, source,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk,
       |    count(*) OVER (PARTITION BY source) AS n
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** Weighted dataset mixing: keep each doc with its source's sampling
    * rate (percent), decided by the same content-stable hash bucket as
    * [[hashSplit]] — so a 25% source keeps exactly the docs whose
    * bucket < 25, reproducibly across runs and engines. A pure per-row
    * expression (`element_at` on a map literal — no join, no shuffle):
    * the way a training pipeline downsamples over-represented sources
    * while streaming the corpus once. Unlisted sources keep
    * `defaultPct`. */
  /** Temperature-based mixture WEIGHT DERIVATION — the table that
    * produces the per-source sampling rates [[mixtureSample]] consumes
    * (the T5/LLaMA upsampling recipe: w_i ∝ n_i^α flattens the source
    * distribution so low-resource sources aren't drowned). Two weight
    * columns per source: `weight_prop` (α=1, proportional) and
    * `weight_temp` (α=0.5). α=0.5 is not arbitrary: IEEE `sqrt` is
    * CORRECTLY ROUNDED on every platform (unlike `pow`/`exp`, whose
    * libm tails differ), so the temperature weights are bit-exact
    * cross-engine and the face carries a full hash-exact oracle —
    * other α values keep the same plan shape but would need the
    * quantized-ln discipline. The sqrt masses sum through
    * DECIMAL(27,9) (ties impossible: sqrt of a non-square never
    * terminates, sqrt of a square is an exact integer), and each
    * weight is a division chain floor-quantized to the 1e-10 grid.
    * One groupBy + one broadcast single-row total: two shuffles of
    * source-bounded rows. */
  def mixtureWeights(documents: DataFrame): DataFrame = {
    val per = documents
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    val tot = per.agg(
      sum(col("n_tokens")).as("tot_tokens"),
      expr("sum(CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(27,9)))")
        .as("tot_sqrt"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("""floor(CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE)
          | * 1e10) / 1e10""".stripMargin).as("weight_prop"),
        expr("""floor(sqrt(CAST(n_tokens AS DOUBLE))
          | / CAST(tot_sqrt AS DOUBLE) * 1e10) / 1e10""".stripMargin)
          .as("weight_temp"))
      .orderBy("source")
  }

  def mixtureWeightsSql(): String =
    """WITH per AS (
      |  SELECT source, count(*)::BIGINT AS n_docs,
      |    sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
      |  FROM documents GROUP BY 1),
      |tot AS (
      |  SELECT sum(n_tokens)::BIGINT AS tot_tokens,
      |    sum(CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(27,9)))
      |      AS tot_sqrt
      |  FROM per)
      |SELECT source, n_docs, n_tokens,
      |  floor(CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE)
      |    * 1e10) / 1e10 AS weight_prop,
      |  floor(sqrt(CAST(n_tokens AS DOUBLE))
      |    / CAST(tot_sqrt AS DOUBLE) * 1e10) / 1e10 AS weight_temp
      |FROM per CROSS JOIN tot
      |ORDER BY source""".stripMargin

  /** Language temperature resampling (the mT5/XLM-R multilingual
    * mixing pass): per-language sampling probability
    * `p_l ∝ share_l^α` with `α < 1` flattening the natural language
    * distribution so low-resource languages are upsampled — published
    * per language with the natural share and the effective
    * `boost = p_l / share_l` the training sampler must apply.
    *
    * `α` is restricted to the DYADIC grid {0.25, 0.5, 0.75}
    * (`alphaQuarters`/4) so the power is a composition of IEEE
    * correctly-rounded `sqrt`s (`x^0.25 = sqrt(sqrt(x))`,
    * `x^0.75 = sqrt(x)·sqrt(sqrt(x))` — one exact multiply of two
    * correctly-rounded values) — bit-identical cross-engine, where
    * libm `pow` tails differ (the [[mixtureWeights]] scaladoc's
    * promised extension). Masses are then floor-quantized to integer
    * nanos and summed as BIGINT (exact), and each published
    * probability is one final int→double division.
    *
    * Scale shape: ONE corpus scan into a lang-keyed aggregate
    * (output rows = languages, inherently bounded), a 1-row broadcast
    * total, and a window sum over the lang-bounded frame — no
    * corpus-sized state anywhere. Output: `(lang, n_docs, n_tokens,
    * natural_share, sample_prob, boost)`. */
  def langTemperatureMix(documents: DataFrame,
      alphaQuarters: Int = 1): DataFrame = {
    require(alphaQuarters >= 1 && alphaQuarters <= 3,
      s"alphaQuarters must be 1..3 (α = 0.25/0.5/0.75), got $alphaQuarters")
    val pw = alphaQuarters match {
      case 1 => "sqrt(sqrt(natural_share))"
      case 2 => "sqrt(natural_share)"
      case 3 => "sqrt(natural_share) * sqrt(sqrt(natural_share))"
    }
    val per = documents
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " "))).cast("long").as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).cast("long").as("tot"))
    per.crossJoin(broadcast(tot))
      .withColumn("natural_share",
        expr("CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE)"))
      .withColumn("w",
        expr(s"CAST(floor($pw * 1000000000.0d + 0.5d) AS BIGINT)"))
      // full-frame window sum: the frame is lang-bounded (≤ a few
      // hundred rows at any corpus size), the EWMA single-task
      // precedent — NOT corpus-proportional
      .withColumn("ws", sum(col("w")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
      .withColumn("sample_prob",
        expr("CAST(w AS DOUBLE) / CAST(ws AS DOUBLE)"))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        col("natural_share"), col("sample_prob"),
        (col("sample_prob") / col("natural_share")).as("boost"))
      .orderBy("lang")
  }

  /** DuckDB replay of [[langTemperatureMix]]: same sqrt-composition
    * power, same integer-nanos quantization and BIGINT sum. */
  def langTemperatureMixSql(alphaQuarters: Int = 1): String = {
    val pw = alphaQuarters match {
      case 1 => "sqrt(sqrt(natural_share))"
      case 2 => "sqrt(natural_share)"
      case 3 => "sqrt(natural_share) * sqrt(sqrt(natural_share))"
    }
    s"""WITH per AS (
       |  SELECT lang, count(*)::BIGINT AS n_docs,
       |    sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
       |  FROM documents GROUP BY 1),
       |tot AS (SELECT sum(n_tokens)::BIGINT AS tot FROM per),
       |sh AS (
       |  SELECT lang, n_docs, n_tokens,
       |    CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE) AS natural_share
       |  FROM per CROSS JOIN tot),
       |w AS (
       |  SELECT *, CAST(floor($pw * 1000000000.0 + 0.5) AS BIGINT) AS w
       |  FROM sh),
       |f AS (
       |  SELECT lang, n_docs, n_tokens, natural_share,
       |    CAST(w AS DOUBLE)
       |      / CAST(CAST(sum(w) OVER () AS BIGINT) AS DOUBLE) AS sample_prob
       |  FROM w)
       |SELECT lang, n_docs, n_tokens, natural_share, sample_prob,
       |  sample_prob / natural_share AS boost
       |FROM f ORDER BY lang""".stripMargin
  }

  def mixtureSample(documents: DataFrame, rates: Map[String, Int],
      defaultPct: Int = 100): DataFrame =
    documents
      .select(col("doc_id"), col("source"))
      .where(hashBucket(col("doc_id")) <
        coalesce(element_at(typedLit(rates), col("source")), lit(defaultPct)))
      .orderBy("doc_id")

  def mixtureSampleSql(rates: Map[String, Int], defaultPct: Int = 100): String = {
    val cases = rates.toSeq.sortBy(_._1)
      .map { case (s, p) => s"WHEN '$s' THEN $p" }.mkString(" ")
    s"""SELECT doc_id, source FROM documents
       |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100
       |  < (CASE source $cases ELSE $defaultPct END)
       |ORDER BY doc_id""".stripMargin
  }

  /** Deterministic demo mixture over the test corpus's src0..src19:
    * rates cycle 100/75/50/25 by source index. */
  val DemoRates: Map[String, Int] =
    (0 until 20).map(i => s"src$i" -> (100 - (i % 4) * 25)).toMap

  /** Deterministic per-source cap: keep at most `k` docs per source,
    * chosen by content-stable hash RANK (not hash threshold like
    * [[mixtureSample]] — a rate can't express "exactly k of an
    * unknown-size source"). The hash order is a uniform shuffle of
    * each source, so the kept set is an unbiased fixed-size sample
    * that is stable under re-runs, resharding, and corpus growth
    * upstream of the capped source. The `row_number ≤ k` idiom runs as
    * Spark's sorted `Window`, with `WindowGroupLimit` trimming each
    * source to k rows before the shuffle. Output carries
    * `sample_rank` so downstream can tighten the cap without
    * re-ranking. */
  def capPerSource(documents: DataFrame, k: Int = 50): DataFrame = {
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(h.asc, col("doc_id"))
    documents.select(col("doc_id"), col("source"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("doc_id"), col("source"),
        col("rn").cast("long").as("sample_rank"))
      .orderBy("source", "sample_rank")
  }

  def capPerSourceSql(k: Int = 50): String =
    s"""WITH r AS (
       |  SELECT doc_id, source,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT,
       |        doc_id) AS rn
       |  FROM documents)
       |SELECT doc_id, source, CAST(rn AS BIGINT) AS sample_rank
       |FROM r WHERE rn <= $k ORDER BY source, sample_rank""".stripMargin

  /** Token-budget mixture assembly: the inverse of [[mixtureSample]] —
    * instead of a per-source RATE, each source gets a token BUDGET, and
    * docs are admitted in content-stable hash order until their
    * source's budget is spent (a doc is kept iff it STARTS inside the
    * budget, so each source overshoots by at most one document). This
    * is how a training mix is actually specified ("20 B tokens of web,
    * 5 B of code"): rates assume you know source sizes; budgets don't.
    * Returns the per-source manifest `(source, n_docs, n_tokens)`.
    *
    * One shuffle (the per-source window); the hash order makes the
    * admitted set an unbiased sample that is stable under re-runs and
    * corpus growth — appending new docs upstream only perturbs
    * admission near the budget boundary, it never reshuffles the
    * whole source. */
  def tokenBudgetMix(documents: DataFrame, budget: Long = 800L): DataFrame = {
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(h.asc, col("doc_id"))
    documents
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("tok"))
      .withColumn("cum", sum(col("tok")).over(w))
      .where(col("cum") - col("tok") < budget)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"))
      .orderBy("source")
  }

  def tokenBudgetMixSql(budget: Long = 800L): String =
    s"""WITH t AS (
       |  SELECT doc_id, source, len(string_split(text, ' '))::BIGINT AS tok
       |  FROM documents),
       |c AS (
       |  SELECT source, tok, sum(tok) OVER (PARTITION BY source
       |    ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM t)
       |SELECT source, count(*) AS n_docs, sum(tok)::BIGINT AS n_tokens
       |FROM c WHERE cum - tok < $budget
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Seeded global shuffle into shards — the training-order
    * randomization step: every epoch reads the corpus in a fresh
    * deterministic permutation, laid out as `shards` independent
    * streams. `(doc_id, shard, pos)` where shard and position derive
    * from the content-stable hash of (epoch, doc_id): same epoch →
    * identical layout on any engine or rerun; different epoch → an
    * unrelated permutation.
    *
    * Scale: there is deliberately NO global sequence number — a total
    * order would need a global sort. Each shard orders its own members
    * (per-shard window, shard-parallel); a consumer reading shards
    * round-robin sees a uniform shuffle. At 100 TB `shards` is sized so
    * one shard's manifest fits an executor (e.g. 10k shards → 10 GB
    * each). */
  def corpusShuffle(documents: DataFrame, epoch: Int = 0,
      shards: Int = 8): DataFrame = {
    val h = conv(substring(md5(
        concat(lit(epoch.toString), lit(":"), col("doc_id").cast("string"))),
      1, 15), 16, 10).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("h"), col("doc_id"))
    documents
      .select(col("doc_id"), h.as("h"))
      .withColumn("shard", col("h") % shards)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy("shard", "pos")
  }

  def corpusShuffleSql(epoch: Int = 0, shards: Int = 8): String =
    s"""WITH h AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5('$epoch:' || doc_id::VARCHAR), 1, 15))::BIGINT
       |      AS h
       |  FROM documents)
       |SELECT doc_id, h % $shards AS shard,
       |  CAST(row_number() OVER (PARTITION BY h % $shards ORDER BY h, doc_id)
       |    AS BIGINT) AS pos
       |FROM h ORDER BY shard, pos""".stripMargin

  /** DSIR-shape importance weighting (Xie et al. 2302.03169): score
    * every raw document by how much more likely its hashed-unigram
    * features are under a TARGET distribution than under the raw-corpus
    * distribution — `logw = Σ_tokens ln p_target(f) − ln p_raw(f)` with
    * add-one smoothing over `dim` hashed feature buckets. High `logw` ≈
    * "looks like the target domain"; a selection step resamples
    * proportionally to `exp(logw)`. The target here is the
    * deterministic `doc_id % targetMod == 0` slice (standing in for a
    * curated seed corpus loaded from elsewhere, as [[contamination]]
    * does for its benchmark).
    *
    * Scale design: TWO corpus scans, nothing else corpus-sized. One
    * scan builds a single `(f, c_t, c_r)` count table (target and raw
    * tallies ride the SAME f-keyed shuffle; totals are a trivial
    * aggregate of its `dim ≤ 4096` rows) that BROADCASTS back; the
    * second scan scores token instances against it and folds per doc
    * (one doc-keyed shuffle). Feature hashing (md5-bucket, the same
    * engine-portable hash as [[hashSplit]]) means no vocabulary pass
    * and no dictionary join. Per-instance ln-ratios are quantized to
    * DECIMAL(18,9) before the per-doc sum (exact, order-free fold).
    * Output: `(doc_id, n_toks, logw_sum)` for raw (non-target) docs. */
  def dsirWeights(documents: DataFrame, dim: Int = 4096,
      targetMod: Int = 50): DataFrame = {
    val f = conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long") % dim
    val toks = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), f.as("f"),
        (pmod(col("doc_id"), lit(targetMod)) === 0).as("is_t"))
    val counts = toks.groupBy(col("f")).agg(
      sum(when(col("is_t"), 1L).otherwise(0L)).as("c_t"),
      sum(when(col("is_t"), 0L).otherwise(1L)).as("c_r"))
    val totals = counts.agg(sum(col("c_t")).as("n_t"), sum(col("c_r")).as("n_r"))
    toks.where(!col("is_t"))
      .join(broadcast(counts), Seq("f"))
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), expr(
        s"""CAST(ln((CAST(c_t AS DOUBLE) + 1.0)
           |       / (CAST(n_t AS DOUBLE) + $dim))
           |   - ln((CAST(c_r AS DOUBLE) + 1.0)
           |       / (CAST(n_r AS DOUBLE) + $dim))
           | AS DECIMAL(18,9))""".stripMargin).as("lw_i"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        expr("CAST(sum(lw_i) AS DOUBLE)").as("logw_sum"))
      .orderBy("doc_id")
  }

  def dsirWeightsSql(dim: Int = 4096, targetMod: Int = 50): String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(tok), 1, 15))::BIGINT % $dim AS f
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |        FROM documents)),
       |tc AS (SELECT f, count(*) AS c_t FROM toks
       |  WHERE doc_id % $targetMod = 0 GROUP BY 1),
       |tt AS (SELECT count(*) AS n_t FROM toks WHERE doc_id % $targetMod = 0),
       |rc AS (SELECT f, count(*) AS c_r FROM toks
       |  WHERE doc_id % $targetMod <> 0 GROUP BY 1),
       |rt AS (SELECT count(*) AS n_r FROM toks WHERE doc_id % $targetMod <> 0),
       |inst AS (
       |  SELECT t.doc_id,
       |    CAST(ln((coalesce(tc.c_t, 0)::DOUBLE + 1.0) / (tt.n_t::DOUBLE + $dim))
       |       - ln((coalesce(rc.c_r, 0)::DOUBLE + 1.0) / (rt.n_r::DOUBLE + $dim))
       |      AS DECIMAL(18,9)) AS lw_i
       |  FROM toks t LEFT JOIN tc USING (f) LEFT JOIN rc USING (f)
       |  CROSS JOIN tt CROSS JOIN rt
       |  WHERE t.doc_id % $targetMod <> 0)
       |SELECT doc_id, count(*) AS n_toks, CAST(sum(lw_i) AS DOUBLE) AS logw_sum
       |FROM inst GROUP BY 1 ORDER BY 1""".stripMargin

  /** Group-relative quality gate: keep each source's most fluent HALF
    * by bigram-LM mean NLL ([[TextAnalysis.lmBigramScore]]) — the
    * selection step a CCNet-style pipeline runs after scoring, made
    * group-relative so a clean source doesn't crowd out a noisy one
    * (absolute thresholds do exactly that). Rank-based rather than
    * median-threshold: `rank ≤ ⌈n/2⌉` is integer-exact across engines,
    * a median split is a floating tie-boundary. Output: the kept
    * `(doc_id, source, q_rank)`.
    *
    * Plan: the LM scorer's two token-keyed shuffles + one per-source
    * window — the ranking reuses the doc-keyed fold's output (tiny:
    * one row per doc). */
  def qualityFilterBySource(documents: DataFrame): DataFrame = {
    val scored = TextAnalysis.lmBigramScore(documents)
      .join(documents.select(col("doc_id"), col("source")), Seq("doc_id"))
      .withColumn("mean_nll",
        col("nll_sum") / col("n_bigrams").cast("double"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("mean_nll").asc, col("doc_id"))
    scored
      .withColumn("q_rank", row_number().over(w).cast("long"))
      .withColumn("n_src",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("source")))
      .where(col("q_rank") <= expr("(n_src + 1) div 2"))
      .select(col("doc_id"), col("source"), col("q_rank"))
      .orderBy("source", "q_rank")
  }

  def qualityFilterBySourceSql: String =
    s"""WITH scored AS (${TextAnalysis.lmBigramScoreSql.replace("ORDER BY doc_id", "")}),
       |j AS (
       |  SELECT s.doc_id, d.source,
       |    s.nll_sum / s.n_bigrams::DOUBLE AS mean_nll
       |  FROM scored s JOIN documents d USING (doc_id)),
       |r AS (
       |  SELECT doc_id, source,
       |    row_number() OVER (PARTITION BY source ORDER BY mean_nll, doc_id)
       |      AS q_rank,
       |    count(*) OVER (PARTITION BY source) AS n_src
       |  FROM j)
       |SELECT doc_id, source, CAST(q_rank AS BIGINT) AS q_rank
       |FROM r WHERE q_rank <= (n_src + 1) // 2
       |ORDER BY source, q_rank""".stripMargin

  /** Benchmark decontamination: corpus docs sharing at least
    * `minShared` word k-grams with a benchmark/eval doc (here: the
    * deterministic doc_id % benchMod == 0 sample stands in for an eval
    * set loaded from elsewhere). The benchmark side builds the shingle
    * index; the corpus stream joins against it — at 100 TB the
    * benchmark shingle set broadcasts and the corpus is touched once,
    * no self-join. */
  /** Cross-source n-gram OVERLAP MATRIX — how much each source pair
    * duplicates each other, measured BEFORE mixing (the complement of
    * [[mixtureWeights]]: weights say how much to sample, this says how
    * much of it is the same text — the pre-mix diligence step next to
    * per-doc [[contamination]]). For every source pair: the count of
    * distinct `k`-gram shingles both contain and their Jaccard over
    * distinct shingles. All integers plus ONE IEEE division per row.
    *
    * Scale shape: distinct (source, shingle) is one shuffle keyed by
    * shingle; the pair join is shingle-keyed with fan-out bounded by
    * C(|sources|, 2) per shingle (source count is domain-bounded, like
    * the reference's variant overlap A9 — this IS A9's plan at corpus
    * scale); per-source totals broadcast back into the pair rows. */
  def sourceOverlap(documents: DataFrame, k: Int = 8): DataFrame = {
    // localCheckpoint, not persist: the returned plan is LAZY, so a
    // persist+finally-unpersist here would release the cache before any
    // action runs and the dominant shingle explode+join+distinct subplan
    // would recompute 3x (totals, join side a, join side b) inside the
    // one eventual action. Checkpointing truncates the lineage so all
    // three consumers read the same materialized set — the
    // [[Dedup.connectedComponents]] discipline.
    //
    // Shingles are folded to 62-bit poly_hash62 BEFORE the distinct:
    // the k-gram string is only ever tested for equality, so an 8-byte
    // key shrinks the checkpoint, the distinct shuffle, and the
    // shingle-keyed self-join ~8x vs ~60-char strings. The oracle
    // replays the SAME fold, so any collision collapses identically in
    // both engines and the compare stays hash-exact.
    graft.functions.Registry.ensure(documents.sparkSession)
    val sg = Dedup.shingles(documents, k)
      .join(documents.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("source"), expr("poly_hash62(shingle)").as("shingle"))
      .distinct()
      .localCheckpoint()
    val totals = sg.groupBy(col("source"))
      .agg(count(lit(1)).as("n_shingles"))
    val a = sg.toDF("source_a", "shingle")
    val b = sg.toDF("source_b", "shingle")
    val shared = a.join(b, Seq("shingle"))
      .where(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("shared_shingles"))
    shared
      .join(broadcast(totals.toDF("source_a", "n_a")), Seq("source_a"))
      .join(broadcast(totals.toDF("source_b", "n_b")), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("shared_shingles"),
        expr("""floor(CAST(shared_shingles AS DOUBLE)
          | / CAST(n_a + n_b - shared_shingles AS DOUBLE) * 1e10)
          | / 1e10""".stripMargin).as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  def sourceOverlapSql(k: Int = 8): String = {
    // DuckDB replay of poly_hash62 over the shingle string (the
    // [[Dedup.simhashPairsSql]] char-fold construction) — same fold,
    // same collisions, both engines.
    val fold = Dedup.polyFoldOver("shingle") _
    s"""WITH arr AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS toks
       |  FROM documents),
       |sh0 AS (
       |  SELECT source,
       |    list_aggregate(toks[i:i + $k - 1], 'string_agg', ' ') AS shingle
       |  FROM arr, LATERAL unnest(range(1, len(toks) - $k + 2)) AS t (i)
       |  WHERE len(toks) >= $k),
       |sh AS (SELECT DISTINCT source,
       |    (${fold(131)}
       |     | (${fold(137)} << 31)) AS shingle
       |  FROM sh0),
       |tot AS (SELECT source, count(*)::BIGINT AS n FROM sh GROUP BY 1),
       |pairs AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |    count(*)::BIGINT AS shared_shingles
       |  FROM sh a JOIN sh b
       |    ON a.shingle = b.shingle AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT source_a, source_b, ta.n AS n_a, tb.n AS n_b,
       |  shared_shingles,
       |  floor(CAST(shared_shingles AS DOUBLE)
       |    / CAST(ta.n + tb.n - shared_shingles AS DOUBLE) * 1e10)
       |    / 1e10 AS jaccard
       |FROM pairs
       |JOIN tot ta ON ta.source = source_a
       |JOIN tot tb ON tb.source = source_b
       |ORDER BY source_a, source_b""".stripMargin
  }

  /** Per-source unigram KL divergence from the corpus mixture —
    * `KL(P_s ‖ P_corpus) = Σ_w p_s(w)·ln(p_s(w)/p_c(w))` — the
    * distribution-shift diagnostic next to [[sourceOverlap]]'s
    * duplication matrix and [[mixtureWeights]]'s size rebalancing
    * (DoReMi-family mixture tuning reads exactly this signal: a
    * source whose token distribution sits far from the mixture is
    * up/down-weighted differently from one that merely differs in
    * size). 0 nats = indistinguishable from the mixture.
    *
    * Scale shape: ONE token explode into a (source, word) count
    * shuffle; everything downstream lives on the count table, which
    * is |sources|·|vocab|-bounded, never row-proportional — the
    * word-keyed join back to corpus word totals is vocab-bounded and
    * AQE-broadcastable, per-source totals broadcast, the corpus
    * grand total rides a 1-row broadcast. The count table is
    * localCheckpoint'd ([[sourceOverlap]] discipline) because three
    * consumers (per-source totals, word totals, the term join) read
    * it within one action.
    *
    * Determinism: probabilities and the ln ratio are IEEE divisions
    * of exact integers; ln is quantized DECIMAL(18,9) (the BM25 idf
    * discipline); each term is floor-lattice-quantized to the 1e-9
    * grid before the order-independent decimal sum (SCALE.md §8 —
    * the decimal CAST of a tie-terminating double splits per engine,
    * the floor lattice does not). Ratios stay in double space, so no
    * integer product can overflow at any corpus size. */
  def sourceKlDivergence(documents: DataFrame): DataFrame = {
    val csw = documents
      .where(col("text").isNotNull)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c_sw"))
      .localCheckpoint()
    val ns = csw.groupBy(col("source")).agg(sum("c_sw").as("n_s"))
    val cw = csw.groupBy(col("w")).agg(sum("c_sw").as("c_w"))
    val n = cw.agg(sum("c_w").as("n_tok"))
    csw
      .join(broadcast(ns), Seq("source"))
      .join(cw, Seq("w"))
      .crossJoin(broadcast(n))
      .select(col("source"), col("n_s"),
        expr("""CAST(floor(
          |  CAST(CAST(ln((CAST(c_sw AS DOUBLE) / CAST(n_s AS DOUBLE))
          |        / (CAST(c_w AS DOUBLE) / CAST(n_tok AS DOUBLE)))
          |    AS DECIMAL(18,9)) AS DOUBLE)
          |  * (CAST(c_sw AS DOUBLE) / CAST(n_s AS DOUBLE))
          |  * 1e9 + 0.5) / 1e9 AS DECIMAL(18,9))""".stripMargin).as("t"))
      .groupBy(col("source"))
      .agg(max("n_s").as("n_tokens"),
        count(lit(1)).as("n_terms"),
        expr("CAST(sum(t) AS DOUBLE)").as("kl_nats"))
      .orderBy("source")
  }

  val sourceKlDivergenceSql: String =
    """WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS w
      |  FROM documents WHERE text IS NOT NULL),
      |csw AS (
      |  SELECT source, w, count(*) AS c_sw FROM tok
      |  WHERE w <> '' GROUP BY 1, 2),
      |ns AS (SELECT source, sum(c_sw)::BIGINT AS n_s FROM csw GROUP BY 1),
      |cw AS (SELECT w, sum(c_sw)::BIGINT AS c_w FROM csw GROUP BY 1),
      |n AS (SELECT sum(c_w)::BIGINT AS n_tok FROM cw),
      |term AS (
      |  SELECT source, n_s,
      |    CAST(floor(
      |      CAST(CAST(ln((CAST(c_sw AS DOUBLE) / CAST(n_s AS DOUBLE))
      |            / (CAST(c_w AS DOUBLE) / CAST(n_tok AS DOUBLE)))
      |        AS DECIMAL(18,9)) AS DOUBLE)
      |      * (CAST(c_sw AS DOUBLE) / CAST(n_s AS DOUBLE))
      |      * 1e9 + 0.5) / 1e9 AS DECIMAL(18,9)) AS t
      |  FROM csw JOIN ns USING (source) JOIN cw USING (w) CROSS JOIN n)
      |SELECT source, max(n_s) AS n_tokens, count(*) AS n_terms,
      |  CAST(sum(t) AS DOUBLE) AS kl_nats
      |FROM term GROUP BY source ORDER BY source""".stripMargin

  /** DoReMi-style domain reweighting from per-source excess loss
    * (Xie et al., "DoReMi: optimizing data mixtures speeds up
    * language model pretraining", arXiv 2305.10429 — multiplicative-
    * weights update w_s ∝ exp(η·excess_s), where excess is the
    * domain's loss above the best-performing domain): the mixture-
    * weight PRODUCER that [[mixtureSample]]/[[tokenBudgetMix]]
    * consume. The proxy/reference loss pair is deterministic in-
    * engine arithmetic (no trained model, the pinned-weights
    * discipline): per-source mean token NLL under the CORPUS unigram
    * LM, so a source whose unigram mix diverges from the corpus
    * (harder for the shared model) draws more weight — the DoReMi
    * direction, with the corpus LM standing in for the reference
    * model.
    *
    * Scale shape: the (source, word) count table is the ONE corpus
    * shuffle ([[sourceKlDivergence]]'s plan — vocab-bounded
    * localCheckpoint, 1-row token-total broadcast); NLL terms
    * quantize per (source, word) and sum as decimals; the excess /
    * softmax tail is two windows over the SOURCE-bounded table
    * (≤ dozens of rows at any corpus scale — the whitelisted post-
    * aggregation SinglePartition). η = 1; the single exp per source
    * quantizes (the `source_kl` ln convention).
    *
    * Output: (source, n_tokens, nll, excess, weight) ordered by
    * source; weights sum to 1 up to the DECIMAL(18,9) quanta. */
  def doremiWeights(documents: DataFrame): DataFrame = {
    val csw = documents
      .where(col("text").isNotNull)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c_sw"))
      .localCheckpoint()
    val cw = csw.groupBy(col("w")).agg(sum("c_sw").as("c_w"))
    val n = cw.agg(sum("c_w").as("n_tok"))
    val nllBySource = csw
      .join(cw, Seq("w"))
      .crossJoin(broadcast(n))
      .select(col("source"), col("c_sw"),
        expr(DoremiTerm).as("t"))
      .groupBy(col("source"))
      .agg(sum(col("c_sw")).as("n_tokens"),
        expr("CAST(sum(t) AS DOUBLE)").as("nll_sum"))
      .select(col("source"), col("n_tokens"), expr(DoremiNll).as("nll"))
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    nllBySource
      .withColumn("__min", min(col("nll")).over(wAll))
      .withColumn("excess", expr(DoremiExcess("__min")))
      .withColumn("__e", expr(DoremiExp))
      .withColumn("__se",
        sum(expr("CAST(__e AS DECIMAL(18,9))")).over(wAll))
      .select(col("source"), col("n_tokens"), col("nll"), col("excess"),
        expr(DoremiWeight).as("weight"))
      .orderBy("source")
  }

  // the NLL term per (source, word): c_sw · −ln(c_w/n_tok), with the
  // ln quantized and the product re-quantized through the explicit
  // round-half-up lattice (the sourceKlDivergence floor trick) so the
  // decimal sum is order-free and engine-exact
  private val DoremiTerm =
    """CAST(floor(
      |  CAST(CAST(-ln(CAST(c_w AS DOUBLE) / CAST(n_tok AS DOUBLE))
      |    AS DECIMAL(18,9)) AS DOUBLE)
      |  * CAST(c_sw AS DOUBLE)
      |  * 1e9 + 0.5) / 1e9 AS DECIMAL(28,9))""".stripMargin
  private val DoremiNll =
    """CAST(CAST(nll_sum / CAST(n_tokens AS DOUBLE)
      |AS DECIMAL(18,9)) AS DOUBLE)""".stripMargin
  private def DoremiExcess(minCol: String): String =
    s"""CAST(CAST(nll - $minCol AS DECIMAL(18,9)) AS DOUBLE)"""
  private val DoremiExp =
    "CAST(CAST(exp(excess) AS DECIMAL(18,9)) AS DOUBLE)"
  private val DoremiWeight =
    """CAST(CAST(__e / CAST(__se AS DOUBLE)
      |AS DECIMAL(18,9)) AS DOUBLE)""".stripMargin

  /** DuckDB replay of [[doremiWeights]]: the sourceKl count CTEs, the
    * identical quantized NLL terms, and the same windowed excess /
    * softmax tail. */
  def doremiWeightsSql(): String =
    s"""WITH tok AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS w
       |  FROM documents WHERE text IS NOT NULL),
       |csw AS (
       |  SELECT source, w, count(*) AS c_sw FROM tok
       |  WHERE w <> '' GROUP BY 1, 2),
       |cw AS (SELECT w, sum(c_sw)::BIGINT AS c_w FROM csw GROUP BY 1),
       |n AS (SELECT sum(c_w)::BIGINT AS n_tok FROM cw),
       |term AS (
       |  SELECT source, c_sw, $DoremiTerm AS t
       |  FROM csw JOIN cw USING (w) CROSS JOIN n),
       |s AS (
       |  SELECT source, sum(c_sw)::BIGINT AS n_tokens,
       |    CAST(sum(t) AS DOUBLE) AS nll_sum
       |  FROM term GROUP BY 1),
       |nl AS (SELECT source, n_tokens, $DoremiNll AS nll FROM s),
       |ex AS (
       |  SELECT source, n_tokens, nll,
       |    ${DoremiExcess("min(nll) OVER ()")} AS excess
       |  FROM nl),
       |ee AS (SELECT ex.*, $DoremiExp AS __e FROM ex),
       |se AS (
       |  SELECT ee.*, sum(CAST(__e AS DECIMAL(18,9))) OVER () AS __se
       |  FROM ee)
       |SELECT source, n_tokens, nll, excess, $DoremiWeight AS weight
       |FROM se ORDER BY source""".stripMargin

  /** Ingestion-window distribution DRIFT — [[sourceKlDivergence]]'s
    * diagnostic run over TIME instead of provenance: split the corpus
    * into `buckets` equal ingestion windows (exact NTILE over doc_id
    * order — the crawl's arrival order) and report each window's
    * unigram KL against the whole-corpus mixture. Rising tail-window
    * KL = the crawl's content is drifting (new domains, new
    * languages, new spam); flat ≈ stationary. The temporal complement
    * of [[Dedup.ngramNovelty]] (which watches redundancy, not
    * distribution shape).
    *
    * Scale shape: window assignment is
    * [[Analytics.ntileByRange]] (range-partitioned exact ntile, no
    * single-partition sort); then exactly [[sourceKlDivergence]]'s
    * plan with `bucket` for `source` — one (bucket, word) count
    * shuffle, vocab-bounded tails, the identical floor-lattice term
    * quantization. Output: (bucket, n_docs, n_tokens, n_terms,
    * kl_nats). */
  def corpusDrift(documents: DataFrame, buckets: Int = 10): DataFrame = {
    // eager: cbw below fans out to three consumers (per-bucket totals,
    // per-word totals, the term stream) — lazily each would re-run the
    // text-carrying ntile window (measured 1.6 → 3.2 s)
    val bucketed = Analytics.ntileByRange(
      documents.where(col("text").isNotNull)
        .select(col("doc_id"), col("text")),
      Seq("doc_id"), buckets, eager = true)
    val cbw = bucketed
      .select(col("bucket"), col("doc_id"),
        explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("bucket"), col("w"))
      .agg(count(lit(1)).as("c_sw"))
      .localCheckpoint()
    val nd = bucketed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
    val ns = cbw.groupBy(col("bucket")).agg(sum("c_sw").as("n_s"))
    val cw = cbw.groupBy(col("w")).agg(sum("c_sw").as("c_w"))
    val n = cw.agg(sum("c_w").as("n_tok"))
    cbw
      .join(broadcast(ns), Seq("bucket"))
      .join(cw, Seq("w"))
      .crossJoin(broadcast(n))
      .select(col("bucket"), col("n_s"),
        expr("""CAST(floor(
          |  CAST(CAST(ln((CAST(c_sw AS DOUBLE) / CAST(n_s AS DOUBLE))
          |        / (CAST(c_w AS DOUBLE) / CAST(n_tok AS DOUBLE)))
          |    AS DECIMAL(18,9)) AS DOUBLE)
          |  * (CAST(c_sw AS DOUBLE) / CAST(n_s AS DOUBLE))
          |  * 1e9 + 0.5) / 1e9 AS DECIMAL(18,9))""".stripMargin).as("t"))
      .groupBy(col("bucket"))
      .agg(max("n_s").as("n_tokens"),
        count(lit(1)).as("n_terms"),
        expr("CAST(sum(t) AS DOUBLE)").as("kl_nats"))
      .join(broadcast(nd), Seq("bucket"))
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        col("n_terms"), col("kl_nats"))
      .orderBy("bucket")
  }

  /** DuckDB replay of [[corpusDrift]]: NTILE over doc_id order (the
    * [[Analytics.ntileByRange]] semantics), then the
    * [[sourceKlDivergenceSql]] lattice with bucket for source. */
  def corpusDriftSql(buckets: Int = 10): String =
    s"""WITH b AS (
       |  SELECT doc_id, text,
       |    ntile($buckets) OVER (ORDER BY doc_id)::BIGINT AS bucket
       |  FROM documents WHERE text IS NOT NULL),
       |nd AS (SELECT bucket, count(*)::BIGINT AS n_docs FROM b GROUP BY 1),
       |tok AS (SELECT bucket, unnest(string_split(text, ' ')) AS w FROM b),
       |csw AS (
       |  SELECT bucket, w, count(*) AS c_sw FROM tok
       |  WHERE w <> '' GROUP BY 1, 2),
       |ns AS (SELECT bucket, sum(c_sw)::BIGINT AS n_s FROM csw GROUP BY 1),
       |cw AS (SELECT w, sum(c_sw)::BIGINT AS c_w FROM csw GROUP BY 1),
       |n AS (SELECT sum(c_w)::BIGINT AS n_tok FROM cw),
       |term AS (
       |  SELECT bucket, n_s,
       |    CAST(floor(
       |      CAST(CAST(ln((CAST(c_sw AS DOUBLE) / CAST(n_s AS DOUBLE))
       |            / (CAST(c_w AS DOUBLE) / CAST(n_tok AS DOUBLE)))
       |        AS DECIMAL(18,9)) AS DOUBLE)
       |      * (CAST(c_sw AS DOUBLE) / CAST(n_s AS DOUBLE))
       |      * 1e9 + 0.5) / 1e9 AS DECIMAL(18,9)) AS t
       |  FROM csw JOIN ns USING (bucket) JOIN cw USING (w) CROSS JOIN n),
       |agg AS (
       |  SELECT bucket, max(n_s) AS n_tokens, count(*) AS n_terms,
       |    CAST(sum(t) AS DOUBLE) AS kl_nats
       |  FROM term GROUP BY bucket)
       |SELECT bucket, n_docs, n_tokens, n_terms, kl_nats
       |FROM agg JOIN nd USING (bucket) ORDER BY bucket""".stripMargin

  /** Curriculum ordering (Bengio et al., ICML 2009 — present training
    * examples easy-first): the exact global training position of every
    * document under a difficulty score, plus the early/middle/late
    * phase split a staged schedule consumes. Difficulty here is
    * [[TextAnalysis.docEntropy]]'s token-distribution entropy
    * (repetitive/low-diversity docs rank first, lexically dense ones
    * last); any per-doc score column slots into the same plan.
    *
    * Scale shape: the rank is [[Analytics.rankByRange]] — range
    * repartition + per-partition row_number + P-row prefix offsets —
    * so NOTHING ever sorts on one task (the `orderDeciles` discipline;
    * a naive `row_number() OVER (ORDER BY ...)` is the classic 100-TB
    * curriculum killer). The phase is the exact-ntile bucket formula
    * over that rank, k=3. Entropy is bit-identical cross-engine
    * (docEntropy's lattice), so rank and phase carry a hash-exact
    * oracle against standard ROW_NUMBER/NTILE. */
  def curriculumOrder(documents: DataFrame): DataFrame = {
    val scored = TextAnalysis.docEntropy(documents)
    // eager: the sort key IS the entropy score — a lazy rank's
    // construction job would re-run the docEntropy folds
    val (ranked, total) =
      Analytics.rankByRange(scored, Seq("entropy", "doc_id"),
        eager = true)
    ranked
      .withColumn("phase",
        when(Analytics.ntileOfRank("__rank", total, 3) === 1, "early")
          .when(Analytics.ntileOfRank("__rank", total, 3) === 2, "middle")
          .otherwise("late"))
      .select(col("doc_id"), col("n_tokens"), col("entropy"),
        col("__rank").as("curriculum_rank"), col("phase"))
      .orderBy("doc_id")
  }

  /** Oracle for [[curriculumOrder]]: [[TextAnalysis.docEntropySql]] as
    * a nested CTE, standard ROW_NUMBER + NTILE(3) over the same total
    * order — NTILE's fill rule (first `total mod k` buckets take the
    * extra row) is exactly what `ntileOfRank` computes. */
  def curriculumOrderSql(): String =
    s"""WITH ent AS (
       |${TextAnalysis.docEntropySql()}
       |)
       |SELECT doc_id, n_tokens, entropy,
       |  row_number() OVER (ORDER BY entropy, doc_id) AS curriculum_rank,
       |  CASE ntile(3) OVER (ORDER BY entropy, doc_id)
       |    WHEN 1 THEN 'early' WHEN 2 THEN 'middle'
       |    ELSE 'late' END AS phase
       |FROM ent ORDER BY doc_id""".stripMargin

  /** Length-bucketed batch assembly (the dynamic-batching layout step
    * of every sequence-training loader — group near-equal-length
    * sequences so per-batch padding to the batch max wastes the least
    * compute; the island-level complement of [[packSequences]], which
    * concatenates instead of padding): band documents by token length
    * (`n_tokens div bandWidth`), order each band by exact length, cut
    * into fixed-size batches, and report each batch's padding
    * efficiency.
    *
    * Scale shape: the within-band order is ONE global
    * [[Analytics.rankByRange]] over `(band, n_tokens, doc_id)` — range
    * repartition + per-partition row_number + P-row offsets, nothing
    * sorts on one task — and the band-local index is
    * `rank - min(rank per band)`, a band-bounded broadcast join (bands
    * number ~max_len/bandWidth). Batch id and slot then follow by
    * integer division. A naive `row_number() OVER (PARTITION BY band)`
    * funnels each band through one task — the same 100-TB killer the
    * curriculum rank avoids.
    *
    * Output per batch: (band, batch_id, n_seqs, min_len, max_len,
    * sum_len, padding_frac) with `padding_frac = 1 -
    * sum_len/(n_seqs*max_len)` on the 1e-9 floor lattice. The final
    * partial batch of each band stays (shorter n_seqs). */
  def lengthBatching(documents: DataFrame, batchSize: Int = 32,
      bandWidth: Int = 16): DataFrame = {
    val d = documents
      .where(col("text").isNotNull)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("band", expr(s"n_tokens div $bandWidth"))
    // eager: ranked feeds both the band-start aggregate and the main
    // stream — two consumers of the window
    val (ranked, _) =
      Analytics.rankByRange(d, Seq("band", "n_tokens", "doc_id"),
        eager = true)
    val bandStart = ranked.groupBy("band")
      .agg(min(col("__rank")).as("band_start"))
    ranked
      .join(broadcast(bandStart), Seq("band"))
      .withColumn("idx", col("__rank") - col("band_start"))
      .withColumn("batch_id", expr(s"idx div $batchSize"))
      .groupBy("band", "batch_id")
      .agg(count(lit(1)).as("n_seqs"),
        min(col("n_tokens")).as("min_len"),
        max(col("n_tokens")).as("max_len"),
        sum(col("n_tokens")).as("sum_len"))
      .withColumn("padding_frac", expr(
        """floor((1.0d - CAST(sum_len AS DOUBLE)
          |  / CAST(n_seqs * max_len AS DOUBLE)) * 1e9 + 0.5) / 1e9"""
          .stripMargin))
      .orderBy("band", "batch_id")
  }

  /** Oracle for [[lengthBatching]]: standard ROW_NUMBER per band over
    * the same total order, same integer cuts and lattice division. */
  def lengthBatchingSql(batchSize: Int = 32, bandWidth: Int = 16): String =
    s"""WITH d AS (
       |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
       |  FROM documents WHERE text IS NOT NULL),
       |b AS (
       |  SELECT doc_id, n_tokens, n_tokens // $bandWidth AS band FROM d),
       |r AS (
       |  SELECT *, (row_number() OVER (PARTITION BY band
       |      ORDER BY n_tokens, doc_id) - 1) // $batchSize AS batch_id
       |  FROM b)
       |SELECT band, batch_id, count(*)::BIGINT AS n_seqs,
       |  min(n_tokens) AS min_len, max(n_tokens) AS max_len,
       |  sum(n_tokens)::BIGINT AS sum_len,
       |  floor((1.0 - CAST(sum(n_tokens) AS DOUBLE)
       |    / CAST(count(*) * max(n_tokens) AS DOUBLE)) * 1e9 + 0.5) / 1e9
       |    AS padding_frac
       |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  def contamination(documents: DataFrame, k: Int = 8, minShared: Long = 4,
      benchMod: Int = 50): DataFrame = {
    val benchSh = Dedup.shingles(
        documents.where(pmod(col("doc_id"), lit(benchMod)) === 0), k)
      .toDF("bench_id", "shingle")
    val corpusSh = Dedup.shingles(
      documents.where(pmod(col("doc_id"), lit(benchMod)) =!= 0), k)
    corpusSh
      .join(broadcast(benchSh), Seq("shingle"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("shared_shingles"))
      .where(col("shared_shingles") >= minShared)
      .orderBy("doc_id", "bench_id")
  }

  def contaminationSql(k: Int = 8, minShared: Long = 4,
      benchMod: Int = 50): String =
    s"""WITH arr AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |sh0 AS (
       |  SELECT doc_id,
       |    list_aggregate(toks[i:i + $k - 1], 'string_agg', ' ') AS shingle
       |  FROM arr, LATERAL unnest(range(1, len(toks) - $k + 2)) AS t (i)
       |  WHERE len(toks) >= $k),
       |sh AS (SELECT DISTINCT doc_id, shingle FROM sh0)
       |SELECT c.doc_id, b.doc_id AS bench_id, count(*) AS shared_shingles
       |FROM sh c JOIN sh b ON c.shingle = b.shingle
       |WHERE c.doc_id % $benchMod <> 0 AND b.doc_id % $benchMod = 0
       |GROUP BY 1, 2 HAVING count(*) >= $minShared
       |ORDER BY 1, 2""".stripMargin

  /** Fixed-length sequence chunking (the layout step before packing
    * tokenized docs into training examples): doc i with n tokens yields
    * ceil(n/chunkLen) chunks; the last carries the remainder. Pure
    * per-row arithmetic + explode — no shuffle. */
  def docChunks(documents: DataFrame, chunkLen: Int = 512): DataFrame =
    documents
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        // `div` is integral division (Column./ is always double)
        explode(sequence(lit(0L),
          expr(s"(n_tokens + ${chunkLen - 1}) div $chunkLen") - 1))
          .as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        least(lit(chunkLen.toLong),
          (col("n_tokens") - col("chunk_idx") * chunkLen).cast("long"))
          .as("chunk_len"))
      .orderBy("doc_id", "chunk_idx")

  def docChunksSql(chunkLen: Int = 512): String =
    s"""WITH d AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
       |  FROM documents)
       |SELECT doc_id, chunk_idx,
       |  least($chunkLen, n_tokens - chunk_idx * $chunkLen) AS chunk_len
       |FROM d, LATERAL unnest(range(0,
       |  ((n_tokens + $chunkLen - 1) // $chunkLen)::BIGINT)) AS t (chunk_idx)
       |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Sequence packing (the complement of [[docChunks]]): lay the
    * corpus token stream out contiguously in `doc_id` order and cut it
    * into `budget`-token bins; a document belongs to the bin its FIRST
    * token lands in. Returns per-bin fill stats `(bin_id, n_docs,
    * bin_tokens, first_doc, last_doc)` — the shard manifest a
    * tokenizer-sharding step consumes.
    *
    * The global running sum does NOT use a single-partition window:
    * like [[Analytics.ntileByRange]], the stream is split into
    * `partitions` doc_id-monotone slices, per-slice token totals
    * (`partitions` longs) are collected to the driver, and each
    * slice's exclusive global offset is added to its local window
    * cumsum — an exact distributed prefix sum whose driver state is
    * O(partitions), not O(rows).
    *
    * The slice id is DETERMINISTIC arithmetic on doc_id
    * (`doc_id div width` against the observed max id), not a sampled
    * `repartitionByRange`: the sampler was a second full pass over the
    * scan+split upstream (tokenizing the corpus twice) and its
    * assignment is seed-dependent, which forced a persist to keep the
    * totals and cumsum passes consistent. Width splitting needs one
    * cheap max() on the checkpointed 2-column token table, is stable
    * under re-execution, and keeps the text scan single-pass. Slices
    * may be unbalanced under sparse/clustered doc_ids (correctness
    * never depends on balance — bins follow global doc order either
    * way); a 100 TB run with adversarial id distributions would swap
    * in exact quantile bounds computed from the same token table. */
  def packSequences(documents: DataFrame, budget: Int = 512,
      partitions: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one scan of the text; everything after touches (doc_id, tok)
    // only. Lazy checkpoint: the max() below is the materializing
    // action, so the whole operator is three jobs (materialize+max,
    // totals, main), not four.
    val toks = documents
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("tok"))
      .localCheckpoint(eager = false)
    val maxId = toks.agg(max(col("doc_id"))).head().get(0) match {
      case null => 0L
      case v: Long => v
    }
    val width = maxId / partitions + 1
    val ranged = toks.withColumn("__pid",
      expr(s"CAST(doc_id div $width AS INT)"))
    val totals = ranged.groupBy(col("__pid"))
      .agg(sum(col("tok")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val pids = totals.keys.toSeq.sorted
    val offsets = pids.zip(pids.scanLeft(0L)((acc, p) => acc + totals(p)))
      .toMap // pid -> tokens in lower-id slices
    val offCol = pids.foldLeft(lit(0L)) { (acc, p) =>
      when(col("__pid") === p, lit(offsets(p))).otherwise(acc)
    }
    val localW = Window.partitionBy(col("__pid")).orderBy(col("doc_id"))
    ranged
      .withColumn("cum", sum(col("tok")).over(localW) + offCol)
      .withColumn("bin_id", expr(s"(cum - tok) div $budget"))
      .groupBy(col("bin_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("bin_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("bin_id")
  }

  def packSequencesSql(budget: Int = 512): String =
    s"""WITH t AS (
       |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS tok
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, tok, sum(tok) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM t)
       |SELECT ((cum - tok) // $budget)::BIGINT AS bin_id, count(*) AS n_docs,
       |  sum(tok)::BIGINT AS bin_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  /** Capstone composition — the canonical corpus-preparation pipeline
    * in one plan: quality gate (min token count + trigram-repetition
    * rule, both per-row scan work) → exact dedup (one shuffle on the
    * content hash, min-doc representative) → content-stable train/val
    * split (per-row hash) → per-(split, lang) counts. Demonstrates the
    * operators COMPOSE: Catalyst pipelines the three per-row stages
    * into one scan, and the whole pipeline costs two shuffles (dedup
    * groupBy + final aggregate) regardless of corpus size. */
  def corpusPipeline(documents: DataFrame, minTokens: Int = 32,
      maxDupFrac: Double = 0.2, valPct: Int = 10): DataFrame = {
    graft.functions.Registry.ensure(documents.sparkSession)
    val quality = documents
      .select(col("doc_id"), col("lang"), col("text"),
        split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= minTokens)
      .select(col("doc_id"), col("lang"), col("text"),
        expr("ngram_stats(toks, 3)").as("st"))
      .where(lit(1.0) - col("st.n_distinct_ngrams").cast("double") /
        col("st.n_ngrams").cast("double") <= maxDupFrac)
    val deduped = quality
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(struct(col("doc_id"), col("lang"))).as("rep"))
      .select(col("rep.doc_id").as("doc_id"), col("rep.lang").as("lang"))
    deduped
      .withColumn("split",
        when(hashBucket(col("doc_id")) < valPct, lit("val"))
          .otherwise(lit("train")))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("split", "lang")
  }

  def corpusPipelineSql(minTokens: Int = 32, maxDupFrac: Double = 0.2,
      valPct: Int = 10): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
       |    generate_subscripts(string_split(text, ' '), 1) AS idx
       |  FROM documents),
       |tg AS (
       |  SELECT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS ng
       |  FROM toks a
       |  JOIN toks b ON a.doc_id = b.doc_id AND b.idx = a.idx + 1
       |  JOIN toks c ON a.doc_id = c.doc_id AND c.idx = a.idx + 2),
       |rep AS (
       |  SELECT doc_id, count(*) AS n, count(DISTINCT ng) AS nd
       |  FROM tg GROUP BY 1),
       |q AS (
       |  SELECT d.doc_id, d.lang, d.text
       |  FROM documents d JOIN rep r USING (doc_id)
       |  WHERE len(string_split(d.text, ' ')) >= $minTokens
       |    AND 1.0 - CAST(r.nd AS DOUBLE) / CAST(r.n AS DOUBLE) <= $maxDupFrac),
       |ded AS (
       |  SELECT min(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang
       |  FROM q GROUP BY md5(text)),
       |sp AS (
       |  SELECT CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
       |      % 100 < $valPct THEN 'val' ELSE 'train' END AS split, lang
       |  FROM ded)
       |SELECT split, lang, count(*) AS n_docs
       |FROM sp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Chunk-level dedup: fingerprint every fixed-length token chunk and
    * report duplicated chunks with a representative (min doc_id) — the
    * pretraining cleanup that catches shared boilerplate/quotes exact
    * whole-doc dedup misses. Chunking + hashing are per-row scan work
    * (the md5 shrinks each chunk to 16 bytes BEFORE the shuffle, so the
    * exchange carries fingerprints, not text); one groupBy on the
    * fingerprint. */
  def chunkDedup(documents: DataFrame, chunkLen: Int = 64,
      minDup: Int = 2): DataFrame =
    documents
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, (size(toks) + ${chunkLen - 1}) div $chunkLen - 1),
           |  i -> md5(concat_ws(' ', slice(toks, i * $chunkLen + 1, $chunkLen))))"""
          .stripMargin)).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(count(lit(1)).as("dup_count"), min(col("doc_id")).as("rep_doc_id"))
      .where(col("dup_count") >= minDup)
      .orderBy("fingerprint")

  def chunkDedupSql(chunkLen: Int = 64, minDup: Int = 2): String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |c AS (
       |  SELECT doc_id,
       |    md5(array_to_string(list_slice(toks,
       |      chunk_idx * $chunkLen + 1, chunk_idx * $chunkLen + $chunkLen), ' '))
       |      AS fingerprint
       |  FROM d, LATERAL unnest(range(0,
       |    ((len(toks) + $chunkLen - 1) // $chunkLen)::BIGINT)) AS t (chunk_idx))
       |SELECT fingerprint, count(*) AS dup_count, min(doc_id) AS rep_doc_id
       |FROM c GROUP BY 1 HAVING count(*) >= $minDup
       |ORDER BY fingerprint""".stripMargin

  /** Pattern redaction (PII scrubbing): replace every match of each
    * pattern with its tag, left to right. Codegen'd regexp_replace per
    * pattern — single pass per row, no shuffle. */
  def redact(df: DataFrame, textCol: String,
      patterns: Seq[(String, String)]): DataFrame =
    df.withColumn(textCol,
      patterns.foldLeft(col(textCol)) { case (c, (pat, tag)) =>
        regexp_replace(c, pat, tag)
      })

  /** Common PII patterns (emails, SSN-shaped ids, E.164-ish phones).
    * Most-specific first: the id shape would otherwise be consumed by
    * the looser phone pattern. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b" -> "<ID>",
    "\\+?[0-9][0-9 ()-]{7,}[0-9]" -> "<PHONE>")

  /** PII suffix planted per document for the oracle-checked redaction
    * query: the synthetic corpus is letters-only word soup (no natural
    * PII), so [[redactionReport]] appends one email (doc_id-varying),
    * one phone and one SSN-shaped id to every doc before scrubbing —
    * the redaction path then runs against known-nonzero match counts
    * and both engines must agree on every replacement byte. */
  private val PiiSeed = "@example.com call +1 555 000 1234 ref 123-45-6789"

  /** Per-document redaction report: match counts per pattern (counted
    * sequentially — each pattern sees the PREVIOUS pattern's output,
    * mirroring [[redact]]'s fold order, which matters because the
    * SSN-shaped id would otherwise also match the looser phone
    * pattern) and the MD5 of the fully-scrubbed text. Pure per-row
    * scan work: no shuffle, stays in whole-stage codegen. */
  def redactionReport(documents: DataFrame): DataFrame = {
    val Seq((emailPat, emailTag), (idPat, idTag), (phonePat, phoneTag)) =
      PiiPatterns
    documents
      .select(col("doc_id"),
        concat(col("text"), lit(" contact u"), col("doc_id").cast("string"),
          lit(PiiSeed)).as("t0"))
      .withColumn("n_email",
        size(regexp_extract_all(col("t0"), lit(emailPat), lit(0))).cast("long"))
      .withColumn("t1", regexp_replace(col("t0"), emailPat, emailTag))
      .withColumn("n_id",
        size(regexp_extract_all(col("t1"), lit(idPat), lit(0))).cast("long"))
      .withColumn("t2", regexp_replace(col("t1"), idPat, idTag))
      .withColumn("n_phone",
        size(regexp_extract_all(col("t2"), lit(phonePat), lit(0))).cast("long"))
      .withColumn("t3", regexp_replace(col("t2"), phonePat, phoneTag))
      .select(col("doc_id"), col("n_email"), col("n_id"), col("n_phone"),
        md5(col("t3")).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** RANK-normalized quality ensemble — the multi-signal curation
    * blend (DataComp/DCLM-style: no single heuristic survives contact
    * with a web corpus, so production filters average RANKS, which are
    * scale-free, instead of raw scores, which need per-signal
    * calibration): three deterministic per-document signals — mean
    * token length, type-token ratio, long-token share (1 − short-token
    * share) — each globally ranked best-first, then the documents
    * re-ranked by rank SUM.
    *
    * Scale shape: the signals are one scan of per-row array folds; the
    * four global ranks are [[Analytics.rankByRange]] passes
    * (range-partitioned, O(partitions) driver state — never a
    * single-partition window), each over the doc-keyed signal table,
    * not the corpus text. Exact: integer/ratio arithmetic only (IEEE
    * division is correctly rounded in both engines), total order by
    * (metric desc, doc_id). Output: (doc_id, r_len, r_ttr, r_long,
    * rank_sum, ens_rank). */
  def qualityEnsemble(documents: DataFrame): DataFrame = {
    val base = documents
      .where(col("text").isNotNull)
      .select(col("doc_id"),
        filter(split(col("text"), " "), t => length(t) > 0).as("toks"))
      .where(size(col("toks")) > 0)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_toks"),
        aggregate(col("toks"), lit(0L), (a, t) => a + length(t))
          .as("sum_len"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        size(filter(col("toks"), t => length(t) <= 2)).cast("long")
          .as("n_short"))
      .withColumn("m_len",
        col("sum_len").cast("double") / col("n_toks").cast("double"))
      .withColumn("m_ttr",
        col("n_distinct").cast("double") / col("n_toks").cast("double"))
      .withColumn("m_long",
        lit(1.0) - col("n_short").cast("double") / col("n_toks").cast("double"))
    // eager: the three signal ranks CHAIN (each ranks the previous
    // output so the earlier rank columns ride along), and `base`'s
    // interpreted array folds are too expensive to re-derive per
    // construction job — the rankByRange scaladoc's chained-rank case
    def rankBy(df: DataFrame, m: String, as: String): DataFrame = {
      val (r, _) = Analytics.rankByRange(
        df.withColumn("__neg", -col(m)), Seq("__neg", "doc_id"),
        eager = true)
      r.drop("__neg").withColumnRenamed("__rank", as)
    }
    val ranked = rankBy(rankBy(rankBy(base,
      "m_len", "r_len"), "m_ttr", "r_ttr"), "m_long", "r_long")
      .withColumn("rank_sum", col("r_len") + col("r_ttr") + col("r_long"))
    val (ens, _) = Analytics.rankByRange(ranked, Seq("rank_sum", "doc_id"),
      eager = true) // chained on the three signal ranks above
    ens
      .withColumnRenamed("__rank", "ens_rank")
      .select(col("doc_id"), col("r_len"), col("r_ttr"), col("r_long"),
        col("rank_sum"), col("ens_rank"))
      .orderBy("doc_id")
  }

  /** DuckDB replay of [[qualityEnsemble]]: same folds, four
    * row_numbers over the same (metric desc, doc_id) total orders.
    * Exposed as a WITH-body so [[dpoPairsSql]] can build on the same
    * ensemble CTEs (`qq` is the ranked output) without a drift-prone
    * second copy. */
  private[operators] def qualityEnsembleCtes: String =
    s"""qb AS (
       |  SELECT doc_id,
       |    list_filter(string_split(text, ' '), t -> length(t) > 0)
       |      AS toks
       |  FROM documents WHERE text IS NOT NULL),
       |qs AS (
       |  SELECT doc_id,
       |    len(toks)::BIGINT AS n_toks,
       |    list_sum(list_transform(toks, t -> length(t)))::BIGINT
       |      AS sum_len,
       |    len(list_distinct(toks))::BIGINT AS n_distinct,
       |    len(list_filter(toks, t -> length(t) <= 2))::BIGINT AS n_short
       |  FROM qb WHERE len(toks) > 0),
       |qm AS (
       |  SELECT doc_id,
       |    sum_len::DOUBLE / n_toks::DOUBLE AS m_len,
       |    n_distinct::DOUBLE / n_toks::DOUBLE AS m_ttr,
       |    1.0 - n_short::DOUBLE / n_toks::DOUBLE AS m_long
       |  FROM qs),
       |qr AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY m_len DESC, doc_id) AS r_len,
       |    row_number() OVER (ORDER BY m_ttr DESC, doc_id) AS r_ttr,
       |    row_number() OVER (ORDER BY m_long DESC, doc_id) AS r_long
       |  FROM qm),
       |qe AS (
       |  SELECT doc_id, r_len, r_ttr, r_long,
       |    (r_len + r_ttr + r_long)::BIGINT AS rank_sum
       |  FROM qr),
       |qq AS (
       |  SELECT doc_id, r_len::BIGINT AS r_len, r_ttr::BIGINT AS r_ttr,
       |    r_long::BIGINT AS r_long, rank_sum,
       |    row_number() OVER (ORDER BY rank_sum, doc_id)::BIGINT
       |      AS ens_rank
       |  FROM qe)""".stripMargin

  def qualityEnsembleSql(): String =
    s"""WITH $qualityEnsembleCtes
       |SELECT doc_id, r_len, r_ttr, r_long, rank_sum, ens_rank
       |FROM qq ORDER BY doc_id""".stripMargin

  /** Length-bucketed batching diagnostic: documents grouped into
    * power-of-two token-length buckets, reporting what batching at each
    * bucket's ceiling wastes in padding — the number a training
    * pipeline uses to choose its sequence-length buckets (and to see
    * whether [[packSequences]] is worth running). Bucket assignment is
    * pure INTEGER bit arithmetic (`1 << length(bin(n-1))`), not
    * floating log2 — a power-of-two length must never flip buckets on
    * an engine's last-ulp `log` difference. One scan + one tiny
    * aggregate; output is ~log₂(max doc length) rows. */
  def lengthBuckets(documents: DataFrame): DataFrame =
    documents
      .select(size(split(col("text"), " ")).cast("long").as("n_toks"))
      .select(col("n_toks"),
        when(col("n_toks") <= 1L, 1L)
          .otherwise(expr(
            "shiftleft(CAST(1 AS BIGINT), length(bin(n_toks - 1)))"))
          .as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("total_tokens"))
      .select(col("bucket"), col("n_docs"), col("total_tokens"),
        (col("bucket") * col("n_docs")).as("padded_tokens"),
        expr("""CAST(CAST((bucket * n_docs - total_tokens) * 100.0
          / (bucket * n_docs) AS DECIMAL(9,4)) AS DOUBLE)""")
          .as("waste_pct"))
      .orderBy("bucket")

  val lengthBucketsSql: String =
    """WITH t AS (SELECT len(string_split(text, ' '))::BIGINT AS n_toks
      |  FROM documents),
      |b AS (SELECT n_toks,
      |  CASE WHEN n_toks <= 1 THEN 1
      |       ELSE (1::BIGINT << length(bin(n_toks - 1))) END AS bucket
      |  FROM t),
      |g AS (SELECT bucket, count(*) AS n_docs, sum(n_toks)::BIGINT AS total_tokens
      |  FROM b GROUP BY 1)
      |SELECT bucket, n_docs, total_tokens,
      |  bucket * n_docs AS padded_tokens,
      |  CAST(CAST((bucket * n_docs - total_tokens) * 100.0
      |    / (bucket * n_docs) AS DECIMAL(9,4)) AS DOUBLE) AS waste_pct
      |FROM g ORDER BY 1""".stripMargin

  def redactionReportSql: String = {
    val Seq((emailPat, emailTag), (idPat, idTag), (phonePat, phoneTag)) =
      PiiPatterns
    s"""WITH s0 AS (
       |  SELECT doc_id,
       |    text || ' contact u' || CAST(doc_id AS VARCHAR) || '$PiiSeed' AS t0
       |  FROM documents),
       |s1 AS (SELECT doc_id, t0,
       |    regexp_replace(t0, '$emailPat', '$emailTag', 'g') AS t1 FROM s0),
       |s2 AS (SELECT doc_id, t0, t1,
       |    regexp_replace(t1, '$idPat', '$idTag', 'g') AS t2 FROM s1),
       |s3 AS (SELECT doc_id, t0, t1, t2,
       |    regexp_replace(t2, '$phonePat', '$phoneTag', 'g') AS t3 FROM s2)
       |SELECT doc_id,
       |  len(regexp_extract_all(t0, '$emailPat'))::BIGINT AS n_email,
       |  len(regexp_extract_all(t1, '$idPat'))::BIGINT AS n_id,
       |  len(regexp_extract_all(t2, '$phonePat'))::BIGINT AS n_phone,
       |  md5(t3) AS redacted_md5
       |FROM s3 ORDER BY doc_id""".stripMargin
  }

  /** T5-style span corruption (Raffel et al., arXiv 1910.10683 §3.1.4
    * — the denoising pretraining objective: mask contiguous token
    * spans, replace each with a sentinel, and emit the masked spans as
    * the target sequence). This is the op that turns a cleaned corpus
    * into (input, target) training pairs, so determinism is the whole
    * contract: noise comes from the house engine-portable
    * `poly_hash62` over `doc_id:position`, not an RNG — every re-run,
    * every engine, every partitioning produces byte-identical pairs.
    *
    * A position starts a candidate span when `h % 100 < startPct`;
    * the span covers `2 + ((h >> 7) % 3)` tokens (2–4, mean 3 — so
    * `startPct = 5` corrupts ≈ 15% of tokens, the T5 default rate).
    * Overlapping candidates merge into one maximal run; run k is
    * rendered `<extra_id_k>` in the input and `<extra_id_k> tokens…`
    * in the target, both 0-indexed per document.
    *
    * Scale shape: there is NO shuffle — candidate starts, coverage,
    * run-merging, and both output strings are left-to-right `aggregate`
    * folds over the token array inside one projection (the
    * [[Retrieval.hybridSearch]] fold discipline), so the op is
    * embarrassingly parallel and runs at scan speed on 100 TB. Coverage
    * is a precomputed O(n) boolean mask (a forward fold carrying the
    * remaining-span length), so the per-position test is O(1) even for
    * 100k-token documents.
    *
    * Sentinel contract (as in T5): `<extra_id_k>` strings are RESERVED
    * vocabulary — input text must not contain them literally, or the
    * (input, target) pair is ambiguous and irreversible. T5 reserves
    * the sentinel ids in its vocab for exactly this reason; callers
    * feeding untrusted text should strip/escape them first. ENFORCED:
    * a document containing a literal sentinel fails the job loudly
    * (`raise_error` naming the doc_id) instead of silently emitting an
    * unreconstructable pair — one cheap rlike per document, scan-side,
    * no plan change. The guard is mirrored in BOTH engines: the DuckDB
    * replay ([[spanCorruptionSql]]) raises via `error()` on the same
    * pattern, so the faces agree on tainted input too. NULL-text rows are dropped (both engines),
    * matching the dedup-family convention of filtering null keys at
    * the source.
    *
    * Output: (doc_id, n_tokens, n_masked, n_spans, input_text,
    * target_text). Zero-mask docs keep their text verbatim with an
    * empty target. */
  def spanCorruption(documents: DataFrame, startPct: Int = 5): DataFrame = {
    graft.functions.Registry.ensure(documents.sparkSession)
    documents
      .where(col("text").isNotNull)
      .select(col("doc_id"),
        split(when(col("text").rlike("<extra_id_[0-9]+>"),
          raise_error(concat(
            lit("spanCorruption: doc_id="), col("doc_id").cast("string"),
            lit(" contains a literal reserved sentinel <extra_id_k>; " +
              "strip or escape sentinels before span corruption")))
            .cast("string"))
          .otherwise(col("text")), " ").as("toks"))
      // span length per candidate-start position (0 = not a start),
      // then ONE forward fold turns it into a boolean coverage mask:
      // rem carries how many upcoming positions the widest span seen
      // so far still covers, making the per-position test O(1).
      .withColumn("cov", expr(
        s"""aggregate(
           |  transform(
           |    transform(sequence(0, size(toks) - 1),
           |      i -> poly_hash62(concat(CAST(doc_id AS STRING), ':',
           |                              CAST(i AS STRING)))),
           |    h -> CASE WHEN pmod(h, 100) < $startPct
           |         THEN 2 + pmod(shiftright(h, 7), 3)
           |         ELSE CAST(0 AS BIGINT) END),
           |  named_struct('rem', CAST(0 AS BIGINT),
           |    'cov', CAST(array() AS ARRAY<BOOLEAN>)),
           |  (acc, l) -> named_struct(
           |    'rem', greatest(greatest(acc.rem, l) - 1, CAST(0 AS BIGINT)),
           |    'cov', array_append(acc.cov, acc.rem > 0 OR l > 0)),
           |  acc -> acc.cov)""".stripMargin))
      .withColumn("acc", expr(
        """aggregate(sequence(0, size(toks) - 1),
          |  named_struct('k', 0, 'prev', false,
          |    'inp', CAST(array() AS ARRAY<STRING>),
          |    'tgt', CAST(array() AS ARRAY<STRING>)),
          |  (acc, p) -> CASE
          |    WHEN element_at(cov, p + 1) THEN
          |      CASE WHEN acc.prev THEN named_struct(
          |          'k', acc.k, 'prev', true, 'inp', acc.inp,
          |          'tgt', array_append(acc.tgt, element_at(toks, p + 1)))
          |        ELSE named_struct(
          |          'k', acc.k + 1, 'prev', true,
          |          'inp', array_append(acc.inp,
          |            concat('<extra_id_', CAST(acc.k AS STRING), '>')),
          |          'tgt', concat(acc.tgt, array(
          |            concat('<extra_id_', CAST(acc.k AS STRING), '>'),
          |            element_at(toks, p + 1))))
          |      END
          |    ELSE named_struct('k', acc.k, 'prev', false,
          |      'inp', array_append(acc.inp, element_at(toks, p + 1)),
          |      'tgt', acc.tgt)
          |  END)""".stripMargin))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        (size(col("acc.tgt")) - col("acc.k")).cast("long").as("n_masked"),
        col("acc.k").cast("long").as("n_spans"),
        array_join(col("acc.inp"), " ").as("input_text"),
        array_join(col("acc.tgt"), " ").as("target_text"))
      .orderBy("doc_id")
  }

  /** Next-sentence-prediction pair construction (Devlin et al.,
    * arXiv 1810.04805 §3.1 — BERT's second pretraining objective,
    * completing the example-construction trio with [[mlmMasking]] and
    * [[spanCorruption]]): for every consecutive line pair `(A, B)` of
    * a document, emit `(A, B, is_next=1)` half the time and
    * `(A, rand, is_next=0)` the other half, where `rand` is a line
    * drawn from elsewhere in the corpus.
    *
    * Lines are the [[Dedup.contentLinesExpr]] deterministic
    * segmentation ([[Dedup.lineDedup]]'s), and every choice — the
    * pos/neg coin and the negative's source document — comes from
    * `poly_hash62('nsp:' || doc_id || ':' || i)`, so the pair set is
    * byte-identical across runs and engines. The negative line is the
    * FIRST line of the document at DENSE index `(h >> 3) mod n_docs`
    * of the at-least-one-line docs, where the dense 0-based index is a
    * deterministic global rank of `doc_id` ([[Analytics.rankByRange]]
    * — range-partitioned, O(partitions) driver state): modding by a
    * dense count instead of `max(doc_id) + 1` keeps every draw landing
    * on a real document even when the id space is sparse (an earlier
    * max-id draw collapsed the negative class to ~0 on shifted-id
    * layouts like ScaleGen's +10M replica ranges, where nearly every
    * draw fell in an id gap). Only a self-draw (`tgt_doc = doc_id`)
    * still falls back to positive — a deterministic, engine-replayable
    * rule with O(1/n_docs) label-rate skew that now holds for ANY id
    * layout.
    *
    * Scale shape: positives are a per-row projection; negatives need
    * exactly ONE equi-join from pairs (keyed by the drawn dense index)
    * to the one-line-per-doc `first` table — at 100 TB that is a
    * standard shuffled hash join with no skew (draws are
    * hash-uniform). The dense index costs the rank's one range shuffle
    * plus a P-row count pass over `first` (one row per doc, never
    * token-proportional). Per-doc rollup keeps the face bounded:
    * `(doc_id, n_pairs, n_pos, n_neg, pairs_md5)` with `pairs_md5` the
    * MD5 of the newline-joined `A|B|label` triplets in pair order.
    * Docs with fewer than two lines emit nothing. */
  def nspPairs(documents: DataFrame): DataFrame = {
    graft.functions.Registry.ensure(documents.sparkSession)
    val withLines = documents
      .where(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("lines", expr(Dedup.contentLinesExpr))
    val first = withLines
      .where(size(col("lines")) >= 1)
      .select(col("doc_id").as("tgt_doc"),
        element_at(col("lines"), 1).as("b_rand"))
    val (firstRanked, nFirst) = Analytics.rankByRange(first, Seq("tgt_doc"),
      eager = false)
    val firstIdx = firstRanked.select(col("tgt_doc"), col("b_rand"),
      (col("__rank") - 1L).as("idx"))
    val pairs = withLines
      .where(size(col("lines")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(lines) - 2),
          |  i -> named_struct('i', i,
          |    'a', element_at(lines, i + 1),
          |    'b_next', element_at(lines, i + 2),
          |    'h', poly_hash62(concat('nsp:', CAST(doc_id AS STRING),
          |                            ':', CAST(i AS STRING)))))"""
          .stripMargin)).as("p"))
      .select(col("doc_id"), col("p.i").as("i"), col("p.a").as("a"),
        col("p.b_next").as("b_next"),
        expr("pmod(p.h, 2) = 1").as("want_neg"),
        expr(s"pmod(shiftright(p.h, 3), ${math.max(nFirst, 1L)}L)")
          .as("tgt"))
    pairs
      .join(firstIdx, pairs("tgt") === firstIdx("idx"), "left")
      .withColumn("is_next",
        when(col("want_neg") && col("tgt_doc") =!= col("doc_id") &&
          col("b_rand").isNotNull, 0L).otherwise(1L))
      .withColumn("sent_b",
        when(col("is_next") === 0L, col("b_rand")).otherwise(col("b_next")))
      .withColumn("pair_str",
        concat_ws("|", col("a"), col("sent_b"),
          col("is_next").cast("string")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("is_next")).as("n_pos"),
        sum(lit(1L) - col("is_next")).as("n_neg"),
        md5(array_join(expr(
          """transform(sort_array(collect_list(struct(i, pair_str))),
            |  s -> s.pair_str)""".stripMargin), "\n")).as("pairs_md5"))
      .orderBy("doc_id")
  }

  /** DuckDB replay of [[nspPairs]]: the shared line CTEs, the same
    * poly_hash62 coin and dense-index target draw (`row_number` over
    * doc_id replays [[Analytics.rankByRange]]'s rank — both are the
    * unique-key global order), one LEFT JOIN to the first-line-per-doc
    * table, ordered `string_agg` rollup. */
  def nspPairsSql(): String =
    s"""WITH ${Dedup.contentLinesCtes(Dedup.polyFold)},
       |fst AS (
       |  SELECT doc_id AS tgt_doc, l AS b_rand,
       |    row_number() OVER (ORDER BY doc_id) - 1 AS idx
       |  FROM line WHERE line_id = 0),
       |nd AS (SELECT count(*) AS n FROM fst),
       |pr AS (
       |  SELECT a.doc_id, a.line_id AS i, a.l AS a_l, b.l AS b_next,
       |    'nsp:' || CAST(a.doc_id AS VARCHAR) || ':'
       |      || CAST(a.line_id AS VARCHAR) AS key
       |  FROM line a JOIN line b
       |    ON a.doc_id = b.doc_id AND b.line_id = a.line_id + 1),
       |ph AS (
       |  SELECT doc_id, i, a_l, b_next,
       |    (${Dedup.polyFold(131)} | (${Dedup.polyFold(137)} << 31)) AS h
       |  FROM pr),
       |pc AS (
       |  SELECT doc_id, i, a_l, b_next,
       |    h % 2 = 1 AS want_neg,
       |    (h >> 3) % greatest((SELECT n FROM nd), 1) AS tgt
       |  FROM ph),
       |lab AS (
       |  SELECT pc.doc_id, pc.i, pc.a_l,
       |    CASE WHEN pc.want_neg AND f.tgt_doc <> pc.doc_id
       |              AND f.b_rand IS NOT NULL
       |         THEN 0 ELSE 1 END AS is_next,
       |    CASE WHEN pc.want_neg AND f.tgt_doc <> pc.doc_id
       |              AND f.b_rand IS NOT NULL
       |         THEN f.b_rand ELSE pc.b_next END AS sent_b
       |  FROM pc LEFT JOIN fst f ON pc.tgt = f.idx)
       |SELECT doc_id, count(*)::BIGINT AS n_pairs,
       |  sum(is_next)::BIGINT AS n_pos,
       |  sum(1 - is_next)::BIGINT AS n_neg,
       |  md5(string_agg(a_l || '|' || sent_b || '|'
       |    || CAST(is_next AS VARCHAR), chr(10) ORDER BY i)) AS pairs_md5
       |FROM lab GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Masked-language-model example construction (Devlin et al.,
    * arXiv 1810.04805 §3.1 — the BERT pretraining objective, next to
    * the T5 objective in [[spanCorruption]]): select `maskPct`% of
    * token positions; of those, 80% become `[MASK]`, 10% are replaced
    * by a random token, 10% keep the original (so the model cannot
    * rely on `[MASK]` marking every prediction site). Labels are the
    * ORIGINAL tokens at the selected positions.
    *
    * Determinism is the contract (the [[spanCorruption]] discipline):
    * selection, the 80/10/10 branch, and the replacement choice all
    * come from the engine-portable `poly_hash62` over
    * `mlm:doc_id:position` — byte-identical examples on every re-run,
    * engine, and partitioning. The random replacement token is drawn
    * from the DOCUMENT's own tokens (index `(h >> 13) mod n_tokens`):
    * corpus-vocab sampling would need a vocab broadcast per row for no
    * training-signal gain, while per-doc sampling keeps the operator a
    * pure zero-shuffle projection that runs at scan speed on 100 TB.
    *
    * Output: (doc_id, n_tokens, n_selected, n_mask, n_random, n_keep,
    * masked_md5, labels_md5) — counts per branch plus the MD5 of the
    * masked text and of the space-joined label sequence (`md5('')`
    * when nothing selected). NULL-text rows are dropped. */
  def mlmMasking(documents: DataFrame, maskPct: Int = 15): DataFrame = {
    graft.functions.Registry.ensure(documents.sparkSession)
    documents
      .where(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("cells", expr(
        s"""transform(
           |  transform(sequence(0, size(toks) - 1),
           |    i -> named_struct('i', i,
           |      'h', poly_hash62(concat('mlm:', CAST(doc_id AS STRING),
           |                              ':', CAST(i AS STRING))))),
           |  s -> named_struct(
           |    'orig', element_at(toks, s.i + 1),
           |    'sel', pmod(s.h, 100) < $maskPct,
           |    'kind', pmod(shiftright(s.h, 7), 10),
           |    'out', CASE
           |      WHEN pmod(s.h, 100) >= $maskPct
           |        THEN element_at(toks, s.i + 1)
           |      WHEN pmod(shiftright(s.h, 7), 10) <= 7 THEN '[MASK]'
           |      WHEN pmod(shiftright(s.h, 7), 10) = 8
           |        THEN element_at(toks,
           |          CAST(pmod(shiftright(s.h, 13), size(toks)) AS INT) + 1)
           |      ELSE element_at(toks, s.i + 1) END))""".stripMargin))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        expr("size(filter(cells, c -> c.sel))").cast("long")
          .as("n_selected"),
        expr("size(filter(cells, c -> c.sel AND c.kind <= 7))").cast("long")
          .as("n_mask"),
        expr("size(filter(cells, c -> c.sel AND c.kind = 8))").cast("long")
          .as("n_random"),
        expr("size(filter(cells, c -> c.sel AND c.kind = 9))").cast("long")
          .as("n_keep"),
        md5(expr("array_join(transform(cells, c -> c.out), ' ')"))
          .as("masked_md5"),
        md5(expr(
          "array_join(transform(filter(cells, c -> c.sel), c -> c.orig), ' ')"))
          .as("labels_md5"))
      .orderBy("doc_id")
  }

  /** Instruction-tuning (SFT) example construction — the fourth face
    * of the example-construction family ([[mlmMasking]] BERT-MLM,
    * [[nspPairs]] BERT-NSP, [[spanCorruption]] T5): split each
    * document into a PROMPT (its first [[Dedup.contentLinesExpr]]
    * line — the shared deterministic segmentation) and a COMPLETION
    * (the remaining lines), render the chat-template sequence
    * `<|user|> prompt <|assistant|> completion`, and emit the
    * per-token LOSS MASK that trains only on completion tokens —
    * `0` for the prompt and both template tokens, `1` for the
    * completion (the standard SFT convention: loss on assistant
    * turns only).
    *
    * Scale shape: a pure zero-shuffle per-row projection (the
    * [[mlmMasking]] discipline) — runs at scan speed on 100 TB; the
    * only order-sensitive work is inside each row's own token array.
    * Deterministic with no RNG at all, so the face is hash-exact by
    * construction. Docs with fewer than two lines emit nothing (no
    * completion to train on). Output: (doc_id, n_prompt,
    * n_completion, n_total, rendered_md5, mask_md5) where `n_total`
    * counts template tokens too and `mask_md5` hashes the
    * space-joined 0/1 mask sequence. */
  def sftExamples(documents: DataFrame): DataFrame = {
    sftPromptCompletion(documents)
      .select(col("doc_id"),
        size(split(col("prompt"), " ")).cast("long").as("n_prompt"),
        size(split(col("completion"), " ")).cast("long")
          .as("n_completion"),
        md5(concat(lit("<|user|> "), col("prompt"),
          lit(" <|assistant|> "), col("completion"))).as("rendered_md5"))
      .withColumn("n_total", col("n_prompt") + col("n_completion") + 2L)
      .withColumn("mask_md5", md5(expr(
        """array_join(concat(
          |  transform(sequence(1, CAST(n_prompt AS INT) + 2), x -> '0'),
          |  transform(sequence(1, CAST(n_completion AS INT)), x -> '1')),
          |' ')""".stripMargin)))
      .select(col("doc_id"), col("n_prompt"), col("n_completion"),
        col("n_total"), col("rendered_md5"), col("mask_md5"))
      .orderBy("doc_id")
  }

  /** Shared prompt/completion split of the SFT and DPO faces: prompt
    * is the document's first [[Dedup.contentLinesExpr]] line,
    * completion the remaining lines; docs with fewer than two lines
    * emit nothing. Pure zero-shuffle per-row projection. */
  private def sftPromptCompletion(documents: DataFrame): DataFrame = {
    graft.functions.Registry.ensure(documents.sparkSession)
    documents
      .where(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("lines", expr(Dedup.contentLinesExpr))
      .where(size(col("lines")) >= 2)
      .select(col("doc_id"),
        element_at(col("lines"), 1).as("prompt"),
        expr("array_join(slice(lines, 2, size(lines) - 1), ' ')")
          .as("completion"))
  }

  /** DuckDB replay of [[sftExamples]]: the shared line CTEs, first
    * line vs ordered rest, the same template render and 0/1 mask
    * fold. */
  def sftExamplesSql(): String =
    s"""WITH ${Dedup.contentLinesCtes(Dedup.polyFold)},
       |nl AS (SELECT doc_id, count(*) AS n_lines FROM line GROUP BY 1),
       |pc AS (
       |  SELECT l.doc_id,
       |    max(CASE WHEN l.line_id = 0 THEN l.l END) AS prompt,
       |    string_agg(CASE WHEN l.line_id > 0 THEN l.l END, ' '
       |      ORDER BY l.line_id) AS completion
       |  FROM line l JOIN nl USING (doc_id)
       |  WHERE nl.n_lines >= 2 GROUP BY 1),
       |sz AS (
       |  SELECT doc_id,
       |    len(string_split(prompt, ' '))::BIGINT AS n_prompt,
       |    len(string_split(completion, ' '))::BIGINT AS n_completion,
       |    md5('<|user|> ' || prompt || ' <|assistant|> ' || completion)
       |      AS rendered_md5
       |  FROM pc)
       |SELECT doc_id, n_prompt, n_completion,
       |  (n_prompt + n_completion + 2)::BIGINT AS n_total,
       |  rendered_md5,
       |  md5(array_to_string(list_concat(
       |    list_transform(range(1, CAST(n_prompt AS INT) + 3), x -> '0'),
       |    list_transform(range(1, CAST(n_completion AS INT) + 1), x -> '1')),
       |    ' ')) AS mask_md5
       |FROM sz ORDER BY doc_id""".stripMargin

  /** Preference-pair (DPO/RLHF) example construction — the fifth face
    * of the example-construction family ([[mlmMasking]] BERT-MLM,
    * [[nspPairs]] BERT-NSP, [[spanCorruption]] T5, [[sftExamples]]
    * SFT; Rafailov et al., arXiv 2305.18290 define the (prompt,
    * chosen, rejected) triple DPO trains on): pair the
    * [[qualityEnsemble]] rank EXTREMES of the SFT-eligible corpus —
    * the r-th BEST document contributes the prompt and the CHOSEN
    * completion, the r-th WORST contributes the REJECTED completion,
    * both rendered through the [[sftExamples]] chat template. Rank
    * extremes are the standard synthetic-preference recipe when no
    * human labels exist: the quality gap between y⁺ and y⁻ is largest
    * at the ends and shrinks to zero at the middle, and this pairing
    * maximizes the summed gap.
    *
    * Scale shape: the ensemble ranks are [[Analytics.rankByRange]]
    * passes (range-partitioned, O(partitions) driver state); the
    * eligible re-rank is one more; pairing is ONE equi-join of the
    * top half against the bottom half on the dense pair index
    * (`r` ↔ `m+1−r`) — never a cartesian, both sides corpus-halves.
    * Deterministic with no RNG, so fully hash-exact. Output:
    * (pair_id, chosen_doc_id, rejected_doc_id, n_prompt, n_chosen,
    * n_rejected, chosen_md5, rejected_md5) where the md5s hash the
    * rendered `<|user|> prompt <|assistant|> completion` sequences
    * (prompt always from the CHOSEN side — DPO scores both
    * completions under the same prompt). Odd-count corpora leave the
    * exact-median document unpaired. */
  def dpoPairs(documents: DataFrame): DataFrame = {
    val ens = qualityEnsemble(documents)
      .select(col("doc_id"), col("ens_rank"))
    val elig = sftPromptCompletion(documents).join(ens, Seq("doc_id"))
    // eager: chained on the ensemble's ranks AND read twice below
    // (top/bot halves) — the checkpoint materializes the link once
    val (rk, m) = Analytics.rankByRange(elig, Seq("ens_rank"),
      eager = true)
    val half = m / 2
    val top = rk.where(col("__rank") <= half).select(
      col("__rank").as("pair_id"),
      col("doc_id").as("chosen_doc_id"),
      col("prompt"), col("completion").as("chosen"))
    val bot = rk.where(col("__rank") > m - half).select(
      (lit(m) + 1L - col("__rank")).as("pair_id"),
      col("doc_id").as("rejected_doc_id"),
      col("completion").as("rejected"))
    top.join(bot, Seq("pair_id"))
      .select(col("pair_id"), col("chosen_doc_id"), col("rejected_doc_id"),
        size(split(col("prompt"), " ")).cast("long").as("n_prompt"),
        size(split(col("chosen"), " ")).cast("long").as("n_chosen"),
        size(split(col("rejected"), " ")).cast("long").as("n_rejected"),
        md5(concat(lit("<|user|> "), col("prompt"),
          lit(" <|assistant|> "), col("chosen"))).as("chosen_md5"),
        md5(concat(lit("<|user|> "), col("prompt"),
          lit(" <|assistant|> "), col("rejected"))).as("rejected_md5"))
      .orderBy("pair_id")
  }

  /** DuckDB replay of [[dpoPairs]]: the shared line CTEs and
    * prompt/completion split, the shared [[qualityEnsembleCtes]], one
    * row_number over the eligible ens_rank order, and the same
    * `r ↔ m+1−r` half-join. */
  def dpoPairsSql(): String =
    s"""WITH ${Dedup.contentLinesCtes(Dedup.polyFold)},
       |nl AS (SELECT doc_id, count(*) AS n_lines FROM line GROUP BY 1),
       |pc AS (
       |  SELECT l.doc_id,
       |    max(CASE WHEN l.line_id = 0 THEN l.l END) AS prompt,
       |    string_agg(CASE WHEN l.line_id > 0 THEN l.l END, ' '
       |      ORDER BY l.line_id) AS completion
       |  FROM line l JOIN nl USING (doc_id)
       |  WHERE nl.n_lines >= 2 GROUP BY 1),
       |$qualityEnsembleCtes,
       |el AS (
       |  SELECT pc.doc_id, pc.prompt, pc.completion, qq.ens_rank
       |  FROM pc JOIN qq USING (doc_id)),
       |rk AS (
       |  SELECT *, row_number() OVER (ORDER BY ens_rank) AS r,
       |    count(*) OVER () AS m
       |  FROM el),
       |t AS (
       |  SELECT r AS pair_id, doc_id AS chosen_doc_id, prompt,
       |    completion AS chosen
       |  FROM rk WHERE r <= m // 2),
       |b AS (
       |  SELECT m + 1 - r AS pair_id, doc_id AS rejected_doc_id,
       |    completion AS rejected
       |  FROM rk WHERE r > m - m // 2)
       |SELECT pair_id::BIGINT AS pair_id, chosen_doc_id,
       |  rejected_doc_id,
       |  len(string_split(prompt, ' '))::BIGINT AS n_prompt,
       |  len(string_split(chosen, ' '))::BIGINT AS n_chosen,
       |  len(string_split(rejected, ' '))::BIGINT AS n_rejected,
       |  md5('<|user|> ' || prompt || ' <|assistant|> ' || chosen)
       |    AS chosen_md5,
       |  md5('<|user|> ' || prompt || ' <|assistant|> ' || rejected)
       |    AS rejected_md5
       |FROM t JOIN b USING (pair_id) ORDER BY pair_id""".stripMargin

  /** Contrastive dual-view example construction (SimCSE/CERT-style
    * unsupervised contrastive pretraining data, Gao et al.,
    * arXiv 2104.08821 §3 — two corrupted "views" of the same document
    * form a positive pair, views of different documents are
    * in-batch negatives): each view drops `dropPct`% of token
    * POSITIONS independently, with every drop decision drawn from the
    * engine-portable `poly_hash62` over `cv:<view>:doc_id:position`
    * (the [[mlmMasking]] determinism contract — byte-identical views
    * on every re-run, engine, and partitioning; no RNG).
    *
    * Scale shape: a pure zero-shuffle per-row projection — all
    * position hashing and both reconstructions happen inside each
    * row's own token array, so the operator runs at scan speed on
    * 100 TB. Output: (doc_id, n_tokens, n_v1, n_v2, n_both, v1_md5,
    * v2_md5) — kept counts per view, the positions kept in BOTH
    * views (the anchor overlap a collapse diagnostic watches), and
    * the MD5 of each rendered view (`md5('')` when a view drops
    * everything). */
  def contrastiveViews(documents: DataFrame, dropPct: Int = 15): DataFrame = {
    graft.functions.Registry.ensure(documents.sparkSession)
    documents
      .where(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("cells", expr(
        s"""transform(sequence(0, size(toks) - 1),
           |  i -> named_struct(
           |    'tok', element_at(toks, i + 1),
           |    'k1', pmod(poly_hash62(concat('cv:1:',
           |      CAST(doc_id AS STRING), ':', CAST(i AS STRING))), 100)
           |      >= $dropPct,
           |    'k2', pmod(poly_hash62(concat('cv:2:',
           |      CAST(doc_id AS STRING), ':', CAST(i AS STRING))), 100)
           |      >= $dropPct))""".stripMargin))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        expr("CAST(size(filter(cells, c -> c.k1)) AS BIGINT)").as("n_v1"),
        expr("CAST(size(filter(cells, c -> c.k2)) AS BIGINT)").as("n_v2"),
        expr("CAST(size(filter(cells, c -> c.k1 AND c.k2)) AS BIGINT)")
          .as("n_both"),
        md5(expr("array_join(transform(filter(cells, c -> c.k1), " +
          "c -> c.tok), ' ')")).as("v1_md5"),
        md5(expr("array_join(transform(filter(cells, c -> c.k2), " +
          "c -> c.tok), ' ')")).as("v2_md5"))
      .orderBy("doc_id")
  }

  /** DuckDB replay of [[contrastiveViews]]: the [[mlmMaskingSql]]
    * fold construction run twice over the two per-view keys. */
  def contrastiveViewsSql(dropPct: Int = 15): String = {
    val f1 = Dedup.polyFoldOver("key1") _
    val f2 = Dedup.polyFoldOver("key2") _
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |  WHERE text IS NOT NULL),
       |tok AS (
       |  SELECT doc_id, i - 1 AS pos, toks[i] AS tok,
       |    'cv:1:' || CAST(doc_id AS VARCHAR) || ':'
       |      || CAST(i - 1 AS VARCHAR) AS key1,
       |    'cv:2:' || CAST(doc_id AS VARCHAR) || ':'
       |      || CAST(i - 1 AS VARCHAR) AS key2
       |  FROM d, LATERAL unnest(range(1, len(toks) + 1)) AS t (i)),
       |h AS (
       |  SELECT doc_id, pos, tok,
       |    (${f1(131)} | (${f1(137)} << 31)) % 100 >= $dropPct AS k1,
       |    (${f2(131)} | (${f2(137)} << 31)) % 100 >= $dropPct AS k2
       |  FROM tok)
       |SELECT doc_id, count(*)::BIGINT AS n_tokens,
       |  sum(CASE WHEN k1 THEN 1 ELSE 0 END)::BIGINT AS n_v1,
       |  sum(CASE WHEN k2 THEN 1 ELSE 0 END)::BIGINT AS n_v2,
       |  sum(CASE WHEN k1 AND k2 THEN 1 ELSE 0 END)::BIGINT AS n_both,
       |  md5(coalesce(string_agg(CASE WHEN k1 THEN tok END,
       |    ' ' ORDER BY pos), '')) AS v1_md5,
       |  md5(coalesce(string_agg(CASE WHEN k2 THEN tok END,
       |    ' ' ORDER BY pos), '')) AS v2_md5
       |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** DuckDB replay of [[mlmMasking]]: identical poly_hash62 stream,
    * per-position CASE, ordered `string_agg` rebuilds. */
  def mlmMaskingSql(maskPct: Int = 15): String = {
    val fold = Dedup.polyFold
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |  WHERE text IS NOT NULL),
       |tok AS (
       |  SELECT doc_id, i - 1 AS pos, toks[i] AS tok, toks, len(toks) AS n,
       |    'mlm:' || CAST(doc_id AS VARCHAR) || ':'
       |      || CAST(i - 1 AS VARCHAR) AS key
       |  FROM d, LATERAL unnest(range(1, len(toks) + 1)) AS t (i)),
       |h AS (
       |  SELECT doc_id, pos, tok, toks, n,
       |    (${fold(131)} | (${fold(137)} << 31)) AS h
       |  FROM tok),
       |c AS (
       |  SELECT doc_id, pos, tok,
       |    h % 100 < $maskPct AS sel,
       |    (h >> 7) % 10 AS kind,
       |    CASE WHEN h % 100 >= $maskPct THEN tok
       |         WHEN (h >> 7) % 10 <= 7 THEN '[MASK]'
       |         WHEN (h >> 7) % 10 = 8
       |           THEN toks[CAST((h >> 13) % n AS BIGINT) + 1]
       |         ELSE tok END AS out
       |  FROM h)
       |SELECT doc_id, count(*)::BIGINT AS n_tokens,
       |  sum(CASE WHEN sel THEN 1 ELSE 0 END)::BIGINT AS n_selected,
       |  sum(CASE WHEN sel AND kind <= 7 THEN 1 ELSE 0 END)::BIGINT
       |    AS n_mask,
       |  sum(CASE WHEN sel AND kind = 8 THEN 1 ELSE 0 END)::BIGINT
       |    AS n_random,
       |  sum(CASE WHEN sel AND kind = 9 THEN 1 ELSE 0 END)::BIGINT
       |    AS n_keep,
       |  md5(string_agg(out, ' ' ORDER BY pos)) AS masked_md5,
       |  md5(coalesce(string_agg(CASE WHEN sel THEN tok END,
       |    ' ' ORDER BY pos), '')) AS labels_md5
       |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** DuckDB replay of [[spanCorruption]]: same poly_hash62 fold (the
    * [[TextAnalysis.cmsWordFreqSql]] char-fold construction), coverage
    * via an explicit span→position join, run-merging via the classic
    * gaps-and-islands window, ordered `string_agg` rebuilds — a
    * relational formulation provably equal to the engine-side fold. */
  def spanCorruptionSql(startPct: Int = 5): String = {
    val fold = Dedup.polyFold
    // Mirror the Spark face's sentinel guard: both engines must fail
    // loudly on a literal <extra_id_k>, or the replay silently emits
    // the ambiguous pair the guard exists to prevent.
    s"""WITH d AS (
       |  SELECT doc_id, string_split(
       |    CASE WHEN regexp_matches(text, '<extra_id_[0-9]+>')
       |      THEN error('spanCorruption: doc_id=' || CAST(doc_id AS VARCHAR)
       |        || ' contains a literal reserved sentinel <extra_id_k>')
       |      ELSE text END, ' ') AS toks FROM documents
       |  WHERE text IS NOT NULL),
       |tok AS (
       |  SELECT doc_id, i - 1 AS pos, toks[i] AS tok
       |  FROM d, LATERAL unnest(range(1, len(toks) + 1)) AS t (i)),
       |hk AS (
       |  SELECT doc_id, pos,
       |    CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR) AS key
       |  FROM tok),
       |h AS (
       |  SELECT doc_id, pos,
       |    (${fold(131)} | (${fold(137)} << 31)) AS h
       |  FROM hk),
       |st AS (
       |  SELECT doc_id, pos, 2 + ((h >> 7) % 3) AS len
       |  FROM h WHERE h % 100 < $startPct),
       |cov AS (
       |  SELECT DISTINCT doc_id, pos + o AS mpos
       |  FROM st, LATERAL unnest(range(0, len)) AS t (o)),
       |mt AS (
       |  SELECT t.doc_id, t.pos, t.tok,
       |    CASE WHEN lag(t.pos) OVER (PARTITION BY t.doc_id
       |        ORDER BY t.pos) = t.pos - 1 THEN 0 ELSE 1 END AS newrun
       |  FROM tok t JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.mpos),
       |mk AS (
       |  SELECT doc_id, pos, tok, newrun,
       |    sum(newrun) OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS k
       |  FROM mt),
       |inp AS (
       |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS input_text
       |  FROM (
       |    SELECT t.doc_id, t.pos, t.tok
       |    FROM tok t LEFT JOIN cov c
       |      ON t.doc_id = c.doc_id AND t.pos = c.mpos
       |    WHERE c.mpos IS NULL
       |    UNION ALL
       |    SELECT doc_id, pos,
       |      '<extra_id_' || CAST(k AS VARCHAR) || '>' AS tok
       |    FROM mk WHERE newrun = 1)
       |  GROUP BY doc_id),
       |tgt AS (
       |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos, pri) AS target_text
       |  FROM (
       |    SELECT doc_id, pos, 0 AS pri,
       |      '<extra_id_' || CAST(k AS VARCHAR) || '>' AS tok
       |    FROM mk WHERE newrun = 1
       |    UNION ALL
       |    SELECT doc_id, pos, 1 AS pri, tok FROM mk)
       |  GROUP BY doc_id),
       |cnt AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_masked,
       |    sum(newrun)::BIGINT AS n_spans
       |  FROM mk GROUP BY doc_id)
       |SELECT d.doc_id, len(d.toks)::BIGINT AS n_tokens,
       |  coalesce(c.n_masked, 0)::BIGINT AS n_masked,
       |  coalesce(c.n_spans, 0)::BIGINT AS n_spans,
       |  coalesce(i.input_text, array_to_string(d.toks, ' ')) AS input_text,
       |  coalesce(t.target_text, '') AS target_text
       |FROM d LEFT JOIN inp i USING (doc_id) LEFT JOIN tgt t USING (doc_id)
       |LEFT JOIN cnt c USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Weighted sampling WITHOUT replacement via the Efraimidis–Spirakis
    * exponential-keys scheme (A-Res, Inf. Proc. Letters 2006): each doc
    * draws key u^(1/w) from a per-doc uniform u and its source weight
    * w, and the k LARGEST keys are exactly a weighted sample without
    * replacement — the one-pass, merge-friendly formulation (per
    * partition: a k-bounded heap; across partitions: keep the k
    * largest of the union), which is why it is THE distributed
    * weighted sampler. Spark expresses it as a TakeOrdered over the
    * scan — no global sort, no shuffle of the corpus, driver state k
    * rows.
    *
    * Exactness: u = (h32 + 1)/2^32 from the doc's md5 — a dyadic
    * rational both engines represent exactly; weights are DYADIC
    * (src0→4, src1→2, else 1), so u^(1/w) is an sqrt-composition chain
    * and IEEE sqrt is correctly rounded everywhere (the
    * lang_temperature_mix convention) — the key set, and hence the
    * selected sample and its order, is hash-exact. Ties (impossible
    * among distinct 32-bit draws at this k) still carry a doc_id
    * tiebreak so the ORDER itself is total. */
  def weightedSample(docs: DataFrame, k: Int = 200): DataFrame = {
    val u = "(CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) " +
      "AS BIGINT) + 1) / CAST(4294967296 AS DOUBLE)"
    val w = "CASE WHEN source = 'src0' THEN 4 WHEN source = 'src1' THEN 2 " +
      "ELSE 1 END"
    val keyed = docs
      .select(col("doc_id"), col("source"),
        expr(w).as("weight"),
        expr(s"""CASE $w
                |  WHEN 4 THEN sqrt(sqrt($u))
                |  WHEN 2 THEN sqrt($u)
                |  ELSE $u END""".stripMargin).as("sample_key"))
      .orderBy(col("sample_key").desc, col("doc_id"))
      .limit(k)
    // rank over the k-bounded result (k rows — a driver-sized window,
    // not a corpus one)
    import org.apache.spark.sql.expressions.Window
    keyed.withColumn("rank",
      row_number().over(Window.orderBy(col("sample_key").desc,
        col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"), col("source"),
        col("weight").cast("long").as("weight"), col("sample_key"))
      .orderBy("rank")
  }

  /** Oracle for [[weightedSample]]: the same dyadic keys, ORDER BY
    * key DESC LIMIT k. */
  def weightedSampleSql(k: Int = 200): String = {
    val u = "(('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT + 1) " +
      "/ CAST(4294967296 AS DOUBLE)"
    val w = "CASE WHEN source = 'src0' THEN 4 WHEN source = 'src1' THEN 2 " +
      "ELSE 1 END"
    s"""WITH keyed AS (
       |  SELECT doc_id, source, $w AS weight,
       |    CASE $w
       |      WHEN 4 THEN sqrt(sqrt($u))
       |      WHEN 2 THEN sqrt($u)
       |      ELSE $u END AS sample_key
       |  FROM documents)
       |SELECT row_number() OVER (ORDER BY sample_key DESC, doc_id)::BIGINT
       |    AS rank,
       |  doc_id, source, weight::BIGINT AS weight, sample_key
       |FROM keyed ORDER BY sample_key DESC, doc_id LIMIT $k""".stripMargin
  }

  /** Annotation-consensus aggregation: majority label, vote margin and
    * inter-annotator agreement per document — the label-aggregation
    * step every human-labeled (or LLM-judge-labeled) training set runs
    * before the labels are trusted (Dawid–Skene's majority-vote
    * baseline; the per-doc observed agreement P_o = Σ_k c_k(c_k−1) /
    * (m(m−1)) is the per-item term of Fleiss' kappa). The vote table
    * is fabricated deterministically — m annotators each report the
    * doc's hash-derived "true" class, except each (doc, annotator)
    * pair whose own md5 lands in the noise quartile, which reports a
    * shifted class — so the consensus mechanics run over realistic
    * ~75%-accurate raters while staying integer-exact end to end.
    *
    * Scale shape: explode to the (doc, annotator) vote grain (m× the
    * corpus — the shape a real label table arrives in), then ONE
    * doc-keyed shuffle folds it to per-class counts; majority,
    * margin, agreement and P_o are scalar integer arithmetic plus one
    * IEEE division each — hash-exact. Ties break toward the smaller
    * class id (deterministic, engine-agnostic). */
  /** The deterministic m-rater vote table [[labelMajority]] and
    * [[Preference.krippendorffAlpha]] share: per (doc, annotator) a
    * 3-way label fabricated from engine-portable md5 prefixes — a
    * hash-derived "truth" per doc that each annotator reports
    * faithfully except when their per-(doc, annotator) noise draw
    * (1-in-4) flips it to a neighboring label. Replayed verbatim in
    * both operators' oracles. Output: (doc_id, annotator, label). */
  private[operators] def fabricatedVotes(docs: DataFrame,
      m: Int): DataFrame =
    docs
      .select(col("doc_id"),
        explode(array((0 until m).map(lit): _*)).as("annotator"))
      .withColumn("truth", expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) " +
          "AS BIGINT) % 3"))
      .withColumn("noise", expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING) || ':' || " +
          "CAST(annotator AS STRING)), 1, 15), 16, 10) AS BIGINT)"))
      .withColumn("label", expr(
        "CASE WHEN noise % 4 = 0 THEN (truth + 1 + noise % 2) % 3 " +
          "ELSE truth END"))
      .select(col("doc_id"), col("annotator"), col("label"))

  /** The shared DuckDB replay of [[fabricatedVotes]] as a CTE body
    * (callers embed it under their own WITH): same md5-prefix truth,
    * noise draw, and flip rule. */
  private[operators] def fabricatedVotesCtes(m: Int): String =
    s"""votes0 AS (
       |  SELECT doc_id, t.annotator,
       |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 3
       |      AS truth,
       |    ('0x' || substr(md5(doc_id::VARCHAR || ':' ||
       |      t.annotator::VARCHAR), 1, 15))::BIGINT AS noise
       |  FROM documents, (SELECT unnest(range($m)) AS annotator) t),
       |votes AS (
       |  SELECT doc_id, annotator,
       |    CASE WHEN noise % 4 = 0 THEN (truth + 1 + noise % 2) % 3
       |         ELSE truth END AS label
       |  FROM votes0)""".stripMargin

  def labelMajority(docs: DataFrame, annotators: Int = 5): DataFrame = {
    val m = annotators
    val votes = fabricatedVotes(docs, m)
    votes.groupBy(col("doc_id"))
      .agg(sum(when(col("label") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("label") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("label") === 2, 1L).otherwise(0L)).as("n2"))
      .select(col("doc_id"), col("n0"), col("n1"), col("n2"),
        expr("CASE WHEN n0 >= n1 AND n0 >= n2 THEN 0 " +
          "WHEN n1 >= n2 THEN 1 ELSE 2 END").cast("long")
          .as("majority_label"),
        expr(s"CAST(greatest(n0, n1, n2) AS DOUBLE) / CAST($m AS DOUBLE)")
          .as("agreement"),
        expr(s"""CAST(n0 * (n0 - 1) + n1 * (n1 - 1) + n2 * (n2 - 1)
                |  AS DOUBLE) / CAST($m * ($m - 1) AS DOUBLE)""".stripMargin)
          .as("pairwise_po"))
      .orderBy("doc_id")
  }

  /** Oracle for [[labelMajority]]: the same fabricated votes and
    * integer consensus arithmetic. */
  def labelMajoritySql(annotators: Int = 5): String = {
    val m = annotators
    s"""WITH ${fabricatedVotesCtes(m)},
       |c AS (
       |  SELECT doc_id,
       |    sum(CASE WHEN label = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
       |    sum(CASE WHEN label = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
       |    sum(CASE WHEN label = 2 THEN 1 ELSE 0 END)::BIGINT AS n2
       |  FROM votes GROUP BY 1)
       |SELECT doc_id, n0, n1, n2,
       |  (CASE WHEN n0 >= n1 AND n0 >= n2 THEN 0
       |        WHEN n1 >= n2 THEN 1 ELSE 2 END)::BIGINT AS majority_label,
       |  CAST(greatest(n0, n1, n2) AS DOUBLE) / CAST($m AS DOUBLE)
       |    AS agreement,
       |  CAST(n0 * (n0 - 1) + n1 * (n1 - 1) + n2 * (n2 - 1) AS DOUBLE)
       |    / CAST($m * ($m - 1) AS DOUBLE) AS pairwise_po
       |FROM c ORDER BY doc_id""".stripMargin
  }

  /** Conversation-thread flattening by POINTER DOUBLING: every message
    * finds its thread root and depth in O(log depth) join rounds — the
    * Wyllie list-ranking / parallel pointer-jumping classic, and the
    * reason a 100 TB chat corpus can be threaded at all (the naive
    * parent-walk needs depth-many passes; a 500-deep thread costs 500
    * corpus joins sequentially but only ~9 here). Threads are needed
    * upstream of chat-SFT assembly ([[sftExamples]]): raw logs arrive
    * as (message, reply-to-parent) edges, and training examples are
    * built per THREAD, so root-id + depth is the grouping/ordering key
    * the example builder consumes.
    *
    * The reply forest is fabricated deterministically over the DENSE
    * RANK of doc_id (the first `roots` ranks are thread roots; every
    * other doc replies to a strictly-smaller rank drawn from its md5),
    * so the traversal is integer-exact and the DuckDB oracle can
    * replay it as a recursive CTE — the sequential formulation
    * checking the parallel one. Dense ranks, NOT raw ids: id
    * arithmetic breaks on sparse id spaces — the 10× ScaleGen fixture
    * (distinct per-replica id ranges, max id 90M over 50k rows) made
    * raw-id parents land in nonexistent gaps and vanish through the
    * inner join, silently shrinking the output, and blew the analytic
    * depth bound up to the ID RANGE (21 doubling rounds for a 50k-row
    * corpus). The nspPairs sparse-id lesson, one operator later.
    *
    * Scale shape: one [[Analytics.rankByRange]] pass stamps the dense
    * rank (range-partitioned — no single-task sort); then each round
    * is ONE equi-join of the frame with itself (hash shuffle on the
    * ancestor key, linear in corpus size) plus a localCheckpoint to
    * truncate the iterated lineage. The round count is FIXED up front
    * from the forest's analytic depth bound (every parent step
    * descends by at least `roots` ranks, so depth ≤ n/roots and ⌈log₂⌉
    * doublings suffice) — no per-round convergence count, so the
    * driver runs exactly log-many jobs; one bounded assert at the end
    * guards the invariant. */
  def threadAssembly(docs: DataFrame, roots: Int = 64): DataFrame = {
    // eager (measured r19: lazy read 3.2-3.6 s vs 2.7 s — the tiny
    // 2-column checkpoint is cheaper than re-deriving the rank under
    // the iterated round lineage)
    val (ranked, n) = Analytics.rankByRange(
      docs.select(col("doc_id")), Seq("doc_id"), eager = true)
    val base = ranked.select(col("doc_id"), col("__rank").as("id"))
    val h = "CAST(conv(substring(md5(CAST(id AS STRING)), 1, 15), " +
      "16, 10) AS BIGINT)"
    val parent = s"""CASE WHEN id <= $roots THEN id
                    |  WHEN id - $roots * (1 + $h % 3) >= 1
                    |    THEN id - $roots * (1 + $h % 3)
                    |  ELSE 1 + ((id - 1) % $roots) END""".stripMargin
    var f = base
      .select(col("doc_id"), col("id"), expr(parent).as("anc"))
      .withColumn("depth",
        when(col("id") <= roots, 0L).otherwise(1L))
      .localCheckpoint()
    val maxDepth = math.max(1L, n / roots) // parent steps ≥ roots ranks
    val rounds = 64 - java.lang.Long.numberOfLeadingZeros(maxDepth) + 1
    for (_ <- 1 to rounds) {
      val g = f.select(col("id").as("g_id"), col("anc").as("g_anc"),
        col("depth").as("g_depth"))
      // anc's ancestor becomes ours; a root's ancestor is itself at
      // depth 0, so finished rows pass through unchanged
      f = f.join(g, col("anc") === col("g_id"))
        .select(col("doc_id"), col("id"), col("g_anc").as("anc"),
          (col("depth") + col("g_depth")).as("depth"))
        .localCheckpoint()
    }
    val remaining = f.where(col("anc") > roots).count()
    require(remaining == 0,
      s"pointer doubling left $remaining unconverged rows after " +
        s"$rounds rounds (depth bound $maxDepth)")
    val sizes = f.groupBy(col("anc")).agg(count(lit(1)).as("thread_size"))
    val rootIds = base.where(col("id") <= roots)
      .select(col("id").as("anc"), col("doc_id").as("root_id"))
    f.join(broadcast(sizes), Seq("anc")) // ≤ `roots` rows — broadcast
      .join(broadcast(rootIds), Seq("anc")) // rank → the root's doc_id
      .select(col("doc_id"), col("root_id"), col("depth"),
        col("thread_size"))
      .orderBy("doc_id")
  }

  /** Oracle for [[threadAssembly]]: the sequential parent walk as a
    * recursive CTE over the same dense-rank reply forest. */
  def threadAssemblySql(roots: Int = 64): String = {
    val h = "('0x' || substr(md5(id::VARCHAR), 1, 15))::BIGINT"
    s"""WITH RECURSIVE rk AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS id
       |  FROM documents),
       |par AS (
       |  SELECT doc_id, id,
       |    CASE WHEN id <= $roots THEN id
       |      WHEN id - $roots * (1 + $h % 3) >= 1
       |        THEN id - $roots * (1 + $h % 3)
       |      ELSE 1 + ((id - 1) % $roots) END AS parent
       |  FROM rk),
       |walk AS (
       |  SELECT id, id AS cur, 0 AS depth FROM par
       |  UNION ALL
       |  SELECT w.id, p.parent AS cur, w.depth + 1
       |  FROM walk w JOIN par p ON w.cur = p.id
       |  WHERE w.cur > $roots),
       |fin AS (SELECT id, cur, depth FROM walk WHERE cur <= $roots),
       |sz AS (SELECT cur, count(*)::BIGINT AS thread_size
       |       FROM fin GROUP BY 1)
       |SELECT r.doc_id, rr.doc_id AS root_id, f.depth::BIGINT AS depth,
       |  sz.thread_size
       |FROM fin f
       |JOIN rk r ON r.id = f.id
       |JOIN rk rr ON rr.id = f.cur
       |JOIN sz ON f.cur = sz.cur
       |ORDER BY r.doc_id""".stripMargin
  }
}
