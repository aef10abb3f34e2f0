package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the
  * large-scale training-data-pipeline surface (language ID, quality
  * scoring, token counting, fingerprinting).
  *
  * Everything is whitespace tokenization + codegen'd built-in column
  * functions (no UDFs): per-row work stays inside whole-stage codegen
  * and scales embarrassingly parallel; the only shuffles are the final
  * per-source / per-language aggregations, which are partially
  * aggregated map-side first.
  *
  * Tokenization contract shared with the DuckDB oracle: split on a
  * single space (the corpus is single-spaced ASCII) — Spark
  * `split(text, ' ')` ≡ DuckDB `string_split(text, ' ')`.
  */
object TextAnalysis {

  /** Tiny per-language marker lexicons for the n-gram/lexicon language
    * heuristic. Deliberately small and deterministic; the interesting
    * part is the distributed argmax, not the lexicon. */
  val Lexicons: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "a", "en" -> "of", "en" -> "and",
    "es" -> "el", "es" -> "la", "es" -> "los", "es" -> "de",
    "fr" -> "le", "fr" -> "les", "fr" -> "des", "fr" -> "et",
    "de" -> "der", "de" -> "die", "de" -> "das", "de" -> "und")

  private def lexiconDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Lexicons.toDF("lex_lang", "tok")
  }

  /** Document fingerprint: content hash + surface stats. md5 is the
    * cross-engine-stable content fingerprint (same hex in Spark and
    * DuckDB); it doubles as the exact-dedup key. */
  def docFingerprint(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      md5(col("text")).as("fingerprint"),
      length(col("text")).as("text_len"),
      size(split(col("text"), " ")).as("n_tokens"))
      .orderBy("doc_id")

  val docFingerprintSql: String =
    """SELECT doc_id, md5(text) AS fingerprint, length(text) AS text_len,
      |  len(string_split(text, ' ')) AS n_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  /** CCNet-style text normalization (Wenzek et al., arXiv 1911.00359
    * §4.1 — the canonical form computed BEFORE fingerprint dedup so
    * near-identical pages hash identically): lowercase, fold every
    * digit to `0`, collapse whitespace runs, strip non-alphanumeric
    * characters (keeping single spaces). Deliberately restricted to
    * ASCII-safe regex classes on which Java regex (Spark) and RE2
    * (DuckDB) agree exactly — the [[SubwordPattern]] discipline — so
    * the normalized text carries a hash-exact oracle.
    *
    * Pure per-row regex chain fused into the scan by codegen (the
    * [[Corpus.redact]] shape): zero shuffle, scan speed at 100 TB.
    * Output: (doc_id, n_chars_raw, n_chars_norm, changed, norm_md5) —
    * the md5 is what a downstream [[Dedup.dedupExact]] would key on. */
  def textNormalize(documents: DataFrame): DataFrame =
    documents
      .where(col("text").isNotNull)
      .withColumn("norm",
        regexp_replace(
          regexp_replace(
            regexp_replace(lower(col("text")), "[0-9]", "0"),
            "[^a-z0-9 ]", ""),
          "  +", " "))
      .withColumn("norm", expr("trim(norm)"))
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_raw"),
        length(col("norm")).cast("long").as("n_chars_norm"),
        (col("norm") =!= col("text")).as("changed"),
        md5(col("norm")).as("norm_md5"))
      .orderBy("doc_id")

  /** DuckDB replay of [[textNormalize]]: same regex chain (RE2 and
    * Java regex agree on these classes), same trim and md5. */
  val textNormalizeSql: String =
    """SELECT doc_id,
      |  length(text)::BIGINT AS n_chars_raw,
      |  length(norm)::BIGINT AS n_chars_norm,
      |  norm <> text AS changed,
      |  md5(norm) AS norm_md5
      |FROM (
      |  SELECT doc_id, text,
      |    trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
      |      '[0-9]', '0', 'g'), '[^a-z0-9 ]', '', 'g'), '  +', ' ', 'g'))
      |      AS norm
      |  FROM documents WHERE text IS NOT NULL)
      |ORDER BY doc_id""".stripMargin

  /** Feature hashing (Weinberger et al., arXiv 0902.2206 — the
    * "hashing trick"): project every document's bag of words into a
    * fixed `dim`-dimensional integer vector with
    * `v[h(w) mod dim] += sign(w)`, the memory-bounded featurization
    * that needs NO vocabulary pass (contrast [[tfidfTopTerms]]) — the
    * standard input encoding for [[Classifier]]-style linear models at
    * corpus scale. Bucket and sign both come from the engine-portable
    * `poly_hash62`, so the vectors are exact integers, identical on
    * every engine and partitioning.
    *
    * Scale shape: one `(doc_id, dim)`-keyed shuffle with map-side
    * combine — at most `dim` cells per document regardless of length —
    * and zero driver state. Output: the nonzero cells
    * `(doc_id, dim, value)` (signed counts cancel; exact zeros are
    * dropped, matching sparse-vector semantics). */
  def featureHashing(documents: DataFrame, dim: Int = 32): DataFrame = {
    graft.functions.Registry.ensure(documents.sparkSession)
    documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .select(col("doc_id"),
        expr(s"pmod(poly_hash62(concat('fh:', w)), $dim)").as("dim"),
        expr("CASE WHEN pmod(shiftright(poly_hash62(concat('fh:', w)), 6), 2)" +
          " = 0 THEN 1L ELSE -1L END").as("s"))
      .groupBy("doc_id", "dim")
      .agg(sum(col("s")).as("value"))
      .where(col("value") =!= 0L)
      .orderBy("doc_id", "dim")
  }

  /** DuckDB replay of [[featureHashing]]: same char fold, same
    * bucket/sign extraction, same zero-cell drop. */
  def featureHashingSql(dim: Int = 32): String = {
    val fold = Dedup.polyFold
    s"""WITH w AS (
       |  SELECT doc_id, 'fh:' || w AS key FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |    FROM documents)
       |  WHERE len(key) > 3),
       |h AS (
       |  SELECT doc_id, (${fold(131)} | (${fold(137)} << 31)) AS h FROM w),
       |c AS (
       |  SELECT doc_id, h % $dim AS dim,
       |    CASE WHEN (h >> 6) % 2 = 0 THEN 1 ELSE -1 END AS s
       |  FROM h)
       |SELECT doc_id, dim, sum(s)::BIGINT AS value
       |FROM c GROUP BY 1, 2 HAVING sum(s) <> 0
       |ORDER BY doc_id, dim""".stripMargin
  }

  /** Vocabulary coverage curve — what fraction of corpus TOKENS a
    * top-K word vocabulary covers, for several K (the OOV-rate curve
    * every tokenizer/vocab-size decision starts from; the cumulative
    * complement of [[zipfFit]]'s rank-frequency view).
    *
    * Scale shape: the one corpus-sized pass is the word count (bounded
    * output ≈ vocabulary size). The frequency rank is
    * [[Analytics.rankByRange]] on (−cnt, w) — at 100 TB of web text
    * the type table (typos, URLs, numerals) is 1e8–1e9 rows, so an
    * unpartitioned `row_number().over(Window.orderBy(...))` would
    * funnel the whole vocabulary through ONE task; the range rank is
    * rank-identical by construction (the sort is total), keeping the
    * oracle hash-exact. The rank's checkpoint doubles as the single
    * materialization: `total_tokens` sums the CHECKPOINTED vocab frame
    * rather than re-running the corpus explode+count. Coverage
    * fractions are single IEEE divisions of exact integers on the
    * 1e-9 floor lattice.
    *
    * Output per K: (vocab_size, n_types, covered_tokens, total_tokens,
    * coverage, oov_rate), `n_types = min(K, |vocab|)`. */
  def vocabCoverage(documents: DataFrame,
      sizes: Seq[Int] = Seq(64, 256, 1024, 4096)): DataFrame = {
    val counts = documents
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    // eager: ranked is consumed twice (total_tokens sum + the coverage
    // stream) and its upstream is the corpus explode+count — the
    // checkpoint IS the single materialization the scaladoc promises
    val (rankedR, _) = Analytics.rankByRange(
      counts.withColumn("__negcnt", -col("cnt")), Seq("__negcnt", "w"),
      eager = true)
    val ranked = rankedR.withColumnRenamed("__rank", "rank").drop("__negcnt")
    val total = ranked.agg(sum(col("cnt")).as("total_tokens"))
    val ks = sizes.map(k => s"$k").mkString(",")
    ranked
      .select(col("cnt"), col("rank"),
        explode(expr(s"array($ks)")).as("vocab_size"))
      .where(col("rank") <= col("vocab_size"))
      .groupBy("vocab_size")
      .agg(count(lit(1)).as("n_types"),
        sum(col("cnt")).as("covered_tokens"))
      .crossJoin(broadcast(total))
      .withColumn("coverage", expr(
        """floor(CAST(covered_tokens AS DOUBLE)
          |  / CAST(total_tokens AS DOUBLE) * 1e9 + 0.5) / 1e9"""
          .stripMargin))
      .withColumn("oov_rate", expr(
        """floor(CAST(total_tokens - covered_tokens AS DOUBLE)
          |  / CAST(total_tokens AS DOUBLE) * 1e9 + 0.5) / 1e9"""
          .stripMargin))
      .select(col("vocab_size").cast("long").as("vocab_size"),
        col("n_types"), col("covered_tokens"), col("total_tokens"),
        col("coverage"), col("oov_rate"))
      .orderBy("vocab_size")
  }

  /** DuckDB replay of [[vocabCoverage]]: same rank, same per-K rollup,
    * same lattice divisions. */
  def vocabCoverageSql(sizes: Seq[Int] = Seq(64, 256, 1024, 4096)): String = {
    val ks = sizes.mkString(", ")
    s"""WITH wc AS (
       |  SELECT w, count(*)::BIGINT AS cnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) > 0 GROUP BY 1),
       |tot AS (SELECT sum(cnt)::BIGINT AS total_tokens FROM wc),
       |r AS (
       |  SELECT cnt,
       |    row_number() OVER (ORDER BY cnt DESC, w)::BIGINT AS rank
       |  FROM wc),
       |k AS (SELECT unnest(ARRAY[$ks])::BIGINT AS vocab_size),
       |cov AS (
       |  SELECT k.vocab_size, count(*)::BIGINT AS n_types,
       |    sum(r.cnt)::BIGINT AS covered_tokens
       |  FROM k JOIN r ON r.rank <= k.vocab_size
       |  GROUP BY 1)
       |SELECT vocab_size, n_types, covered_tokens, total_tokens,
       |  floor(CAST(covered_tokens AS DOUBLE)
       |    / CAST(total_tokens AS DOUBLE) * 1e9 + 0.5) / 1e9 AS coverage,
       |  floor(CAST(total_tokens - covered_tokens AS DOUBLE)
       |    / CAST(total_tokens AS DOUBLE) * 1e9 + 0.5) / 1e9 AS oov_rate
       |FROM cov CROSS JOIN tot ORDER BY vocab_size""".stripMargin
  }

  /** "BPE-ish" subword regex: greedy runs of up to 3 letters — a
    * deterministic stand-in for a learned-merge tokenizer ('window' →
    * ['win','dow']). Simple enough that Java regex (Spark) and RE2
    * (DuckDB) agree exactly. */
  val SubwordPattern = "[a-z]{1,3}"

  /** Token counting: per-source corpus statistics. `n_tokens` uses a
    * whitespace split; `n_subword_tokens` the BPE-ish regex;
    * `n_distinct_tokens` is the per-source vocabulary (exploded +
    * distinct — a shuffle on (source, token), partially aggregated). */
  def tokenCount(documents: DataFrame): DataFrame = {
    val toks = documents.select(
      col("source"),
      explode(split(col("text"), " ")).as("tok"))
    val perSource = documents.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " "))).as("n_tokens"),
      sum(size(regexp_extract_all(col("text"), lit(SubwordPattern), lit(0))))
        .as("n_subword_tokens"))
    val vocab = toks.groupBy(col("source"))
      .agg(countDistinct(col("tok")).as("n_distinct_tokens"))
    perSource.join(vocab, Seq("source")).orderBy("source")
  }

  val tokenCountSql: String =
    s"""WITH toks AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
      |SELECT d.source, d.n_docs, d.n_tokens, d.n_subword_tokens,
      |  v.n_distinct_tokens
      |FROM (SELECT source, count(*) AS n_docs,
      |        sum(len(string_split(text, ' ')))::BIGINT AS n_tokens,
      |        sum(len(regexp_extract_all(text, '$SubwordPattern')))::BIGINT AS n_subword_tokens
      |      FROM documents GROUP BY 1) d
      |JOIN (SELECT source, count(DISTINCT tok) AS n_distinct_tokens
      |      FROM toks GROUP BY 1) v USING (source)
      |ORDER BY source""".stripMargin

  /** Quality scoring: per-document surface heuristics used to filter
    * training corpora — length, token count, vocabulary richness
    * (type-token ratio), mean token length. All single-pass per-row
    * except the distinct-token count, which needs the exploded distinct.
    * Ratios are a single double division of exact integers, so they are
    * bit-identical across engines. */
  def textQuality(documents: DataFrame): DataFrame = {
    val perDoc = documents.select(
      col("doc_id"),
      length(col("text")).as("text_len"),
      size(split(col("text"), " ")).as("n_tokens"))
    val distincts = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id")
      .agg(countDistinct(col("tok")).as("n_distinct_tokens"),
        sum(length(col("tok"))).as("sum_tok_len"))
    perDoc.join(distincts, Seq("doc_id"))
      .select(
        col("doc_id"), col("text_len"), col("n_tokens"),
        col("n_distinct_tokens"),
        (col("n_distinct_tokens").cast("double") / col("n_tokens").cast("double")).as("type_token_ratio"),
        (col("sum_tok_len").cast("double") / col("n_tokens").cast("double")).as("avg_token_len"),
        (col("n_tokens") >= 32).as("passes_min_len"))
      .orderBy("doc_id")
  }

  val textQualitySql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |per_doc AS (
      |  SELECT doc_id, length(text) AS text_len,
      |    len(string_split(text, ' ')) AS n_tokens FROM documents),
      |d AS (
      |  SELECT doc_id, count(DISTINCT tok) AS n_distinct_tokens,
      |    sum(length(tok)) AS sum_tok_len FROM toks GROUP BY 1)
      |SELECT p.doc_id, p.text_len, p.n_tokens, d.n_distinct_tokens,
      |  CAST(d.n_distinct_tokens AS DOUBLE) / CAST(p.n_tokens AS DOUBLE) AS type_token_ratio,
      |  CAST(d.sum_tok_len AS DOUBLE) / CAST(p.n_tokens AS DOUBLE) AS avg_token_len,
      |  p.n_tokens >= 32 AS passes_min_len
      |FROM per_doc p JOIN d USING (doc_id) ORDER BY p.doc_id""".stripMargin

  /** Stop-word list for the Gopher "contains ≥ 2 stop words" rule —
    * the original's 8-word English list (Rae et al., arXiv 2112.11446
    * table A1). */
  val GopherStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style document quality rules (Rae et al.,
    * arXiv 2112.11446 §A.1.1, the filter battery behind MassiveText and
    * most open-corpus pipelines since): each document is checked
    * against surface heuristics — word-count bounds, mean-word-length
    * bounds, symbol-to-word ratio, fraction of words containing an
    * alphabetic character, and distinct stop-word hits — and the
    * verdict per rule plus the conjunction is emitted so downstream
    * filters can ablate rules individually.
    *
    * Every rule is a per-row column expression over the token array
    * (higher-order `filter`/`array_intersect`, no explode, no UDF), so
    * the whole operator is scan-side map work inside whole-stage
    * codegen — at 100 TB it is embarrassingly parallel with zero
    * shuffles before the output sort. Ratios are single double
    * divisions of exact integers, bit-identical across engines.
    * Bounds default to the paper's, with the word-count window scaled
    * to this corpus' 10–99-token documents so both tails are
    * exercised. */
  def gopherQuality(documents: DataFrame, minWords: Int = 25,
      maxWords: Int = 90, minMeanLen: Double = 3.0,
      maxMeanLen: Double = 10.0, maxSymbolRatio: Double = 0.1,
      minAlphaFrac: Double = 0.8, minStopHits: Int = 2): DataFrame = {
    val stopLit = GopherStopWords.map(w => s"'$w'").mkString("array(", ", ", ")")
    documents
      .select(col("doc_id"), split(col("text"), " ").as("t"),
        size(regexp_extract_all(col("text"), lit("#|\\.\\.\\."), lit(0)))
          .as("n_symbols"))
      .select(
        col("doc_id"),
        size(col("t")).as("n_words"),
        (expr("aggregate(t, 0L, (acc, x) -> acc + length(x))").cast("double") /
          size(col("t")).cast("double")).as("mean_word_len"),
        (col("n_symbols").cast("double") / size(col("t")).cast("double"))
          .as("symbol_word_ratio"),
        (expr("size(filter(t, x -> x rlike '[a-z]'))").cast("double") /
          size(col("t")).cast("double")).as("alpha_word_frac"),
        expr(s"size(array_intersect(t, $stopLit))").as("n_stop_hits"))
      .withColumn("passes_word_count",
        col("n_words").between(minWords, maxWords))
      .withColumn("passes_mean_word_len",
        col("mean_word_len").between(minMeanLen, maxMeanLen))
      .withColumn("passes_symbol_ratio", col("symbol_word_ratio") <= maxSymbolRatio)
      .withColumn("passes_alpha_frac", col("alpha_word_frac") >= minAlphaFrac)
      .withColumn("passes_stop_words", col("n_stop_hits") >= minStopHits)
      .withColumn("passes_gopher",
        col("passes_word_count") && col("passes_mean_word_len") &&
          col("passes_symbol_ratio") && col("passes_alpha_frac") &&
          col("passes_stop_words"))
      .orderBy("doc_id")
  }

  def gopherQualitySql(minWords: Int = 25, maxWords: Int = 90,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minAlphaFrac: Double = 0.8,
      minStopHits: Int = 2): String = {
    val stopLit = GopherStopWords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH base AS (
       |  SELECT doc_id, string_split(text, ' ') AS t,
       |    len(regexp_extract_all(text, '#|\\.\\.\\.')) AS n_symbols
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, len(t) AS n_words,
       |    CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
       |      / CAST(len(t) AS DOUBLE) AS mean_word_len,
       |    CAST(n_symbols AS DOUBLE) / CAST(len(t) AS DOUBLE)
       |      AS symbol_word_ratio,
       |    CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
       |      / CAST(len(t) AS DOUBLE) AS alpha_word_frac,
       |    len(list_intersect(t, $stopLit)) AS n_stop_hits
       |  FROM base)
       |SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
       |  alpha_word_frac, n_stop_hits,
       |  n_words BETWEEN $minWords AND $maxWords AS passes_word_count,
       |  mean_word_len BETWEEN $minMeanLen AND $maxMeanLen
       |    AS passes_mean_word_len,
       |  symbol_word_ratio <= $maxSymbolRatio AS passes_symbol_ratio,
       |  alpha_word_frac >= $minAlphaFrac AS passes_alpha_frac,
       |  n_stop_hits >= $minStopHits AS passes_stop_words,
       |  (n_words BETWEEN $minWords AND $maxWords)
       |    AND (mean_word_len BETWEEN $minMeanLen AND $maxMeanLen)
       |    AND symbol_word_ratio <= $maxSymbolRatio
       |    AND alpha_word_frac >= $minAlphaFrac
       |    AND n_stop_hits >= $minStopHits AS passes_gopher
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** Within-document n-gram repetition — the "repeated n-gram
    * fraction" quality rule of large-corpus filters (docs dominated by
    * repeated phrases are boilerplate/spam): 1 − distinct/total word
    * n-grams. Computed per-row by the codegen'd
    * [[graft.functions.NgramStats ngram_stats]] kernel (no explode, no
    * shuffle beyond the final sort) — at 100 TB this is a pure
    * scan-side map, embarrassingly parallel. Docs shorter than n tokens are excluded
    * (no n-grams → no signal). The division is a single double op on
    * exact integers, bit-identical across engines. */
  def ngramRepetition(documents: DataFrame, n: Int = 3,
      maxDupFrac: Double = 0.2): DataFrame = {
    graft.functions.Registry.ensure(documents.sparkSession)
    documents
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= n)
      // one codegen'd pass per row — the equivalent higher-order-
      // function chain (transform + concat_ws + array_distinct) is
      // interpreted and materializes the n-gram array per row
      .select(col("doc_id"), expr(s"ngram_stats(toks, $n)").as("st"))
      .select(col("doc_id"),
        col("st.n_ngrams").as("n_ngrams"),
        col("st.n_distinct_ngrams").as("n_distinct_ngrams"))
      .withColumn("dup_ngram_frac",
        lit(1.0) - col("n_distinct_ngrams").cast("double") /
          col("n_ngrams").cast("double"))
      .withColumn("passes_repetition", col("dup_ngram_frac") <= maxDupFrac)
      .orderBy("doc_id")
  }

  def ngramRepetitionSql(n: Int = 3, maxDupFrac: Double = 0.2): String = {
    require(n == 3, "oracle SQL is written for trigrams")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
       |    generate_subscripts(string_split(text, ' '), 1) AS idx
       |  FROM documents),
       |tg AS (
       |  SELECT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS ng
       |  FROM toks a
       |  JOIN toks b ON a.doc_id = b.doc_id AND b.idx = a.idx + 1
       |  JOIN toks c ON a.doc_id = c.doc_id AND c.idx = a.idx + 2),
       |g AS (
       |  SELECT doc_id, count(*) AS n_ngrams,
       |    count(DISTINCT ng) AS n_distinct_ngrams
       |  FROM tg GROUP BY 1)
       |SELECT doc_id, n_ngrams, n_distinct_ngrams,
       |  1.0 - CAST(n_distinct_ngrams AS DOUBLE) / CAST(n_ngrams AS DOUBLE)
       |    AS dup_ngram_frac,
       |  (1.0 - CAST(n_distinct_ngrams AS DOUBLE) / CAST(n_ngrams AS DOUBLE))
       |    <= $maxDupFrac AS passes_repetition
       |FROM g ORDER BY doc_id""".stripMargin
  }

  /** Lexicon language ID: count marker-token hits per language
    * (broadcast join against the tiny lexicon), take the argmax with a
    * deterministic tie-break (higher hits, then lexicographic lang);
    * zero hits → 'und'. The heavy side is the exploded token stream;
    * the lexicon side broadcasts, so there is one shuffle (doc_id
    * aggregation). */
  def langId(spark: SparkSession, documents: DataFrame): DataFrame = {
    val toks = documents.select(
      col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val hits = toks
      .join(broadcast(lexiconDf(spark)), Seq("tok"))
      .groupBy(col("doc_id"), col("lex_lang"))
      .agg(count(lit(1)).as("hits"))
    val best = hits
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id"))
          .orderBy(col("hits").desc, col("lex_lang"))))
      .where(col("rk") === 1)
      .select(col("doc_id"), col("lex_lang").as("predicted_lang"), col("hits"))
    documents.select(col("doc_id"), col("lang").as("labeled_lang"))
      .join(best, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("labeled_lang"),
        coalesce(col("predicted_lang"), lit("und")).as("predicted_lang"),
        coalesce(col("hits"), lit(0L)).as("marker_hits"))
      .orderBy("doc_id")
  }

  /** Unigram-familiarity quality score — the exact-arithmetic cousin
    * of LM-perplexity corpus filtering (CCNet-style): how much of a
    * document's tokens come from the corpus's common vocabulary, and
    * how frequent they are on average. Two passes: the corpus unigram
    * table (one shuffle, then broadcast — a natural-language vocabulary
    * is bounded no matter the corpus size), and a per-doc aggregate
    * over the token stream joined to it. All outputs are integer
    * counts plus one IEEE-exact double division, so the score is
    * hash-reproducible across engines (a log-prob variant would hang
    * on libm ulp differences). */
  def unigramFamiliarity(documents: DataFrame, minCount: Long = 5): DataFrame = {
    val toks = documents.select(
      col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val vocab = toks.groupBy(col("tok"))
      .agg(count(lit(1)).as("freq"))
      .where(col("freq") >= minCount)
    toks
      .join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("freq").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(coalesce(col("freq"), lit(0L))).as("sum_freq"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (col("sum_freq").cast("double") / col("n_tokens").cast("double"))
          .as("mean_tok_freq"))
      .orderBy("doc_id")
  }

  def unigramFamiliaritySql(minCount: Long = 5): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |vocab AS (
       |  SELECT tok, count(*) AS freq FROM toks GROUP BY 1
       |  HAVING count(*) >= $minCount)
       |SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
       |  sum(CASE WHEN v.freq IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
       |  CAST(sum(coalesce(v.freq, 0)) AS DOUBLE) / count(*) AS mean_tok_freq
       |FROM toks t LEFT JOIN vocab v USING (tok)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Heavy-hitter tokens via the Space-Saving sketch
    * ([[graft.functions.TopKSketchAgg]]): bounded state per partial
    * buffer instead of a full distinct-token shuffle. With `capacity`
    * above the corpus vocabulary the sketch is exact (no evictions), so
    * this query is oracle-checked against exact counts; the capacity
    * knob is what makes it survive a 100 TB token stream. */
  def topTokens(documents: DataFrame, k: Int = 20,
      capacity: Int = 4096): DataFrame = {
    graft.functions.Registry.ensure(documents.sparkSession)
    documents
      .select(explode(split(col("text"), " ")).as("tok"))
      .agg(expr(s"topk_sketch(tok, $k, $capacity)").as("m"))
      .select(explode(col("m")).as(Seq("token", "est_count")))
      .orderBy(desc("est_count"), col("token"))
  }

  def topTokensSql(k: Int = 20): String =
    s"""SELECT tok AS token, count(*) AS est_count
       |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
       |GROUP BY 1 ORDER BY est_count DESC, token LIMIT $k""".stripMargin

  /** Winnowing document fingerprints (the MOSS scheme): hash every
    * k-char gram (rolling window over the text), then keep the minimum
    * hash of each w-gram window — guarantees any shared substring of
    * length ≥ k+w-1 yields a shared fingerprint. One per-row call of
    * the codegen'd [[graft.functions.WinnowFingerprints]] kernel (the
    * earlier `transform`/`slice`/`array_min` chain ran interpreted, a
    * closure call per gram); short texts yield an empty array → no
    * rows. Gram hashes are the engine-portable poly_hash62 fold, so
    * the DuckDB oracle replays the whole scheme exactly (windowed min
    * over the same gram-hash sequence). */
  def winnowingFingerprints(documents: DataFrame, k: Int = 8,
      w: Int = 4): DataFrame = {
    graft.functions.Registry.ensure(documents.sparkSession)
    documents
      .select(col("doc_id"),
        explode(expr(s"winnow_fingerprints(text, $k, $w)")).as("fingerprint"))
  }

  /** Per-doc winnowing fingerprint summary (the queries() face of
    * [[winnowingFingerprints]]). */
  def winnowingSummary(documents: DataFrame, k: Int = 8, w: Int = 4): DataFrame =
    winnowingFingerprints(documents, k, w)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fingerprints"),
        expr("bit_xor(fingerprint)").as("fingerprint_xor"))
      .orderBy("doc_id")

  /** The shared DuckDB CTE body replaying [[winnowingFingerprints]]
    * (poly_hash62 gram fold via `list_reduce` over code points,
    * windowed `min` over gram position), ending in
    * `f(doc_id, fp)` — each doc's DISTINCT fingerprints. Both
    * [[winnowingSummarySql]] and [[winnowPairsSql]] build on it. */
  private def winnowFpCtes(k: Int, w: Int): String = {
    val gramFold = (base: Int) =>
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(1, ${k + 1}),
         |        j -> CAST(unicode(substr(text, CAST(i + j AS INT), 1)) AS BIGINT))),
         |      (a, x) -> (a * $base + x) % 2147483647)""".stripMargin
    s"""pos AS (
       |  SELECT doc_id, text, unnest(range(0, length(text) - $k + 1)) AS i
       |  FROM documents WHERE length(text) >= ${k + w - 1}),
       |g AS (
       |  SELECT doc_id, i,
       |    ${gramFold(131)} |
       |    (${gramFold(137)} << 31) AS gh
       |  FROM pos),
       |m AS (
       |  SELECT doc_id, i,
       |    min(gh) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS fp,
       |    count(*) OVER (PARTITION BY doc_id) AS n_grams
       |  FROM g),
       |f AS (SELECT DISTINCT doc_id, fp FROM m WHERE i < n_grams - ${w - 1})"""
      .stripMargin
  }

  /** DuckDB replay of [[winnowingSummary]]: the shared fingerprint
    * CTEs, then count/xor per doc. */
  def winnowingSummarySql(k: Int = 8, w: Int = 4): String =
    s"""WITH ${winnowFpCtes(k, w)}
       |SELECT doc_id, count(*) AS n_fingerprints, bit_xor(fp) AS fingerprint_xor
       |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** MOSS candidate pairs (Schleimer et al., SIGMOD'03 §5 — the
    * winnowing index actually USED for plagiarism/boilerplate
    * detection, the pairing face of [[winnowingSummary]]): documents
    * sharing ≥ `minShared` distinct winnowing fingerprints. Because
    * winnowing guarantees any shared substring of length ≥ k+w−1
    * yields a shared fingerprint, `n_shared` lower-bounds the number
    * of distinct shared substrings that long — a candidate generator
    * with guaranteed substring-level recall, where the shingle/MinHash
    * faces see only token sets.
    *
    * Scale shape: fingerprints with document frequency > `maxDf` are
    * DROPPED before pairing (the stop-shingle discipline: boilerplate
    * fingerprints would contribute df² pair fan-out and match
    * everything — exactly the rows a plagiarism index ignores), so
    * every posting list in the pair join is ≤ maxDf and the fan-out
    * is bounded per fingerprint; the pair aggregate is map-side
    * combined. Output: (doc_id_a, doc_id_b, n_shared). */
  def winnowPairs(documents: DataFrame, k: Int = 8, w: Int = 4,
      minShared: Long = 3, maxDf: Long = 64): DataFrame = {
    // winnow_fingerprints returns each doc's DISTINCT minima already —
    // no dedup shuffle needed before the df aggregate
    val fps = winnowingFingerprints(documents, k, w)
    val dfs = fps.groupBy(col("fingerprint")).agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf)
    val pruned = fps.join(dfs.select("fingerprint"), Seq("fingerprint"))
    val a = pruned.select(col("fingerprint"), col("doc_id").as("doc_id_a"))
    val b = pruned.select(col("fingerprint"), col("doc_id").as("doc_id_b"))
    a.join(b, Seq("fingerprint"))
      .where(col("doc_id_a") < col("doc_id_b"))
      .groupBy("doc_id_a", "doc_id_b")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .orderBy("doc_id_a", "doc_id_b")
  }

  /** DuckDB replay of [[winnowPairs]]: the shared fingerprint CTEs,
    * the same df cap, self-join, and threshold. */
  def winnowPairsSql(k: Int = 8, w: Int = 4, minShared: Long = 3,
      maxDf: Long = 64): String =
    s"""WITH ${winnowFpCtes(k, w)},
       |dfs AS (SELECT fp, count(*) AS df FROM f GROUP BY 1),
       |pr AS (SELECT f.doc_id, f.fp FROM f JOIN dfs USING (fp)
       |       WHERE dfs.df <= $maxDf)
       |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       |  count(*) AS n_shared
       |FROM pr a JOIN pr b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= $minShared
       |ORDER BY doc_id_a, doc_id_b""".stripMargin

  val langIdSql: String = {
    val lexValues = Lexicons
      .map { case (l, t) => s"('$l', '$t')" }.mkString(", ")
    s"""WITH lex(lex_lang, tok) AS (VALUES $lexValues),
       |toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |hits AS (
       |  SELECT doc_id, lex_lang, count(*) AS hits
       |  FROM toks JOIN lex USING (tok) GROUP BY 1, 2),
       |best AS (
       |  SELECT doc_id, lex_lang AS predicted_lang, hits,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY hits DESC, lex_lang) AS rk
       |  FROM hits)
       |SELECT d.doc_id, d.lang AS labeled_lang,
       |  coalesce(b.predicted_lang, 'und') AS predicted_lang,
       |  coalesce(b.hits, 0) AS marker_hits
       |FROM documents d LEFT JOIN (SELECT * FROM best WHERE rk = 1) b
       |  USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }
  /** Per-source token statistics through the PUBLIC typed-UDAF API
    * ([[graft.functions.TokenStatsAggregator]] via `functions.udaf`):
    * one hash-groupBy with map-side partial buffers — demonstrating
    * that a user-written `Aggregator` gets the same partial/merge
    * treatment as a built-in. */
  def tokenStats(documents: DataFrame): DataFrame = {
    val fn = udaf(graft.functions.TokenStatsAggregator,
      org.apache.spark.sql.Encoders.scalaLong)
    documents
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("tok"))
      .groupBy(col("source"))
      .agg(fn(col("tok")).as("s"))
      .select(col("source"), col("s.n_docs").as("n_docs"),
        col("s.total_tokens").as("total_tokens"),
        col("s.min_tokens").as("min_tokens"),
        col("s.max_tokens").as("max_tokens"))
      .orderBy("source")
  }

  val tokenStatsSql: String =
    """SELECT source, count(*) AS n_docs,
      |  sum(len(string_split(text, ' ')))::BIGINT AS total_tokens,
      |  min(len(string_split(text, ' ')))::BIGINT AS min_tokens,
      |  max(len(string_split(text, ' ')))::BIGINT AS max_tokens
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** Top-k TF-IDF terms per document — the classic keyword/feature
    * extraction over a corpus. tf = term count in doc; idf =
    * ln((N+1)/(df+1)) + 1 (smoothed); rank by score within doc.
    *
    * Plan shape (scales linearly in corpus size):
    *  1. explode → (doc, term) counts: one shuffle on (doc_id, term);
    *  2. document frequency: re-aggregate the tf table by term (the
    *     vocabulary — smaller than the corpus, but UNFILTERED: every
    *     hapax/typo/URL token is a row, so at web scale it is 10⁸–10⁹
    *     rows and nothing a driver can hold);
    *  3. tf ⋈ df on term: deliberately NOT broadcast-hinted — the df
    *     side scales with corpus content, and SCALE.md's rule is that
    *     anything fact-table-sized is never hinted. AQE broadcasts at
    *     runtime when the measured vocab is genuinely small and
    *     degrades to a shuffle join (same term-hash both sides, no
    *     extra exchange of tf beyond the one it already pays) when it
    *     is not;
    *  4. per-doc top-k: the row_number ≤ k idiom, run as Spark's sorted
    *     `Window` with `WindowGroupLimit` trimming each doc to k rows
    *     before the shuffle ([[graft.plans.TopK]] is the no-sort heap).
    *
    * The ranking key is the score quantized to DECIMAL(20,10) — ties
    * (same tf, same df) are exact in both engines, and a 1-ulp `ln`
    * divergence cannot reorder the quantized key; term breaks ties. */
  def tfidfTopTerms(documents: DataFrame, k: Int = 3): DataFrame = {
    val spark = documents.sparkSession
    val tf = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .where(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = documents.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score_dec", expr(
        "CAST(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) AS DECIMAL(20,10))"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score_dec").desc, col("term"))
    scored
      .withColumn("term_rank", row_number().over(w))
      .where(col("term_rank") <= k)
      .select(col("doc_id"), col("term_rank"), col("term"),
        col("score_dec").cast("double").as("tfidf"))
      .orderBy("doc_id", "term_rank")
  }

  def tfidfTopTermsSql(k: Int = 3): String =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |             FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       |       WHERE term <> '' GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |scored AS (SELECT tf.doc_id, tf.term,
       |  CAST(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0)
       |       AS DECIMAL(20,10)) AS score_dec
       |  FROM tf JOIN df USING (term) CROSS JOIN n),
       |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
       |        ORDER BY score_dec DESC, term) AS term_rank
       |      FROM scored)
       |SELECT doc_id, term_rank::BIGINT AS term_rank, term,
       |  CAST(score_dec AS DOUBLE) AS tfidf
       |FROM r WHERE term_rank <= $k ORDER BY doc_id, term_rank""".stripMargin

  /** Lexicon tagging with DISTANT SUPERVISION (the dictionary/seed-word
    * text classifier — Aho-Corasick/FlashText-style keyword tagging,
    * with the lexicons MINED from the corpus itself the way
    * weakly-supervised taxonomy pipelines bootstrap them): treat each
    * `source` as a topic, build its lexicon as the top-`k` terms by
    * source-level TF-IDF (source-concatenated tf × inverse SOURCE
    * frequency — the [[tfidfTopTerms]] smoothing, one level up), then
    * tag every document with the lexicon that matches the most of its
    * token instances (ties broken lexicographically; zero-hit docs tag
    * `''`). Reports prediction vs. actual source per document — the
    * distant-supervision confusion a domain-mixing pipeline uses to
    * route untagged crawl text into its source buckets.
    *
    * Scale shape: source-level tf is one map-side-combined aggregate;
    * the lexicon is ≤ sources×k rows → BROADCAST into the token
    * stream (the join that must never shuffle the corpus side); hit
    * counting is one (doc, topic)-keyed aggregate and the per-doc
    * argmax a doc-partitioned row_number over ≤ |sources| rows per
    * doc. The lexicon-build window partitions by `source` —
    * vocab-bounded per source, never corpus-proportional. Exactness:
    * integer counts everywhere; the only ln sits inside the
    * [[tfidfTopTerms]] DECIMAL(20,10) quantization both engines share.
    * Output: (doc_id, source, predicted_source, n_hits, is_correct). */
  def lexiconTags(documents: DataFrame, k: Int = 10): DataFrame = {
    val tok = documents
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("term"))
      .where(col("term") =!= "")
    val tf = tok.groupBy("source", "term").agg(count(lit(1)).as("tf"))
    val sf = tf.groupBy("term").agg(count(lit(1)).as("sf"))
    val ns = documents.agg(countDistinct(col("source")).as("n_sources"))
    val scored = tf.join(sf, Seq("term"))
      .crossJoin(broadcast(ns))
      .withColumn("score_dec", expr(
        "CAST(tf * (ln((n_sources + 1.0) / (sf + 1.0)) + 1.0) AS DECIMAL(20,10))"))
    val wLex = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("score_dec").desc, col("term"))
    val lex = scored.withColumn("r", row_number().over(wLex))
      .where(col("r") <= k)
      .select(col("term"), col("source").as("lex_source"))
    val hits = tok.join(broadcast(lex), Seq("term"))
      .groupBy(col("doc_id"), col("lex_source"))
      .agg(count(lit(1)).as("hits"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("hits").desc, col("lex_source"))
    val best = hits.withColumn("rr", row_number().over(wDoc))
      .where(col("rr") === 1)
      .select(col("doc_id"), col("lex_source"), col("hits"))
    documents.select(col("doc_id"), col("source"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("lex_source"), lit("")).as("predicted_source"),
        coalesce(col("hits"), lit(0L)).as("n_hits"))
      .withColumn("is_correct",
        (col("source") === col("predicted_source")).cast("long"))
      .orderBy("doc_id")
  }

  /** DuckDB replay of [[lexiconTags]]: same source-level TF-IDF
    * lexicon (shared DECIMAL quantization), same integer hit counts
    * and (hits desc, topic) argmax. */
  def lexiconTagsSql(k: Int = 10): String =
    s"""WITH tok AS (
       |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
       |  FROM documents),
       |t2 AS (SELECT * FROM tok WHERE term <> ''),
       |tf AS (SELECT source, term, count(*) AS tf FROM t2 GROUP BY 1, 2),
       |sf AS (SELECT term, count(*) AS sf FROM tf GROUP BY 1),
       |ns AS (SELECT count(DISTINCT source) AS n_sources FROM documents),
       |scored AS (SELECT tf.source, tf.term,
       |  CAST(tf.tf * (ln((ns.n_sources + 1.0) / (sf.sf + 1.0)) + 1.0)
       |       AS DECIMAL(20,10)) AS score_dec
       |  FROM tf JOIN sf USING (term) CROSS JOIN ns),
       |lex AS (
       |  SELECT term, source AS lex_source FROM (
       |    SELECT *, row_number() OVER (PARTITION BY source
       |      ORDER BY score_dec DESC, term) AS r
       |    FROM scored) WHERE r <= $k),
       |hits AS (
       |  SELECT t2.doc_id, lex.lex_source, count(*) AS hits
       |  FROM t2 JOIN lex USING (term) GROUP BY 1, 2),
       |best AS (
       |  SELECT doc_id, lex_source, hits FROM (
       |    SELECT *, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY hits DESC, lex_source) AS rr
       |    FROM hits) WHERE rr = 1)
       |SELECT d.doc_id, d.source,
       |  coalesce(b.lex_source, '') AS predicted_source,
       |  coalesce(b.hits, 0)::BIGINT AS n_hits,
       |  (CASE WHEN d.source = coalesce(b.lex_source, '')
       |    THEN 1 ELSE 0 END)::BIGINT AS is_correct
       |FROM documents d LEFT JOIN best b USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** Character n-gram statistics per document via the custom
    * [[graft.functions.CharNgrams]] Generator (UDTF surface): each doc
    * streams its overlapping n-grams through `Generate` — no
    * intermediate gram array — then a two-key hash aggregate counts
    * totals and distincts. Docs shorter than n are excluded on both
    * engines (the generator yields no rows for them). */
  def charNgramExplode(spark: org.apache.spark.sql.SparkSession,
      documents: DataFrame, n: Int = 4): DataFrame = {
    graft.functions.Registry.ensure(spark)
    documents
      .where(length(col("text")) >= n)
      .select(col("doc_id"), expr(s"char_ngrams(text, $n)").as("gram"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        countDistinct(col("gram")).as("n_distinct_ngrams"))
      .orderBy("doc_id")
  }

  def charNgramExplodeSql(n: Int = 4): String =
    s"""WITH g AS (SELECT doc_id, text,
       |    unnest(generate_series(1, length(text) - ${n - 1})) AS i
       |  FROM documents WHERE length(text) >= $n)
       |SELECT doc_id, count(*) AS n_ngrams,
       |  count(DISTINCT substr(text, i, $n)) AS n_distinct_ngrams
       |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  /** Bigram collocations by pointwise mutual information —
    * PMI(a,b) = ln(P(ab) / (P(a)·P(b))) with P(ab) over adjacent-bigram
    * occurrences and P(tok) over token occurrences. The corpus-linguistics
    * tool for finding multi-word units ("new york") that tokenizers and
    * dedup shingles should treat as one.
    *
    * Plan shape (linear in corpus size): bigrams come from a per-row
    * `transform` over the token array (no positional self-join), then
    * ONE hash aggregate each for bigram and unigram counts; the two
    * unigram enrichment joins are genuinely AQE-decided (no hint): the
    * unigram table is UNFILTERED vocabulary — `minCount` bounds only
    * the bigram side — so at web scale it is hapax-heavy and far too
    * big to pin to the driver; AQE broadcasts it when the measured
    * size is small and shuffles otherwise. The corpus totals are a
    * 1-row broadcast — the same scalar shape as [[tfidfTopTerms]].
    * `minCount` keeps only bigrams with support (PMI is noise below
    * it) and bounds the OUTPUT by the frequent-bigram vocabulary.
    *
    * Engine-portable math: counts are exact longs; the PMI ratio is
    * built as two products of count-valued doubles (exact below 2^53)
    * divided once, and the `ln` result is quantized to DECIMAL(18,9) —
    * same convention as [[Analytics.experimentEntropy]]. Output ordered
    * by the (deterministic) bigram, not the float score. */
  def collocations(documents: DataFrame, minCount: Long = 5): DataFrame = {
    val toks = documents.select(split(col("text"), " ").as("t"))
    val uni = toks.select(explode(col("t")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val bg = toks.where(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(t) - 2), " +
          "i -> struct(t[i] AS a, t[i + 1] AS b))")).as("g"))
      .select(col("g.a").as("tok_a"), col("g.b").as("tok_b"))
      .groupBy("tok_a", "tok_b").agg(count(lit(1)).as("c_ab"))
      .where(col("c_ab") >= minCount)
    val n = toks.agg(sum(size(col("t"))).cast("double").as("n1"),
      sum(size(col("t")) - 1).cast("double").as("n2"))
    bg
      .join(uni.toDF("tok_a", "c_a"), "tok_a")
      .join(uni.toDF("tok_b", "c_b"), "tok_b")
      .crossJoin(broadcast(n))
      .select(col("tok_a"), col("tok_b"), col("c_ab"),
        expr("""CAST(CAST(ln((CAST(c_ab AS DOUBLE) * n1 * n1) /
          (n2 * CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE)))
          AS DECIMAL(18,9)) AS DOUBLE)""").as("pmi"))
      .orderBy("tok_a", "tok_b")
  }

  /** CCNet-style language-model quality signal (Wenzek et al.,
    * arXiv 1911.00359 use KenLM perplexity to rank CommonCrawl docs;
    * same shape here with a corpus-trained bigram model): every
    * document scored by the mean negative log-probability of its
    * bigrams under add-one smoothing — low `nll` ≈ fluent/typical,
    * high `nll` ≈ rare constructions (or garbage). The "model" is two
    * distributed count tables (unigram, bigram), never collected: at
    * 100 TB this is two token-keyed aggregate shuffles + one
    * instance-to-count join, the exact plan of [[collocations]] with a
    * per-doc fold on top.
    *
    * p(b|a) = (c(a,b) + 1) / (c(a) + V); per-instance −ln p is
    * quantized to DECIMAL(18,9) before the per-doc sum so the fold is
    * exact and order-free (the engine-parity discipline every ln/÷
    * query here follows). The MEAN is deliberately not materialized:
    * dividing the exact decimal sum by a small n lands on 1e-9
    * rounding-tie boundaries where engines' double→decimal casts
    * disagree (observed 2/500 docs off by exactly 1e-9) — consumers
    * compute `nll_sum / n_bigrams`. Docs with fewer than 2 tokens have
    * no bigrams and are absent. Output: (doc_id, n_bigrams, nll_sum). */
  def lmBigramScore(documents: DataFrame): DataFrame = {
    val toks = documents.select(col("doc_id"), split(col("text"), " ").as("t"))
    val uni = toks.select(explode(col("t")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c_a"))
    val vocab = uni.agg(count(lit(1)).cast("double").as("v"))
    val docBigrams = toks.where(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 2), " +
          "i -> struct(t[i] AS a, t[i + 1] AS b))")).as("g"))
      .select(col("doc_id"), col("g.a").as("tok_a"), col("g.b").as("tok_b"))
    val bigramCounts = docBigrams.groupBy("tok_a", "tok_b")
      .agg(count(lit(1)).as("c_ab"))
    docBigrams
      .join(bigramCounts, Seq("tok_a", "tok_b"))
      .join(uni.withColumnRenamed("tok", "tok_a"), "tok_a")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        expr("""CAST(-ln((CAST(c_ab AS DOUBLE) + 1.0) /
          (CAST(c_a AS DOUBLE) + v)) AS DECIMAL(18,9))""").as("nll_i"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        expr("CAST(sum(nll_i) AS DOUBLE)").as("nll_sum"))
      .orderBy("doc_id")
  }

  def lmBigramScoreSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |uc AS (SELECT tok, count(*) AS c_a
      |       FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY 1),
      |v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uc),
      |dbg AS (SELECT doc_id, g.a AS tok_a, g.b AS tok_b
      |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(t)),
      |          i -> struct_pack(a := t[i], b := t[i + 1]))) AS g
      |        FROM toks WHERE len(t) >= 2)),
      |bc AS (SELECT tok_a, tok_b, count(*) AS c_ab FROM dbg GROUP BY 1, 2),
      |inst AS (SELECT doc_id,
      |    CAST(-ln((CAST(c_ab AS DOUBLE) + 1.0) /
      |      (CAST(uc.c_a AS DOUBLE) + v.v)) AS DECIMAL(18,9)) AS nll_i
      |  FROM dbg JOIN bc USING (tok_a, tok_b)
      |  JOIN uc ON dbg.tok_a = uc.tok CROSS JOIN v)
      |SELECT doc_id, count(*) AS n_bigrams,
      |  CAST(sum(nll_i) AS DOUBLE) AS nll_sum
      |FROM inst GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995; Chen &
    * Goodman 1999's interpolated form — the smoothing every serious
    * count-based LM uses, next to [[lmBigramScore]]'s add-one
    * baseline): P(w|v) = (c(vw) − D)/c(v·) + D·N₁₊(v·)/c(v·) ·
    * N₁₊(·w)/N₁₊(··) with discount D = 3/4 — absolute discounting
    * plus the continuation-probability backoff that scores a word by
    * how many CONTEXTS it follows, not how often it occurs (the
    * "San Francisco" correction). Every scored bigram is seen
    * (c ≥ 1), so the max(·,0) clamp never binds on this face.
    *
    * Exactness: with D = 3/4 the probability is one ratio of two
    * BIGINT-exact integers over the common denominator 4·c(v·)·N₁₊
    * ((4c−3)·N₁₊(··) + 3·N₁₊(v·)·N₁₊(·w) over 4·c(v·)·N₁₊(··)),
    * then ONE double division and the [[lmBigramScore]]
    * DECIMAL(18,9)-quantized −ln — order-independent sums after
    * quantization. (The integer products stay far under 2⁶³ at any
    * tested fixture; a corpus where c(v·)·N₁₊(··) approaches 2⁶¹
    * re-enters DECIMAL per SCALE.md §8.)
    *
    * Scale shape = the [[lmBigramScore]] template: one bigram-count
    * shuffle (map-side combined, vocab²-bounded sparse), the context
    * and continuation tables re-aggregate FROM the count table (never
    * the corpus), and scoring joins the token stream by key with a
    * 1-row N₁₊(··) broadcast. Output: (doc_id, n_bigrams, nll_sum). */
  def lmKneserNeyScore(documents: DataFrame): DataFrame = {
    val toks = documents.select(col("doc_id"), split(col("text"), " ").as("t"))
    val docBigrams = toks.where(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 2), " +
          "i -> struct(t[i] AS a, t[i + 1] AS b))")).as("g"))
      .select(col("doc_id"), col("g.a").as("tok_a"), col("g.b").as("tok_b"))
    val bc = docBigrams.groupBy("tok_a", "tok_b")
      .agg(count(lit(1)).as("c_ab"))
    val ctx = bc.groupBy("tok_a")
      .agg(sum(col("c_ab")).as("c_v"), count(lit(1)).as("n1p_v"))
    val cont = bc.groupBy("tok_b").agg(count(lit(1)).as("n1p_w"))
    val tot = bc.agg(count(lit(1)).as("n1pp"))
    docBigrams
      .join(bc, Seq("tok_a", "tok_b"))
      .join(ctx, Seq("tok_a"))
      .join(cont, Seq("tok_b"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), expr(
        """CAST(-ln(
          |  CAST((4 * c_ab - 3) * n1pp + 3 * n1p_v * n1p_w AS DOUBLE) /
          |  CAST(4 * c_v * n1pp AS DOUBLE)) AS DECIMAL(18,9))"""
          .stripMargin).as("nll_i"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        expr("CAST(sum(nll_i) AS DOUBLE)").as("nll_sum"))
      .orderBy("doc_id")
  }

  /** DuckDB replay of [[lmKneserNeyScore]]: identical count tables,
    * identical integer numerator/denominator, one division, the same
    * quantized ln lattice. */
  def lmKneserNeyScoreSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |dbg AS (SELECT doc_id, g.a AS tok_a, g.b AS tok_b
      |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(t)),
      |          i -> struct_pack(a := t[i], b := t[i + 1]))) AS g
      |        FROM toks WHERE len(t) >= 2)),
      |bc AS (SELECT tok_a, tok_b, count(*) AS c_ab FROM dbg GROUP BY 1, 2),
      |ctx AS (SELECT tok_a, sum(c_ab) AS c_v, count(*) AS n1p_v
      |        FROM bc GROUP BY 1),
      |cont AS (SELECT tok_b, count(*) AS n1p_w FROM bc GROUP BY 1),
      |tot AS (SELECT count(*) AS n1pp FROM bc),
      |inst AS (SELECT doc_id,
      |    CAST(-ln(
      |      CAST((4 * c_ab - 3) * n1pp + 3 * n1p_v * n1p_w AS DOUBLE) /
      |      CAST(4 * c_v * n1pp AS DOUBLE)) AS DECIMAL(18,9)) AS nll_i
      |  FROM dbg JOIN bc USING (tok_a, tok_b)
      |  JOIN ctx USING (tok_a) JOIN cont USING (tok_b) CROSS JOIN tot)
      |SELECT doc_id, count(*) AS n_bigrams,
      |  CAST(sum(nll_i) AS DOUBLE) AS nll_sum
      |FROM inst GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Byte-pair-encoding merge training (Sennrich et al.,
    * arXiv 1508.07909 — the tokenizer-training algorithm behind BPE/
    * WordPiece-family vocabularies): learn the `nMerges` most frequent
    * adjacent symbol pairs, greedily, each merge rewriting the
    * vocabulary before the next count.
    *
    * The scale shape is the whole point: BPE statistics live on the
    * WORD-FREQUENCY table, not the corpus — the single corpus-sized
    * pass is the word count (one shuffle, map-side combined, bounded
    * output ≈ vocabulary size regardless of corpus size). Every
    * iteration then runs on that small cached table: explode adjacent
    * symbol pairs weighted by word count, aggregate, take the argmax
    * (1 driver row per merge — legitimate), and rewrite symbol arrays
    * with a greedy left-to-right fold. `localCheckpoint` truncates the
    * per-iteration lineage so plan depth stays O(1), not O(merges).
    * At 100 TB the word count dominates and parallelizes perfectly;
    * training is also routinely run on a sample (`samplePct`).
    *
    * Ties break deterministically (higher weight, then lexicographic
    * pair); merges stop early when the best pair drops below
    * `minCount`. Output: (rank, pair_a, pair_b, merged, weight). */
  def bpeTrain(documents: DataFrame, nMerges: Int = 16,
      minCount: Long = 2, samplePct: Int = 100): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    bpeTrainSeg(documents, nMerges, minCount, samplePct)._1
      .toDF("rank", "pair_a", "pair_b", "merged", "weight")
      .orderBy("rank")
  }

  /** ONE training per (session, corpus, hyperparams) for each
    * tokenizer family — the [[Unigram.unigramVocab]] memo discipline:
    * the train and encode catalog faces share a single training run
    * (the merge list is O(nMerges) driver rows; the segmentation table
    * is a `localCheckpoint`ed leaf — VOCAB-bounded, safe to reuse
    * across actions). The application id (1:1 with the SparkContext)
    * is part of the key: a cached DataFrame's checkpoint blocks die
    * with the SparkContext that made them, so an entry must never be
    * served under a later context (it would throw "SparkContext has
    * been shut down" at action time). Size stays bounded by distinct
    * (corpus, params) per live context; entries from dead contexts
    * are evicted on the next lookup. */
  private val bpeTrained = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Int, Long, Int), (Seq[(Int, String, String, String, Long)], DataFrame)]()
  private val wpTrained = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Int, Long, Int), (Seq[(Int, String, String, String, Long, Long)], DataFrame)]()

  private def memoKey(documents: DataFrame, nMerges: Int, minCount: Long,
      samplePct: Int): (String, Int, Int, Long, Int) =
    (documents.sparkSession.sparkContext.applicationId,
      documents.queryExecution.analyzed.semanticHash(), nMerges, minCount,
      samplePct)

  /** Drop memo entries whose owning context is not the live one —
    * their checkpointed blocks are unreachable anyway. */
  private def evictDead[V](m: java.util.concurrent.ConcurrentHashMap[
      (String, Int, Int, Long, Int), V], live: String): Unit =
    m.keySet.removeIf(_._1 != live)

  /** Shared trainer: returns the merge list AND the post-training
    * word→symbols vocabulary (which IS the segmentation table
    * [[bpeEncode]] joins against — no replay at encode time). */
  private def bpeTrainSeg(documents: DataFrame, nMerges: Int,
      minCount: Long, samplePct: Int)
      : (Seq[(Int, String, String, String, Long)], DataFrame) = {
    evictDead(bpeTrained, documents.sparkSession.sparkContext.applicationId)
    bpeTrained.computeIfAbsent(
      memoKey(documents, nMerges, minCount, samplePct),
      _ => bpeTrainSegUncached(documents, nMerges, minCount, samplePct))
  }

  private def bpeTrainSegUncached(documents: DataFrame, nMerges: Int,
      minCount: Long, samplePct: Int)
      : (Seq[(Int, String, String, String, Long)], DataFrame) = {
    val spark = documents.sparkSession
    import spark.implicits._
    var vocab = symbolVocab(documents, samplePct)
    def lit1(s: String) = s.replace("\\", "\\\\").replace("'", "\\'")
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var rank = 0
    var done = false
    while (rank < nMerges && !done) {
      val best = vocab
        .where(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(0, size(syms) - 2), " +
            "i -> struct(syms[i] AS a, syms[i + 1] AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("weight"))
        .orderBy(desc("weight"), asc("a"), asc("b"))
        .limit(1)
        .as[(String, String, Long)]
        .collect()
      best.headOption match {
        case Some((a, b, w)) if w >= minCount =>
          merges += ((rank, a, b, a + b, w))
          vocab = vocab.select(col("w"),
            expr(greedyMergeExpr(lit1(a), lit1(b), lit1(a + b))).as("syms"),
            col("cnt")).localCheckpoint()
          rank += 1
        case _ => done = true
      }
    }
    (merges.result(), vocab.select(col("w"), col("syms")))
  }

  /** The one corpus-sized pass shared by the BPE and WordPiece
    * trainers: word → frequency (output bounded by vocabulary size
    * regardless of corpus size; one map-side-combined shuffle), each
    * word split to its character symbols. `localCheckpoint` so every
    * merge round rereads the materialized table, not the corpus. */
  private def symbolVocab(documents: DataFrame, samplePct: Int): DataFrame = {
    val sampled =
      if (samplePct >= 100) documents
      else documents.where(
        pmod(xxhash64(col("doc_id")), lit(100)) < samplePct)
    sampled
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(col("w"),
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
          .as("syms"), col("cnt"))
      .localCheckpoint()
  }

  /** Greedy left-to-right merge rewrite shared by the BPE and
    * WordPiece trainers: a fold that merges `[.., a] + b` into
    * `[.., ab]`; a freshly merged symbol never re-merges in the same
    * pass (`'aaa'` + `(a,a)` → `[aa, a]`, per the algorithm). Inputs
    * are already `lit1`-escaped. */
  private def greedyMergeExpr(ea: String, eb: String, eab: String): String =
    s"""aggregate(syms, CAST(array() AS ARRAY<STRING>), (acc, x) ->
       |  CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '$ea'
       |            AND x = '$eb'
       |  THEN concat(slice(acc, 1, size(acc) - 1), array('$eab'))
       |  ELSE concat(acc, array(x)) END)""".stripMargin

  /** DuckDB replay of [[bpeTrain]]: `nMerges` unrolled rounds over the
    * word table, with each word's symbol sequence encoded as a STRING
    * of individually-wrapped symbols (`␟sym␟` concatenated, U+001F
    * separators). In that encoding the greedy left-to-right merge fold
    * IS SQL `replace`: the pattern `␟a␟␟b␟` → `␟ab␟` matches only
    * whole adjacent symbols (a bare in-symbol substring can't supply
    * the wrapping separators), and leftmost non-overlapping
    * replacement reproduces the fold's freshly-merged-never-re-merges
    * rule exactly (`aaaa` + (a,a) → `[aa, aa]` in both). Per round:
    * overlapping pair counts → argmax (weight desc, pair asc) with the
    * min-count stop (an empty round leaves the vocab unchanged, so
    * all later rounds stay empty — the loop's `done`), then one
    * `replace` over every word. MATERIALIZED for the same 2^rounds
    * inlining reason as [[wordPagerankSql]]. */
  def bpeTrainSql(nMerges: Int = 16, minCount: Long = 2): String =
    s"""WITH ${bpeRoundCtes(nMerges, minCount)}
       |${(1 to nMerges).map(k =>
          s"SELECT ${k - 1} AS rank, a AS pair_a, b AS pair_b, " +
            s"a || b AS merged, CAST(weight AS BIGINT) AS weight FROM m$k")
          .mkString("\nUNION ALL\n")}
       |ORDER BY rank""".stripMargin

  /** DuckDB replay of [[bpeEncode]] (samplePct=100): the round-`n`
    * vocabulary from [[bpeTrainSql]]'s chain IS the word→pieces map;
    * encoding is the same corpus-word join and per-source rollup. */
  def bpeEncodeSql(nMerges: Int = 16, minCount: Long = 2): String = {
    val u = ""
    s"""WITH ${bpeRoundCtes(nMerges, minCount)},
       |pieces AS (SELECT w,
       |    len(string_split(trim(s, '$u'), '$u$u')) AS np FROM v$nMerges),
       |cw AS (SELECT source, unnest(string_split(text, ' ')) AS w
       |  FROM documents)
       |SELECT source, count(*)::BIGINT AS n_words,
       |  CAST(sum(np) AS BIGINT) AS n_bpe_tokens,
       |  CAST(sum(CASE WHEN np = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_whole_words,
       |  CAST(sum(len(w)) AS BIGINT) AS n_chars,
       |  floor(CAST(sum(np) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |    * 1e9 + 0.5) / 1e9 AS fertility,
       |  floor(CAST(sum(len(w)) AS DOUBLE) / CAST(sum(np) AS DOUBLE)
       |    * 1e9 + 0.5) / 1e9 AS chars_per_token
       |FROM cw JOIN pieces USING (w)
       |WHERE len(w) > 0
       |GROUP BY source ORDER BY source""".stripMargin
  }

  /** The shared word-table + `nMerges` merge-round CTE chain of
    * [[bpeTrainSql]]/[[bpeEncodeSql]]. */
  private def bpeRoundCtes(nMerges: Int, minCount: Long): String = {
    val u = ""
    val rounds = (1 to nMerges).map { k =>
      s"""p$k AS (SELECT pu.u.a AS a, pu.u.b AS b, pu.cnt FROM (
         |    SELECT cnt, unnest(list_transform(range(1, len(t0)),
         |      i -> struct_pack(a := t0[i], b := t0[i + 1]))) AS u
         |    FROM (SELECT cnt, string_split(trim(s, '$u'), '$u$u') AS t0
         |          FROM v${k - 1})
         |    WHERE len(t0) >= 2) pu),
         |m$k AS MATERIALIZED (SELECT a, b, sum(cnt) AS weight
         |  FROM p$k GROUP BY 1, 2 HAVING sum(cnt) >= $minCount
         |  ORDER BY weight DESC, a, b LIMIT 1),
         |v$k AS MATERIALIZED (SELECT w, cnt, replace(s,
         |    COALESCE((SELECT '$u' || a || '$u$u' || b || '$u' FROM m$k),
         |      chr(1)),
         |    COALESCE((SELECT '$u' || a || b || '$u' FROM m$k), '')) AS s
         |  FROM v${k - 1})""".stripMargin
    }.mkString(",\n")
    s"""words AS (SELECT w, count(*)::BIGINT AS cnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) > 0 GROUP BY 1),
       |v0 AS MATERIALIZED (SELECT w, cnt,
       |    '$u' || array_to_string(list_transform(range(1, len(w) + 1),
       |      i -> w[i]), '$u$u') || '$u' AS s
       |  FROM words),
       |$rounds""".stripMargin
  }

  /** Segment every word of the corpus with a learned merge table (the
    * inference half of [[bpeTrain]]): the post-training vocabulary IS
    * the word→symbols mapping, so encoding is one broadcast-or-shuffle
    * equi-join from corpus words to their segmentation — no per-merge
    * work at read time. Output: per-source subword statistics. */
  def bpeEncode(documents: DataFrame, nMerges: Int = 16,
      minCount: Long = 2, samplePct: Int = 100): DataFrame = {
    val (_, seg) = bpeTrainSeg(documents, nMerges, minCount, samplePct)
    documents
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      // left join: words outside a sampled training set fall back to
      // their character segmentation (the untrained encoding)
      .join(seg, Seq("w"), "left")
      .withColumn("syms", coalesce(col("syms"),
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"),
        sum(size(col("syms"))).as("n_bpe_tokens"),
        sum(when(size(col("syms")) === 1, 1L).otherwise(0L))
          .as("n_whole_words"),
        sum(length(col("w"))).as("n_chars"))
      // tokenizer-quality ratios (fertility = subword tokens per word,
      // the multilingual-tokenizer-eval headline number; compression =
      // chars per subword token): IEEE divisions of exact integers on
      // the 1e-9 floor lattice
      .withColumn("fertility", expr(
        "floor(CAST(n_bpe_tokens AS DOUBLE) / CAST(n_words AS DOUBLE)" +
          " * 1e9 + 0.5) / 1e9"))
      .withColumn("chars_per_token", expr(
        "floor(CAST(n_chars AS DOUBLE) / CAST(n_bpe_tokens AS DOUBLE)" +
          " * 1e9 + 0.5) / 1e9"))
      .orderBy("source")
  }

  /** WordPiece merge training (Schuster & Nakajima, ICASSP 2012; the
    * tokenizer behind BERT vocabularies) — the LIKELIHOOD-scored
    * sibling of [[bpeTrain]]: where BPE merges the most FREQUENT
    * adjacent pair, WordPiece merges the pair maximizing
    * `count(ab) / (count(a) * count(b))` — the pair whose merge most
    * increases a unigram LM's corpus likelihood, preferring strongly
    * associated pairs over merely common ones.
    *
    * Same scale shape as BPE: ONE corpus-sized pass builds the
    * word-frequency table ([[symbolVocab]]); each round then runs two
    * vocab-bounded aggregates (adjacent-pair counts and per-symbol
    * unigram counts), joins them, takes a 1-row argmax, and rewrites
    * with the shared greedy fold ([[greedyMergeExpr]]).
    *
    * Engine-exact scoring: the likelihood ratio is kept on an INTEGER
    * lattice — `score = (c_ab * 10^9) div (c_a * c_b)` with exact
    * 64-bit operands — so the argmax (score desc, then lexicographic
    * pair) is deterministic and DuckDB-replayable with zero FP.
    * Operand bound: `c_a * c_b < 2^63` holds to ~3·10⁹ symbol
    * occurrences; past that, train on `samplePct` (the standard
    * practice the BPE face already documents). Merging stops when the
    * best pair's raw frequency drops below `minCount`.
    *
    * Output: (rank, pair_a, pair_b, merged, weight, score). */
  def wordpieceTrain(documents: DataFrame, nMerges: Int = 16,
      minCount: Long = 2, samplePct: Int = 100): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    wordpieceTrainSeg(documents, nMerges, minCount, samplePct)._1
      .toDF("rank", "pair_a", "pair_b", "merged", "weight", "score")
      .orderBy("rank")
  }

  /** Shared WordPiece trainer: merge list + post-training word→symbols
    * segmentation table (the join target of [[wordpieceEncode]]);
    * memoized per session like [[bpeTrainSeg]]. */
  private def wordpieceTrainSeg(documents: DataFrame, nMerges: Int,
      minCount: Long, samplePct: Int)
      : (Seq[(Int, String, String, String, Long, Long)], DataFrame) = {
    evictDead(wpTrained, documents.sparkSession.sparkContext.applicationId)
    wpTrained.computeIfAbsent(
      memoKey(documents, nMerges, minCount, samplePct),
      _ => wordpieceTrainSegUncached(documents, nMerges, minCount, samplePct))
  }

  private def wordpieceTrainSegUncached(documents: DataFrame, nMerges: Int,
      minCount: Long, samplePct: Int)
      : (Seq[(Int, String, String, String, Long, Long)], DataFrame) = {
    val spark = documents.sparkSession
    import spark.implicits._
    var vocab = symbolVocab(documents, samplePct)
    def lit1(s: String) = s.replace("\\", "\\\\").replace("'", "\\'")
    val merges = Seq.newBuilder[(Int, String, String, String, Long, Long)]
    var rank = 0
    var done = false
    while (rank < nMerges && !done) {
      val pairs = vocab
        .where(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(0, size(syms) - 2), " +
            "i -> struct(syms[i] AS a, syms[i + 1] AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("c_ab"))
        .where(col("c_ab") >= minCount)
      val unis = vocab
        .select(col("cnt"), explode(col("syms")).as("tok"))
        .groupBy("tok").agg(sum(col("cnt")).as("c"))
      val best = pairs
        .join(unis.select(col("tok").as("a"), col("c").as("c_a")), Seq("a"))
        .join(unis.select(col("tok").as("b"), col("c").as("c_b")), Seq("b"))
        .select(col("a"), col("b"), col("c_ab"),
          expr("(c_ab * 1000000000L) div (c_a * c_b)").as("score"))
        .orderBy(desc("score"), asc("a"), asc("b"))
        .limit(1)
        .as[(String, String, Long, Long)]
        .collect()
      best.headOption match {
        case Some((a, b, w, sc)) =>
          merges += ((rank, a, b, a + b, w, sc))
          vocab = vocab.select(col("w"),
            expr(greedyMergeExpr(lit1(a), lit1(b), lit1(a + b))).as("syms"),
            col("cnt")).localCheckpoint()
          rank += 1
        case _ => done = true
      }
    }
    (merges.result(), vocab.select(col("w"), col("syms")))
  }

  /** DuckDB replay of [[wordpieceTrain]]: the [[bpeTrainSql]] unrolled
    * merge-round chain with the likelihood argmax — per round, pair
    * counts JOIN per-symbol unigram counts, integer-lattice score,
    * one `replace` rewrite. */
  def wordpieceTrainSql(nMerges: Int = 16, minCount: Long = 2): String =
    s"""WITH ${wordpieceRoundCtes(nMerges, minCount)}
       |${(1 to nMerges).map(k =>
          s"SELECT ${k - 1} AS rank, a AS pair_a, b AS pair_b, " +
            s"a || b AS merged, CAST(weight AS BIGINT) AS weight, " +
            s"CAST(score AS BIGINT) AS score FROM m$k")
          .mkString("\nUNION ALL\n")}
       |ORDER BY rank""".stripMargin

  /** Segment the corpus with the trained WordPiece table — the
    * inference twin of [[bpeEncode]] (one equi-join from corpus words
    * to their segmentation, per-source rollup), with the
    * WordPiece-specific bookkeeping: every piece after a word's first
    * is a `##`-continuation, so `n_continuations = n_pieces - n_words`
    * and `pct_continuation` measures how fragmented the tokenizer
    * leaves the corpus (the BERT-vocab quality headline next to
    * fertility). Words outside a sampled training set fall back to
    * character segmentation. */
  def wordpieceEncode(documents: DataFrame, nMerges: Int = 16,
      minCount: Long = 2, samplePct: Int = 100): DataFrame = {
    val (_, seg) = wordpieceTrainSeg(documents, nMerges, minCount, samplePct)
    documents
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .join(seg, Seq("w"), "left")
      .withColumn("syms", coalesce(col("syms"),
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"),
        sum(size(col("syms"))).as("n_pieces"),
        sum(when(size(col("syms")) === 1, 1L).otherwise(0L))
          .as("n_whole_words"))
      .withColumn("n_continuations", col("n_pieces") - col("n_words"))
      .withColumn("fertility", expr(
        "floor(CAST(n_pieces AS DOUBLE) / CAST(n_words AS DOUBLE)" +
          " * 1e9 + 0.5) / 1e9"))
      .withColumn("pct_continuation", expr(
        "floor(CAST(n_continuations AS DOUBLE) / CAST(n_pieces AS DOUBLE)" +
          " * 1e9 + 0.5) / 1e9"))
      .orderBy("source")
  }

  /** DuckDB replay of [[wordpieceEncode]] (samplePct=100): round-`n`
    * vocabulary as the word→pieces map, same join and rollup. */
  def wordpieceEncodeSql(nMerges: Int = 16, minCount: Long = 2): String = {
    val u = ""
    s"""WITH ${wordpieceRoundCtes(nMerges, minCount)},
       |pieces AS (SELECT w,
       |    len(string_split(trim(s, '$u'), '$u$u')) AS np FROM w$nMerges),
       |cw AS (SELECT source, unnest(string_split(text, ' ')) AS w
       |  FROM documents)
       |SELECT source, count(*)::BIGINT AS n_words,
       |  CAST(sum(np) AS BIGINT) AS n_pieces,
       |  CAST(sum(CASE WHEN np = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_whole_words,
       |  CAST(sum(np) - count(*) AS BIGINT) AS n_continuations,
       |  floor(CAST(sum(np) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |    * 1e9 + 0.5) / 1e9 AS fertility,
       |  floor(CAST(sum(np) - count(*) AS DOUBLE) / CAST(sum(np) AS DOUBLE)
       |    * 1e9 + 0.5) / 1e9 AS pct_continuation
       |FROM cw JOIN pieces USING (w)
       |WHERE len(w) > 0
       |GROUP BY source ORDER BY source""".stripMargin
  }

  /** The word-table + `nMerges` WordPiece merge-round CTE chain:
    * [[bpeRoundCtes]]'s wrapped-symbol-string encoding with the
    * likelihood-scored argmax per round. */
  private def wordpieceRoundCtes(nMerges: Int, minCount: Long): String = {
    val u = ""
    val rounds = (1 to nMerges).map { k =>
      s"""p$k AS (SELECT pu.u.a AS a, pu.u.b AS b, pu.cnt FROM (
         |    SELECT cnt, unnest(list_transform(range(1, len(t0)),
         |      i -> struct_pack(a := t0[i], b := t0[i + 1]))) AS u
         |    FROM (SELECT cnt, string_split(trim(s, '$u'), '$u$u') AS t0
         |          FROM w${k - 1})
         |    WHERE len(t0) >= 2) pu),
         |uni$k AS (SELECT tok, sum(cnt) AS c FROM (
         |    SELECT cnt, unnest(string_split(trim(s, '$u'), '$u$u')) AS tok
         |    FROM w${k - 1}) GROUP BY 1),
         |pc$k AS (SELECT a, b, sum(cnt) AS weight
         |  FROM p$k GROUP BY 1, 2 HAVING sum(cnt) >= $minCount),
         |m$k AS MATERIALIZED (SELECT pc.a, pc.b, pc.weight,
         |    (CAST(pc.weight AS BIGINT) * 1000000000)
         |      // (CAST(ua.c AS BIGINT) * CAST(ub.c AS BIGINT)) AS score
         |  FROM pc$k pc
         |  JOIN uni$k ua ON pc.a = ua.tok
         |  JOIN uni$k ub ON pc.b = ub.tok
         |  ORDER BY score DESC, pc.a, pc.b LIMIT 1),
         |w$k AS MATERIALIZED (SELECT w, cnt, replace(s,
         |    COALESCE((SELECT '$u' || a || '$u$u' || b || '$u' FROM m$k),
         |      chr(1)),
         |    COALESCE((SELECT '$u' || a || b || '$u' FROM m$k), '')) AS s
         |  FROM w${k - 1})""".stripMargin
    }.mkString(",\n")
    s"""words AS (SELECT w, count(*)::BIGINT AS cnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) > 0 GROUP BY 1),
       |w0 AS MATERIALIZED (SELECT w, cnt,
       |    '$u' || array_to_string(list_transform(range(1, len(w) + 1),
       |      i -> w[i]), '$u$u') || '$u' AS s
       |  FROM words),
       |$rounds""".stripMargin
  }

  def collocationsSql(minCount: Long = 5): String =
    s"""WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
       |uc AS (SELECT tok, count(*) AS c
       |       FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY 1),
       |n AS (SELECT CAST(sum(len(t)) AS DOUBLE) AS n1,
       |             CAST(sum(len(t) - 1) AS DOUBLE) AS n2 FROM toks),
       |bg AS (SELECT g.a AS tok_a, g.b AS tok_b, count(*) AS c_ab
       |  FROM (SELECT unnest(list_transform(range(1, len(t)),
       |          i -> struct_pack(a := t[i], b := t[i + 1]))) AS g
       |        FROM toks WHERE len(t) >= 2)
       |  GROUP BY 1, 2 HAVING count(*) >= $minCount)
       |SELECT tok_a, tok_b, c_ab,
       |  CAST(CAST(ln((CAST(c_ab AS DOUBLE) * n1 * n1) /
       |    (n2 * CAST(uca.c AS DOUBLE) * CAST(ucb.c AS DOUBLE)))
       |    AS DECIMAL(18,9)) AS DOUBLE) AS pmi
       |FROM bg
       |JOIN uc uca ON bg.tok_a = uca.tok
       |JOIN uc ucb ON bg.tok_b = ucb.tok
       |CROSS JOIN n
       |ORDER BY 1, 2""".stripMargin

  /** TextRank-style word centrality: PageRank over the corpus's
    * directed adjacent-token graph (edge a→b weighted by bigram count
    * — the [[collocations]] table reread as a graph). The
    * keyword-extraction workhorse (Mihalcea & Tarau, EMNLP 2004) at
    * corpus granularity. Runs on [[Analytics.pagerankExact]] — the
    * FIXED-POINT integer power iteration — so the ranks are bit-exact
    * under any partitioning and the face carries a full hash-exact
    * DuckDB oracle ([[wordPagerankSql]] unrolls the same integer ops
    * as a CTE chain); ring/star/dangling closed forms stay in
    * `AnalyticsSpec`. Output: `(word, pr_rank, pr)` by descending
    * centrality, pr = pr_i/10^15 (one exact IEEE division). */
  def wordPagerank(documents: DataFrame, iters: Int = 10): DataFrame = {
    val edges = documents
      .select(split(col("text"), " ").as("t"))
      .where(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(t) - 2), " +
          "i -> struct(t[i] AS src, t[i + 1] AS dst))")).as("g"))
      .groupBy(col("g.src").as("src"), col("g.dst").as("dst"))
      .agg(count(lit(1)).as("w"))
    // the final centrality rank runs over the FULL node table (the
    // corpus vocabulary — 1e8+ types at web scale), so it must not be
    // an unpartitioned window funnel: rankByRange on (−pr_i, node) is
    // rank-identical (total sort) and range-parallel.
    val (ranked, _) = Analytics.rankByRange(
      Analytics.pagerankExact(edges, iters)
        .withColumn("__negpr", -col("pr_i")), Seq("__negpr", "node"),
      eager = false)
    ranked
      .select(col("node").as("word"), col("__rank").as("pr_rank"),
        (col("pr_i").cast("double") / lit(Analytics.PrScale.toDouble))
          .as("pr"))
      .orderBy("pr_rank")
  }

  /** DuckDB replay of [[wordPagerank]]: the fixed-point power
    * iteration unrolled as `iters` CTE blocks of identical integer
    * arithmetic (HUGEINT products, `//` floor-divides — same values as
    * Spark's DECIMAL(38,0) product + `div`). Every multiply-referenced
    * CTE is `MATERIALIZED`: DuckDB inlines CTEs by default, and each
    * `pr_k` feeds both `c_{k+1}` and `d_{k+1}` — inlining would expand
    * the chain 2^iters times. */
  def wordPagerankSql(iters: Int = 10, dampNum: Long = 85,
      dampDen: Long = 100): String = {
    val s = Analytics.PrScale
    val iterCtes = (1 to iters).map { k =>
      s"""c$k AS MATERIALIZED (SELECT e.dst AS node,
         |  CAST(SUM((p.pr_i::HUGEINT * e.w) // o.ow) AS BIGINT) AS c
         |  FROM edges e
         |  JOIN pr${k - 1} p ON e.src = p.node
         |  JOIN outw o ON e.src = o.src
         |  GROUP BY 1),
         |d$k AS MATERIALIZED (SELECT CAST(COALESCE(SUM(pr_i), 0) AS BIGINT) AS dm
         |  FROM pr${k - 1} WHERE node NOT IN (SELECT src FROM outw)),
         |pr$k AS MATERIALIZED (SELECT nd.node,
         |  (SELECT base FROM bs) + CAST(($dampNum::HUGEINT
         |    * (COALESCE(c.c, 0) + (SELECT dm FROM d$k) // (SELECT n FROM nn)))
         |    // $dampDen AS BIGINT) AS pr_i
         |  FROM nodes nd LEFT JOIN c$k c ON nd.node = c.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= 2),
       |edges AS MATERIALIZED (
       |  SELECT g.a AS src, g.b AS dst, count(*)::BIGINT AS w
       |  FROM (SELECT unnest(list_transform(range(1, len(t)),
       |          i -> struct_pack(a := t[i], b := t[i + 1]))) AS g
       |        FROM toks)
       |  GROUP BY 1, 2),
       |nodes AS MATERIALIZED (SELECT src AS node FROM edges
       |          UNION SELECT dst FROM edges),
       |nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |bs AS MATERIALIZED (
       |  SELECT CAST((${dampDen - dampNum}::HUGEINT * ($s // $dampDen))
       |    // n AS BIGINT) AS base FROM nn),
       |outw AS MATERIALIZED (SELECT src, CAST(SUM(w) AS BIGINT) AS ow
       |  FROM edges GROUP BY 1),
       |pr0 AS MATERIALIZED (
       |  SELECT node, CAST($s // (SELECT n FROM nn) AS BIGINT) AS pr_i
       |  FROM nodes),
       |$iterCtes
       |SELECT node AS word,
       |  row_number() OVER (ORDER BY pr_i DESC, node) AS pr_rank,
       |  CAST(pr_i AS DOUBLE) / $s AS pr
       |FROM pr$iters ORDER BY pr_rank""".stripMargin
  }

  /** Zipf's-law fit: OLS slope of ln(freq) on ln(rank) over the top
    * `topN` words — the one-number distributional health check of a
    * text corpus (natural language sits near −1; templated or
    * synthetic text drifts off). Word counting is the standard
    * explode+count; the regression reduces `topN` (ln x, ln y) points,
    * each quantized through DECIMAL(18,9) before the exact decimal
    * moment sums — the [[graft.operators.Retrieval]] idf discipline —
    * so the slope/intercept hash-match across engines despite libm
    * `ln`. Output one row `(n_points, slope, intercept)`.
    *
    * Scale: one count shuffle on word; the top-N selection is a
    * TakeOrdered (per-partition heap + driver merge of `topN` rows —
    * never a global sort and never a single-partition window over the
    * full vocab, which is 1e8+ types at web scale), and ranks 1..topN
    * come from [[Analytics.rankByRange]] over the topN-row result
    * (rank-identical to the old full-vocab `row_number` ∘ filter:
    * top-N of a total order, then rank within it). */
  def zipfFit(documents: DataFrame, topN: Int = 100): DataFrame = {
    val top = documents
      .select(explode(split(col("text"), " ")).as("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("__negf", -col("freq"))
      .orderBy(col("__negf"), col("word")).limit(topN)
    val (rankedR, _) = Analytics.rankByRange(top, Seq("__negf", "word"),
      partitions = 4, eager = false)
    val ranked = rankedR
      .select(
        expr(
          "CAST(CAST(ln(CAST(__rank AS DOUBLE)) AS DECIMAL(18,9)) AS DOUBLE)")
          .as("x"),
        expr("CAST(CAST(ln(CAST(freq AS DOUBLE)) AS DECIMAL(18,9)) AS DOUBLE)")
          .as("y"))
    ranked
      .agg(count(lit(1)).as("n_points"),
        expr("CAST(sum(CAST(x AS DECIMAL(27,12))) AS DOUBLE)").as("sx"),
        expr("CAST(sum(CAST(y AS DECIMAL(27,12))) AS DOUBLE)").as("sy"),
        expr("CAST(sum(CAST(x * x AS DECIMAL(27,12))) AS DOUBLE)").as("sxx"),
        expr("CAST(sum(CAST(x * y AS DECIMAL(27,12))) AS DOUBLE)").as("sxy"))
      .select(col("n_points"),
        expr("""CAST(CAST((n_points * sxy - sx * sy)
          | / (n_points * sxx - sx * sx) AS DECIMAL(20,10)) AS DOUBLE)"""
          .stripMargin).as("slope"),
        expr("""CAST(CAST((sy - sx * (n_points * sxy - sx * sy)
          | / (n_points * sxx - sx * sx)) / n_points
          | AS DECIMAL(20,10)) AS DOUBLE)""".stripMargin).as("intercept"))
  }

  /** Gopher REPETITION filters (Rae et al. 2021, arXiv 2112.11446
    * Table A1) — the signals [[gopherQuality]]'s battery does not
    * cover: a document dominated by one repeated phrase or by
    * large duplicated spans is removed even when its length/symbol/
    * stop-word surface looks fine. Per document:
    *  - `top{2,3,4}_frac` — fraction of the document's CHARACTERS
    *    covered by the single most frequent word n-gram
    *    (count · chars(gram) / chars(doc); thresholds 0.20/0.18/0.16);
    *  - `dup{5..10}_frac` — fraction of characters in word n-grams
    *    that occur more than once (Σ_{c>1} c · chars(gram) / chars;
    *    thresholds 0.15…0.10 — the standard deterministic relaxation
    *    of the paper's span-coverage measure, which depends on an
    *    occurrence-scan order no relational engine reproduces);
    *  - `rep_pass` — 1 iff every fraction is at or under its
    *    threshold (the paper's remove-if-above rule).
    * The line/paragraph dup rules are omitted: the corpus is
    * single-line by construction.
    *
    * Hash-exact by construction: every mass is an integer (count ×
    * gram char length), each fraction is ONE IEEE division of two
    * exact integers (correctly rounded identically everywhere), and
    * the pass flags compare cross-multiplied integers — no float ever
    * feeds a comparison. Scale shape: ONE explode produces all nine
    * gram sizes (9·tokens rows), one (doc, n, gram) count shuffle,
    * one per-(doc, n) window, one pivot aggregate — all partitioned by
    * doc; nothing global. A doc with fewer than n tokens contributes
    * no n-grams: its fractions are 0. */
  def gopherRepetition(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = documents
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        filter(split(col("text"), " "), t => length(t) > 0).as("t"))
      .where(size(col("t")) >= 2)
      .select(col("doc_id"), col("n_chars"), explode(expr(
        """flatten(transform(sequence(2, 10), n ->
          |  transform(CASE WHEN size(t) >= n THEN sequence(1, size(t) - n + 1)
          |            ELSE CAST(array() AS ARRAY<INT>) END,
          |    i -> struct(n AS n, concat_ws(' ', slice(t, i, n)) AS gram))))"""
          .stripMargin)).as("g"))
      .select(col("doc_id"), col("n_chars"), col("g.n").as("n"),
        col("g.gram").as("gram"))
    val counts = grams
      .groupBy(col("doc_id"), col("n_chars"), col("n"), col("gram"))
      .agg(count(lit(1)).as("c"))
      .withColumn("glen", length(col("gram")).cast("long"))
    val w = Window.partitionBy(col("doc_id"), col("n"))
      .orderBy(desc("c"), desc("glen"), asc("gram"))
    val perN = counts
      .withColumn("rk", row_number().over(w))
      .groupBy(col("doc_id"), col("n_chars"), col("n"))
      .agg(max(when(col("rk") === 1, col("c") * col("glen"))).as("top_mass"),
        coalesce(sum(when(col("c") > 1, col("c") * col("glen"))), lit(0L))
          .as("dup_mass"))
    def frac(n: Int, mass: String) = coalesce(
      max(when(col("n") === n,
        col(mass).cast("double") / col("n_chars").cast("double"))),
      lit(0d))
    def fail(n: Int, mass: String, thr100: Int) = coalesce(
      max(when(col("n") === n,
        when(col(mass) * 100 > col("n_chars") * thr100, 1L).otherwise(0L))),
      lit(0L))
    val topThr = Map(2 -> 20, 3 -> 18, 4 -> 16)
    val dupThr = Map(5 -> 15, 6 -> 14, 7 -> 13, 8 -> 12, 9 -> 11, 10 -> 10)
    val pivoted = perN.groupBy(col("doc_id"), col("n_chars"))
      .agg(frac(2, "top_mass").as("top2_frac"),
        frac(3, "top_mass").as("top3_frac"),
        frac(4, "top_mass").as("top4_frac"),
        frac(5, "dup_mass").as("dup5_frac"),
        frac(6, "dup_mass").as("dup6_frac"),
        frac(7, "dup_mass").as("dup7_frac"),
        frac(8, "dup_mass").as("dup8_frac"),
        frac(9, "dup_mass").as("dup9_frac"),
        frac(10, "dup_mass").as("dup10_frac"),
        (topThr.map { case (n, t) => fail(n, "top_mass", t) } ++
          dupThr.map { case (n, t) => fail(n, "dup_mass", t) })
          .reduce(_ + _).as("n_fail"))
    pivoted
      .select((Seq("doc_id", "n_chars", "top2_frac", "top3_frac",
        "top4_frac", "dup5_frac", "dup6_frac", "dup7_frac", "dup8_frac",
        "dup9_frac", "dup10_frac").map(col) :+
        when(col("n_fail") > 0, 0L).otherwise(1L).as("rep_pass")): _*)
      .orderBy("doc_id")
  }

  def gopherRepetitionSql(): String = {
    val topThr = Seq(2 -> 20, 3 -> 18, 4 -> 16)
    val dupThr = Seq(5 -> 15, 6 -> 14, 7 -> 13, 8 -> 12, 9 -> 11, 10 -> 10)
    val fracs = (topThr.map { case (n, _) =>
      s"""COALESCE(MAX(CASE WHEN n = $n THEN
         |    CAST(top_mass AS DOUBLE) / CAST(n_chars AS DOUBLE) END),
         |    CAST(0 AS DOUBLE)) AS top${n}_frac""".stripMargin
    } ++ dupThr.map { case (n, _) =>
      s"""COALESCE(MAX(CASE WHEN n = $n THEN
         |    CAST(dup_mass AS DOUBLE) / CAST(n_chars AS DOUBLE) END),
         |    CAST(0 AS DOUBLE)) AS dup${n}_frac""".stripMargin
    }).mkString(",\n")
    val failSum = (topThr.map { case (n, t) =>
      s"""COALESCE(MAX(CASE WHEN n = $n THEN
         |    CASE WHEN top_mass * 100 > n_chars * $t THEN 1 ELSE 0 END
         |    END), 0)""".stripMargin
    } ++ dupThr.map { case (n, t) =>
      s"""COALESCE(MAX(CASE WHEN n = $n THEN
         |    CASE WHEN dup_mass * 100 > n_chars * $t THEN 1 ELSE 0 END
         |    END), 0)""".stripMargin
    }).mkString(" +\n")
    s"""WITH d AS (
       |  SELECT doc_id, length(text) AS n_chars,
       |    list_filter(string_split(text, ' '), x -> len(x) > 0) AS t
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, n_chars, u.n AS n, u.gram AS gram FROM (
       |    SELECT doc_id, n_chars,
       |      unnest(flatten(list_transform(range(2, 11), n ->
       |        list_transform(range(1, len(t) - n + 2), i ->
       |          struct_pack(n := n, gram := array_to_string(
       |            list_slice(t, i, i + n - 1), ' ')))))) AS u
       |    FROM d WHERE len(t) >= 2)),
       |c AS (
       |  SELECT doc_id, n_chars, n, gram, count(*) AS c,
       |    length(gram)::BIGINT AS glen
       |  FROM g GROUP BY doc_id, n_chars, n, gram),
       |p AS (
       |  SELECT doc_id, n_chars, n,
       |    MAX(CASE WHEN rk = 1 THEN c * glen END) AS top_mass,
       |    COALESCE(SUM(CASE WHEN c > 1 THEN c * glen END), 0) AS dup_mass
       |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id, n
       |          ORDER BY c DESC, glen DESC, gram) AS rk FROM c)
       |  GROUP BY 1, 2, 3)
       |SELECT doc_id, n_chars,
       |$fracs,
       |CASE WHEN (
       |$failSum) > 0 THEN 0 ELSE 1 END AS rep_pass
       |FROM p GROUP BY doc_id, n_chars
       |ORDER BY doc_id""".stripMargin
  }

  /** Per-document token-distribution Shannon entropy (nats):
    * `H = ln n − (Σ_t tf·ln tf)/n` — near 0 for one-token spam, near
    * ln(n) for all-distinct text; the repetition-sensitive quality
    * signal that complements [[textQuality]]'s type-token ratio
    * (entropy sees a doc that is 90% one word; TTR alone under-counts
    * it only linearly). Each `ln` is quantized to DECIMAL(18,9)
    * (the BM25 idf discipline — libm-portable), per-doc term sums go
    * through exact decimals, so the float column hash-matches the
    * oracle. One explode+count shuffle clustered by doc.
    *
    * The FINAL quantization is `floor(x·10^10)/10^10`, not a decimal
    * round: when `n_tokens` is 2/5-smooth the exact entropy TERMINATES
    * on the half-point of a rounding grid (e.g. 2.71563822325 at
    * n=32), and engines split such ties per their own double→decimal
    * rule (Spark rounds the shortest repr HALF_UP; DuckDB versions
    * differ on exact-binary ties). `floor` after one IEEE multiply has
    * no tie semantics at all, so the value is bit-identical on every
    * engine/version. */
  def docEntropy(documents: DataFrame): DataFrame = {
    val lnq = (x: String) =>
      s"CAST(CAST(ln(CAST($x AS DOUBLE)) AS DECIMAL(18,9)) AS DOUBLE)"
    documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .where(col("tok") =!= "")
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        expr(s"CAST(sum(CAST(tf * ${lnq("tf")} AS DECIMAL(27,12))) AS DOUBLE)")
          .as("stl"))
      .select(col("doc_id"), col("n_tokens"),
        expr(s"""floor((${lnq("n_tokens")} - stl / n_tokens)
           | * 1e10) / 1e10""".stripMargin).as("entropy"))
      .orderBy("doc_id")
  }

  def docEntropySql(): String =
    s"""WITH tf AS (
       |  SELECT doc_id, tok, count(*)::BIGINT AS tf FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |    FROM documents)
       |  WHERE tok <> '' GROUP BY 1, 2),
       |agg AS (
       |  SELECT doc_id, sum(tf)::BIGINT AS n_tokens,
       |    CAST(sum(CAST(tf * CAST(CAST(ln(CAST(tf AS DOUBLE))
       |        AS DECIMAL(18,9)) AS DOUBLE) AS DECIMAL(27,12)))
       |      AS DOUBLE) AS stl
       |  FROM tf GROUP BY 1)
       |SELECT doc_id, n_tokens,
       |  floor((CAST(CAST(ln(CAST(n_tokens AS DOUBLE)) AS DECIMAL(18,9))
       |      AS DOUBLE) - stl / n_tokens) * 1e10) / 1e10 AS entropy
       |FROM agg ORDER BY doc_id""".stripMargin

  /** Count-Min sketch word frequencies, expressed as RELATIONAL
    * algebra instead of an opaque buffer: each word charges one count
    * to `depth` cells (`h_d = (a + (d+1)·b) mod width` from the two
    * independent halves of the engine-portable [[graft.functions.PolyHash62]]),
    * the sketch is the (d, cell)→count table — map-side combinable,
    * mergeable across shards by addition, `depth·width` cells total
    * regardless of corpus size — and a point estimate is the MIN of a
    * probe's `depth` cells. Output `(word, freq, est)` for the top-`k`
    * exact words: `est ≥ freq` always (one-sided error), with equality
    * when no collision hits all `depth` rows.
    *
    * Because the hash replays in SQL, the whole sketch is
    * oracle-checked — collisions and all — unlike the usual
    * rows-only sketch twins. At 100 TB: one explode+count shuffle of
    * `depth·width` cells; probes broadcast. */
  def cmsWordFreq(documents: DataFrame, depth: Int = 4, width: Int = 512,
      k: Int = 20): DataFrame = {
    graft.functions.Registry.ensure(documents.sparkSession)
    val words = documents
      .select(explode(split(col("text"), " ")).as("word"))
      .where(col("word") =!= "")
    val hashed = words.select(col("word"),
      expr("poly_hash62(word) & 2147483647").as("a"),
      expr("poly_hash62(word) >> 31").as("b"))
    val sketch = hashed
      .select(col("a"), col("b"),
        explode(sequence(lit(0), lit(depth - 1))).as("d"))
      .select(col("d"), pmod(col("a") + (col("d") + 1) * col("b"),
        lit(width.toLong)).as("cell"))
      .groupBy("d", "cell").agg(count(lit(1)).as("cnt"))
    // top-k probes as a TakeOrdered (heap per partition + k-row driver
    // merge) — selecting the SAME rows as a rank-≤-k filter over the
    // total (freq desc, word) order, without the single-partition
    // window funnel the old row_number rank forced on the full vocab
    val probes = words.groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word")).limit(k)
      .select(col("word"), col("freq"),
        expr("poly_hash62(word) & 2147483647").as("a"),
        expr("poly_hash62(word) >> 31").as("b"))
    probes
      .select(col("word"), col("freq"),
        explode(sequence(lit(0), lit(depth - 1))).as("d"), col("a"), col("b"))
      .select(col("word"), col("freq"), col("d"),
        pmod(col("a") + (col("d") + 1) * col("b"), lit(width.toLong))
          .as("cell"))
      .join(sketch, Seq("d", "cell"))
      .groupBy(col("word"), col("freq"))
      .agg(min(col("cnt")).as("est"))
      .orderBy(col("freq").desc, col("word"))
  }

  def cmsWordFreqSql(depth: Int = 4, width: Int = 512, k: Int = 20): String = {
    val fold = Dedup.polyFoldOver("word") _
    s"""WITH words AS (
       |  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
       |w AS (SELECT word FROM words WHERE word <> ''),
       |h AS (
       |  SELECT word,
       |    (${fold(131)} | (${fold(137)} << 31)) & 2147483647 AS a,
       |    (${fold(131)} | (${fold(137)} << 31)) >> 31 AS b
       |  FROM w),
       |cells AS (
       |  SELECT d.d, (a + (d.d + 1) * b) % $width AS cell
       |  FROM h CROSS JOIN (SELECT unnest(range(0, $depth)) AS d) d),
       |sketch AS (
       |  SELECT d, cell, count(*)::BIGINT AS cnt FROM cells GROUP BY 1, 2),
       |probes AS (
       |  SELECT word, freq, a, b FROM (
       |    SELECT word, count(*)::BIGINT AS freq,
       |      min(a) AS a, min(b) AS b,
       |      row_number() OVER (ORDER BY count(*) DESC, word) AS rk
       |    FROM h GROUP BY word)
       |  WHERE rk <= $k),
       |pc AS (
       |  SELECT p.word, p.freq, d.d,
       |    (p.a + (d.d + 1) * p.b) % $width AS cell
       |  FROM probes p CROSS JOIN (SELECT unnest(range(0, $depth)) AS d) d)
       |SELECT pc.word, pc.freq, min(s.cnt) AS est
       |FROM pc JOIN sketch s ON pc.d = s.d AND pc.cell = s.cell
       |GROUP BY pc.word, pc.freq
       |ORDER BY pc.freq DESC, pc.word""".stripMargin
  }

  def zipfFitSql(topN: Int = 100): String =
    s"""WITH ranked AS (
       |  SELECT CAST(CAST(ln(CAST(rank AS DOUBLE)) AS DECIMAL(18,9))
       |      AS DOUBLE) AS x,
       |    CAST(CAST(ln(CAST(freq AS DOUBLE)) AS DECIMAL(18,9))
       |      AS DOUBLE) AS y
       |  FROM (
       |    SELECT row_number() OVER (ORDER BY freq DESC, word) AS rank, freq
       |    FROM (
       |      SELECT word, count(*)::BIGINT AS freq FROM (
       |        SELECT unnest(string_split(text, ' ')) AS word
       |        FROM documents)
       |      WHERE word <> '' GROUP BY word))
       |  WHERE rank <= $topN),
       |m AS (
       |  SELECT count(*)::BIGINT AS n_points,
       |    CAST(sum(CAST(x AS DECIMAL(27,12))) AS DOUBLE) AS sx,
       |    CAST(sum(CAST(y AS DECIMAL(27,12))) AS DOUBLE) AS sy,
       |    CAST(sum(CAST(x * x AS DECIMAL(27,12))) AS DOUBLE) AS sxx,
       |    CAST(sum(CAST(x * y AS DECIMAL(27,12))) AS DOUBLE) AS sxy
       |  FROM ranked)
       |SELECT n_points,
       |  CAST(CAST((n_points * sxy - sx * sy)
       |    / (n_points * sxx - sx * sx) AS DECIMAL(20,10)) AS DOUBLE)
       |    AS slope,
       |  CAST(CAST((sy - sx * (n_points * sxy - sx * sy)
       |    / (n_points * sxx - sx * sx)) / n_points
       |    AS DECIMAL(20,10)) AS DOUBLE) AS intercept
       |FROM m""".stripMargin

  /** Vocabulary-richness estimators over the corpus term counts — the
    * lexical-diversity diagnostics a corpus report carries next to
    * [[zipfFit]]: hapax/dis counts, the Chao1 lower bound on TRUE
    * vocabulary size (Chao 1984, bias-corrected form
    * V + V₁(V₁−1)/(2(V₂+1)) — defined even at V₂ = 0), the
    * Good–Turing unseen-probability mass p₀ = V₁/N (Gale & Sampson,
    * "Good-Turing frequency estimation without tears", 1995), and the
    * type–token ratio. A rising p₀ across ingestion says the crawl is
    * still discovering vocabulary; a collapsing TTR says it's looping
    * on boilerplate.
    *
    * Scale shape: ONE count shuffle on word (map-side combined), then
    * a single vocab-sized rollup to one row — no windows, no joins.
    * Every statistic is an integer until one fixed-order IEEE chain,
    * quantized DECIMAL(18,9).
    *
    * Output: one row — (n_tokens, vocab, v1, v2, chao1, p0_unseen,
    * ttr). */
  def vocabRichness(documents: DataFrame): DataFrame =
    documents
      .select(explode(split(col("text"), " ")).as("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .agg(sum(col("freq")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("freq") === 1L, 1L).otherwise(0L)).as("v1"),
        sum(when(col("freq") === 2L, 1L).otherwise(0L)).as("v2"))
      .select(col("n_tokens"), col("vocab"), col("v1"), col("v2"),
        expr(VocabChao1).as("chao1"),
        expr(VocabP0).as("p0_unseen"),
        expr(VocabTtr).as("ttr"))

  // one-row scalar chains shared verbatim with the oracle
  private val VocabChao1 =
    """CAST(CAST(
      |  CAST(vocab AS DOUBLE)
      |  + CAST(v1 AS DOUBLE) * (CAST(v1 AS DOUBLE) - 1.0)
      |    / (2.0 * (CAST(v2 AS DOUBLE) + 1.0))
      |AS DECIMAL(18,9)) AS DOUBLE)""".stripMargin
  private val VocabP0 =
    """CAST(CAST(CAST(v1 AS DOUBLE) / CAST(n_tokens AS DOUBLE)
      |AS DECIMAL(18,9)) AS DOUBLE)""".stripMargin
  private val VocabTtr =
    """CAST(CAST(CAST(vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE)
      |AS DECIMAL(18,9)) AS DOUBLE)""".stripMargin

  /** DuckDB replay of [[vocabRichness]]: identical count rollup and
    * scalar chains. */
  def vocabRichnessSql(): String =
    s"""WITH wc AS (
       |  SELECT word, count(*)::BIGINT AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE word <> '' GROUP BY word),
       |m AS (
       |  SELECT sum(freq)::BIGINT AS n_tokens, count(*)::BIGINT AS vocab,
       |    CAST(sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS v1,
       |    CAST(sum(CASE WHEN freq = 2 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS v2
       |  FROM wc)
       |SELECT n_tokens, vocab, v1, v2,
       |  $VocabChao1 AS chao1, $VocabP0 AS p0_unseen, $VocabTtr AS ttr
       |FROM m""".stripMargin

  /** distinct-n generation-diversity rollup (Li et al., "A
    * diversity-promoting objective function for neural conversation
    * models", NAACL 2016 §4.2: distinct n-grams / total n-grams) over
    * the corpus for n = 1, 2, 3 — the standard degenerate-repetition
    * readout on sampled/generated text (mode collapse drives the
    * ratios toward 0), the corpus-level companion of
    * [[gopherRepetition]]'s per-document filters and
    * [[vocabRichness]]'s unigram estimators.
    *
    * Scale shape: ONE scan exploding all three gram orders from the
    * same token array (scan-side transform, no self-join), one
    * (n, gram) count shuffle (map-side combined, output bounded by
    * the gram vocabulary), then a 3-row rollup. Ratios are single
    * IEEE divisions of exact integers.
    *
    * Output: (n, total_ngrams, distinct_ngrams, distinct_ratio) for
    * each n with at least one gram, ordered by n. */
  def distinctNgrams(documents: DataFrame, maxN: Int = 3): DataFrame = {
    require(maxN >= 1, s"maxN must be >= 1, got $maxN")
    val grams = documents
      .select(expr("filter(split(text, ' '), t -> t <> '')").as("t"))
      .select(explode(expr(
        // the IF guards short docs: Spark's sequence(1, 0) DESCENDS
        // ([1, 0]), it does not produce an empty range
        s"""flatten(transform(sequence(1, $maxN), n ->
           |  IF(size(t) >= n,
           |    transform(sequence(1, size(t) - n + 1), i ->
           |      struct(n AS n,
           |        array_join(slice(t, i, n), ' ') AS gram)),
           |    array())))""".stripMargin)).as("g"))
      .select(col("g.n").cast("long").as("n"), col("g.gram").as("gram"))
    grams
      .groupBy(col("n"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("n"))
      .agg(sum(col("cnt")).as("total_ngrams"),
        count(lit(1)).as("distinct_ngrams"))
      .withColumn("distinct_ratio", expr(
        """CAST(distinct_ngrams AS DOUBLE)
          |/ CAST(total_ngrams AS DOUBLE)""".stripMargin))
      .orderBy("n")
  }

  /** DuckDB replay of [[distinctNgrams]]: same gram construction via
    * per-n subscripts, same two-level rollup, same single division. */
  def distinctNgramsSql(maxN: Int = 3): String =
    s"""WITH toks AS (
       |  SELECT list_filter(string_split(text, ' '), t -> t <> '') AS t
       |  FROM documents),
       |grams AS (
       |  SELECT n.n,
       |    unnest(list_transform(range(1, len(t) - n.n + 2),
       |      i -> array_to_string(list_slice(t, i, i + n.n - 1), ' ')))
       |      AS gram
       |  FROM toks, (SELECT unnest(range(1, ${maxN + 1})) AS n) n
       |  WHERE len(t) >= n.n),
       |gc AS (
       |  SELECT n, gram, count(*)::BIGINT AS cnt
       |  FROM grams GROUP BY 1, 2)
       |SELECT n::BIGINT AS n, sum(cnt)::BIGINT AS total_ngrams,
       |  count(*)::BIGINT AS distinct_ngrams,
       |  CAST(count(*) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE)
       |    AS distinct_ratio
       |FROM gc GROUP BY 1 ORDER BY 1""".stripMargin

  /** KenLM-style held-out perplexity filter with a stupid-backoff
    * trigram model (Brants et al., EMNLP 2007 — the web-scale LM whose
    * whole point is that unnormalized count-ratio "scores" with a
    * constant backoff factor need NO smoothing pass and parallelize as
    * plain aggregations; CCNet/Wenzek et al. arXiv 1911.00359 is the
    * same shape with KenLM). Unlike [[lmBigramScore]] (self-trained),
    * the model trains on `train` and scores `score` — the real CCNet
    * deployment (train on trusted text, score the crawl), and the only
    * arrangement where the backoff tiers actually fire.
    *
    * S(w3|w1w2) = c3/c2(w1w2)            if the trigram was seen,
    *            = α·c2(w2w3)/c1(w2)      else if the bigram was seen,
    *            = α²·max(c1(w3),1)/N     else (unseen w3 ≈ count 1),
    * with α = 2/5. Per-instance −ln S is DECIMAL(18,9)-quantized
    * before the per-doc sum (the house engine-parity convention;
    * consumers divide `nll_sum / n_scored` themselves). Every S is a
    * single IEEE division of two exact-below-2^53 integer products —
    * α never appears as the non-representable 0.4 double.
    *
    * Scale shape: three token-keyed count aggregations over `train`
    * (map-side combined, outputs bounded by vocabulary, not corpus),
    * one trigram explode over `score`, then count-table lookups joined
    * onto the instance stream. The count tables are UNFILTERED
    * vocabulary — hapax-heavy and unboundable at web scale — so the
    * joins carry no broadcast hint and AQE decides (the
    * [[collocations]] discipline); the corpus total is a 1-row
    * broadcast. The per-tier hit counts (`n_hit3`/`n_hit2`/`n_hit1`)
    * ride the same per-doc fold: how much a doc backs off is itself
    * the domain-shift signal.
    *
    * Output: (doc_id, n_scored, n_hit3, n_hit2, n_hit1, nll_sum),
    * docs with <3 tokens absent. */
  def lmTrigramScore(train: DataFrame, score: DataFrame): DataFrame = {
    def toks(df: DataFrame) =
      df.select(col("doc_id"), split(col("text"), " ").as("t"))
    // the model: vocabulary-bounded count tables over `train`
    val trainToks = toks(train)
    val c1 = trainToks.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val c2 = trainToks.where(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(t) - 2), " +
          "i -> struct(t[i] AS a, t[i + 1] AS b))")).as("g"))
      .groupBy(col("g.a").as("a"), col("g.b").as("b"))
      .agg(count(lit(1)).as("c2"))
    val c3 = trainToks.where(size(col("t")) >= 3)
      .select(explode(expr(
        "transform(sequence(0, size(t) - 3), " +
          "i -> struct(t[i] AS a, t[i + 1] AS b, t[i + 2] AS c))")).as("g"))
      .groupBy(col("g.a").as("a"), col("g.b").as("b"), col("g.c").as("c"))
      .agg(count(lit(1)).as("c3"))
    val n = trainToks.agg(sum(size(col("t"))).as("n_tok"))
    // tier lookups joined onto the instance stream, per-instance
    // quantized −ln S, per-doc fold
    val inst = toks(score).where(size(col("t")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 3), " +
          "i -> struct(t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3))")).as("g"))
      .select(col("doc_id"), col("g.w1"), col("g.w2"), col("g.w3"))
    inst
      .join(c3.toDF("w1", "w2", "w3", "c3"), Seq("w1", "w2", "w3"), "left")
      .join(c2.toDF("w1", "w2", "c2_12"), Seq("w1", "w2"), "left")
      .join(c2.toDF("w2", "w3", "c2_23"), Seq("w2", "w3"), "left")
      .join(c1.toDF("w2", "c1_2"), Seq("w2"), "left")
      .join(c1.toDF("w3", "c1_3"), Seq("w3"), "left")
      .crossJoin(broadcast(n))
      .select(col("doc_id"),
        when(col("c3").isNotNull, lit(3))
          .when(col("c2_23").isNotNull, lit(2))
          .otherwise(lit(1)).as("tier"),
        expr("""CAST(-ln(CASE
            WHEN c3 IS NOT NULL THEN
              CAST(c3 AS DOUBLE) / CAST(c2_12 AS DOUBLE)
            WHEN c2_23 IS NOT NULL THEN
              CAST(2 * c2_23 AS DOUBLE) / CAST(5 * c1_2 AS DOUBLE)
            ELSE
              CAST(4 * coalesce(c1_3, 1) AS DOUBLE)
                / CAST(25 * n_tok AS DOUBLE)
          END) AS DECIMAL(18,9))""").as("nll_i"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_scored"),
        sum(when(col("tier") === 3, 1L).otherwise(0L)).as("n_hit3"),
        sum(when(col("tier") === 2, 1L).otherwise(0L)).as("n_hit2"),
        sum(when(col("tier") === 1, 1L).otherwise(0L)).as("n_hit1"),
        expr("CAST(sum(nll_i) AS DOUBLE)").as("nll_sum"))
      .orderBy("doc_id")
  }

  /** CCNet's final output shape (Wenzek et al., arXiv 1911.00359 §4.3):
    * bucket the scored corpus into head/middle/tail TERTILES of
    * per-document LM perplexity — head feeds the highest-quality mix,
    * tail gets dropped or down-sampled. Mean nll (= ln-perplexity)
    * comes from [[lmTrigramScore]]; the tertile split is
    * [[Analytics.ntileByRange]]'s range-partitioned exact ntile — no
    * single-partition window, the same plan [[Analytics.orderDeciles]]
    * runs at corpus scale. Deterministic: mean nll is a single IEEE
    * division quantized DECIMAL(18,9), ties broken by doc_id.
    * Output: (doc_id, n_scored, mean_nll, ppl_bucket). */
  def perplexityBuckets(train: DataFrame, score: DataFrame): DataFrame = {
    // floor-lattice quantization, not CAST(.. AS DECIMAL): the decimal
    // cast rounds ulp-edge doubles differently per engine (SCALE.md §8;
    // 3 flipped 1e-9 ticks at sf0.1)
    val scored = lmTrigramScore(train, score)
      .select(col("doc_id"), col("n_scored"),
        expr("floor(nll_sum / n_scored * 1e9 + 0.5) / 1e9")
          .as("mean_nll"))
    // eager: the sort key IS the trigram-LM score — a lazy rank's
    // construction job would re-run the whole LM scoring pass
    Analytics.ntileByRange(scored, Seq("mean_nll", "doc_id"), 3,
      eager = true)
      .select(col("doc_id"), col("n_scored"), col("mean_nll"),
        when(col("bucket") === 1, "head")
          .when(col("bucket") === 2, "middle")
          .otherwise("tail").as("ppl_bucket"))
      .orderBy("doc_id")
  }

  /** Oracle for [[perplexityBuckets]]: the [[lmTrigramScoreSql]] replay
    * as a nested CTE, the same quantized mean division, and standard
    * SQL NTILE(3) — whose fill rule (first `total mod k` buckets get
    * one extra row) is exactly what ntileByRange computes. */
  def perplexityBucketsSql(scoreSource: String = "src0"): String =
    s"""WITH lm AS (
       |${lmTrigramScoreSql(scoreSource)}
       |),
       |m AS (SELECT doc_id, n_scored,
       |  floor(nll_sum / n_scored * 1e9 + 0.5) / 1e9
       |    AS mean_nll FROM lm),
       |b AS (SELECT doc_id, n_scored, mean_nll,
       |  ntile(3) OVER (ORDER BY mean_nll, doc_id) AS nt FROM m)
       |SELECT doc_id, n_scored, mean_nll,
       |  CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
       |    ELSE 'tail' END AS ppl_bucket
       |FROM b ORDER BY doc_id""".stripMargin

  /** Oracle for [[lmTrigramScore]] with the catalog's train/score
    * split (train = every source but `scoreSource`, score =
    * `scoreSource`). Same tiers, same integer products, same
    * DECIMAL(18,9) per-instance quantization. */
  def lmTrigramScoreSql(scoreSource: String = "src0"): String =
    s"""WITH tr AS (SELECT string_split(text, ' ') AS t FROM documents
       |            WHERE source <> '$scoreSource'),
       |sc AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |       WHERE source = '$scoreSource'),
       |c1 AS (SELECT w, count(*) AS c1 FROM
       |       (SELECT unnest(t) AS w FROM tr) GROUP BY 1),
       |c2 AS (SELECT g.a AS a, g.b AS b, count(*) AS c2 FROM
       |       (SELECT unnest(list_transform(range(1, len(t)),
       |          i -> struct_pack(a := t[i], b := t[i + 1]))) AS g
       |        FROM tr WHERE len(t) >= 2) GROUP BY 1, 2),
       |c3 AS (SELECT g.a AS a, g.b AS b, g.c AS c, count(*) AS c3 FROM
       |       (SELECT unnest(list_transform(range(1, len(t) - 1),
       |          i -> struct_pack(a := t[i], b := t[i + 1],
       |                           c := t[i + 2]))) AS g
       |        FROM tr WHERE len(t) >= 3) GROUP BY 1, 2, 3),
       |n AS (SELECT sum(len(t))::BIGINT AS n_tok FROM tr),
       |inst AS (SELECT doc_id, g.w1 AS w1, g.w2 AS w2, g.w3 AS w3 FROM
       |       (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
       |          i -> struct_pack(w1 := t[i], w2 := t[i + 1],
       |                           w3 := t[i + 2]))) AS g
       |        FROM sc WHERE len(t) >= 3)),
       |scored AS (SELECT doc_id,
       |    CASE WHEN c3.c3 IS NOT NULL THEN 3
       |         WHEN c23.c2 IS NOT NULL THEN 2 ELSE 1 END AS tier,
       |    CAST(-ln(CASE
       |        WHEN c3.c3 IS NOT NULL THEN
       |          CAST(c3.c3 AS DOUBLE) / CAST(c12.c2 AS DOUBLE)
       |        WHEN c23.c2 IS NOT NULL THEN
       |          CAST(2 * c23.c2 AS DOUBLE) / CAST(5 * u2.c1 AS DOUBLE)
       |        ELSE
       |          CAST(4 * coalesce(u3.c1, 1) AS DOUBLE)
       |            / CAST(25 * n.n_tok AS DOUBLE)
       |      END) AS DECIMAL(18,9)) AS nll_i
       |  FROM inst
       |  LEFT JOIN c3 ON inst.w1 = c3.a AND inst.w2 = c3.b
       |             AND inst.w3 = c3.c
       |  LEFT JOIN c2 c12 ON inst.w1 = c12.a AND inst.w2 = c12.b
       |  LEFT JOIN c2 c23 ON inst.w2 = c23.a AND inst.w3 = c23.b
       |  LEFT JOIN c1 u2 ON inst.w2 = u2.w
       |  LEFT JOIN c1 u3 ON inst.w3 = u3.w
       |  CROSS JOIN n)
       |SELECT doc_id, count(*) AS n_scored,
       |  sum(CASE WHEN tier = 3 THEN 1 ELSE 0 END)::BIGINT AS n_hit3,
       |  sum(CASE WHEN tier = 2 THEN 1 ELSE 0 END)::BIGINT AS n_hit2,
       |  sum(CASE WHEN tier = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hit1,
       |  CAST(sum(nll_i) AS DOUBLE) AS nll_sum
       |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** C4-style line-level page cleaning (Raffel et al., arXiv
    * 1910.10683 §2.2 — the heuristics that built the C4 corpus): keep
    * only lines that (a) contain at least `minLineWords` words,
    * (b) end in a terminal punctuation mark, and (c) do not mention
    * "javascript"; drop whole pages with fewer than `minKeptLines`
    * surviving lines, or containing "lorem ipsum" or a curly brace.
    *
    * The synthetic corpus has no line structure or punctuation, so —
    * per the planted-seed precedent of [[Corpus.redactionReport]] —
    * the page is first RENDERED deterministically: position hash
    * `h = poly_hash62('c4:' || doc_id || ':' || i)` plants a line
    * break after token i when `h % 5 == 0` (mean line ≈ 5 words),
    * chooses the break's terminal character from `(h >> 3) % 10`
    * ('.' 60%, '!' / '?' 10% each, missing 10%, non-terminal ':'
    * 10%), and overrides the token itself to `javascript` / `{` /
    * `lorem ipsum` at rates 1/97, 1/101, 1/103 — so every rule has
    * both passing and failing lines at sf0.01. The trailing partial
    * line gets no terminal character (and so fails rule (b), as an
    * unterminated crawl fragment should).
    *
    * Scale shape: rendering, line assembly, per-line verdicts, and
    * the cleaned-page digest are all left-to-right higher-order-
    * function folds inside ONE projection — zero shuffles before the
    * output sort, embarrassingly parallel at 100 TB. The DuckDB
    * oracle replays the identical hash stream relationally (position
    * unnest + prefix-count window), the [[Corpus.spanCorruption]]
    * discipline. Counts are exact integers; `cleaned_md5` is the
    * byte-exact digest of the kept lines joined by '\n'. */
  def c4LineFilter(documents: DataFrame, minLineWords: Int = 5,
      minKeptLines: Int = 3): DataFrame = {
    graft.functions.Registry.ensure(documents.sparkSession)
    documents
      .where(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      // deterministic page rendering: hash once per position, then
      // expand to (word-with-override, break?, terminal-char) cells
      .withColumn("cells", expr(
        """transform(
          |  transform(sequence(0, size(toks) - 1),
          |    i -> named_struct('i', i,
          |      'h', poly_hash62(concat('c4:', CAST(doc_id AS STRING),
          |                              ':', CAST(i AS STRING))))),
          |  s -> named_struct(
          |    'word', CASE WHEN pmod(s.h, 97) = 0 THEN 'javascript'
          |                 WHEN pmod(s.h, 101) = 0 THEN '{'
          |                 WHEN pmod(s.h, 103) = 0 THEN 'lorem ipsum'
          |                 ELSE element_at(toks, s.i + 1) END,
          |    'brk', pmod(s.h, 5) = 0,
          |    'punct', CASE pmod(shiftright(s.h, 3), 10)
          |               WHEN 6 THEN '!' WHEN 7 THEN '?'
          |               WHEN 8 THEN '' WHEN 9 THEN ':'
          |               ELSE '.' END))""".stripMargin))
      // line assembly: one forward fold; a break closes the current
      // line with its terminal char, the finish lambda flushes the
      // trailing partial line unterminated
      .withColumn("lines", expr(
        """aggregate(cells,
          |  named_struct('ls', CAST(array() AS ARRAY<STRING>),
          |               'cur', CAST(array() AS ARRAY<STRING>)),
          |  (acc, c) -> CASE WHEN c.brk THEN named_struct(
          |      'ls', array_append(acc.ls,
          |        concat(array_join(array_append(acc.cur, c.word), ' '),
          |               c.punct)),
          |      'cur', CAST(array() AS ARRAY<STRING>))
          |    ELSE named_struct('ls', acc.ls,
          |      'cur', array_append(acc.cur, c.word)) END,
          |  acc -> CASE WHEN size(acc.cur) > 0
          |    THEN array_append(acc.ls, array_join(acc.cur, ' '))
          |    ELSE acc.ls END)""".stripMargin))
      .withColumn("ev", expr(
        s"""transform(lines, l -> named_struct(
           |  'l', l,
           |  'short', size(split(l, ' ')) < $minLineWords,
           |  'no_punct', NOT right(l, 1) IN ('.', '!', '?'),
           |  'js', contains(l, 'javascript'),
           |  'kept', size(split(l, ' ')) >= $minLineWords
           |    AND right(l, 1) IN ('.', '!', '?')
           |    AND NOT contains(l, 'javascript')))""".stripMargin))
      .select(col("doc_id"),
        size(col("lines")).cast("long").as("n_lines"),
        expr("size(filter(ev, e -> e.kept))").cast("long").as("n_kept"),
        expr("size(filter(ev, e -> e.short))").cast("long").as("n_short"),
        expr("size(filter(ev, e -> e.no_punct))").cast("long")
          .as("n_no_punct"),
        expr("size(filter(ev, e -> e.js))").cast("long").as("n_js"),
        expr("exists(lines, l -> contains(l, 'lorem ipsum'))")
          .as("has_lorem_ipsum"),
        expr("exists(lines, l -> contains(l, '{'))").as("has_brace"),
        expr("md5(array_join(transform(filter(ev, e -> e.kept), " +
          "e -> e.l), '\\n'))").as("cleaned_md5"))
      .withColumn("passes_c4",
        col("n_kept") >= minKeptLines && !col("has_lorem_ipsum") &&
          !col("has_brace"))
      .select("doc_id", "n_lines", "n_kept", "n_short", "n_no_punct",
        "n_js", "has_lorem_ipsum", "has_brace", "passes_c4", "cleaned_md5")
      .orderBy("doc_id")
  }

  /** DuckDB replay of [[c4LineFilter]]: identical poly_hash62 stream
    * (the [[Corpus.spanCorruptionSql]] char-fold construction), line
    * ids via a prefix-count window, ordered `string_agg` rebuilds. */
  def c4LineFilterSql(minLineWords: Int = 5, minKeptLines: Int = 3): String = {
    val fold = Dedup.polyFold
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |  WHERE text IS NOT NULL),
       |tok AS (
       |  SELECT doc_id, i - 1 AS pos, toks[i] AS tok
       |  FROM d, LATERAL unnest(range(1, len(toks) + 1)) AS t (i)),
       |hk AS (
       |  SELECT doc_id, pos, tok,
       |    'c4:' || CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)
       |      AS key
       |  FROM tok),
       |h AS (
       |  SELECT doc_id, pos, tok,
       |    (${fold(131)} | (${fold(137)} << 31)) AS h
       |  FROM hk),
       |cell AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN h % 97 = 0 THEN 'javascript'
       |         WHEN h % 101 = 0 THEN '{'
       |         WHEN h % 103 = 0 THEN 'lorem ipsum'
       |         ELSE tok END AS word,
       |    h % 5 = 0 AS brk,
       |    CASE ((h >> 3) % 10)
       |      WHEN 6 THEN '!' WHEN 7 THEN '?' WHEN 8 THEN ''
       |      WHEN 9 THEN ':' ELSE '.' END AS punct
       |  FROM h),
       |lid AS (
       |  SELECT *, coalesce(sum(CASE WHEN brk THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY doc_id ORDER BY pos
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS line_id
       |  FROM cell),
       |line AS (
       |  SELECT doc_id, line_id,
       |    string_agg(word, ' ' ORDER BY pos)
       |      || coalesce(max(CASE WHEN brk THEN punct END), '') AS l
       |  FROM lid GROUP BY 1, 2),
       |ev AS (
       |  SELECT doc_id, line_id, l,
       |    len(string_split(l, ' ')) < $minLineWords AS short,
       |    NOT right(l, 1) IN ('.', '!', '?') AS no_punct,
       |    contains(l, 'javascript') AS js,
       |    len(string_split(l, ' ')) >= $minLineWords
       |      AND right(l, 1) IN ('.', '!', '?')
       |      AND NOT contains(l, 'javascript') AS kept,
       |    contains(l, 'lorem ipsum') AS lor,
       |    contains(l, '{') AS brace
       |  FROM line)
       |SELECT doc_id,
       |  count(*)::BIGINT AS n_lines,
       |  sum(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       |  sum(CASE WHEN short THEN 1 ELSE 0 END)::BIGINT AS n_short,
       |  sum(CASE WHEN no_punct THEN 1 ELSE 0 END)::BIGINT AS n_no_punct,
       |  sum(CASE WHEN js THEN 1 ELSE 0 END)::BIGINT AS n_js,
       |  bool_or(lor) AS has_lorem_ipsum,
       |  bool_or(brace) AS has_brace,
       |  sum(CASE WHEN kept THEN 1 ELSE 0 END) >= $minKeptLines
       |    AND NOT bool_or(lor) AND NOT bool_or(brace) AS passes_c4,
       |  md5(coalesce(string_agg(CASE WHEN kept THEN l END,
       |    chr(10) ORDER BY line_id), '')) AS cleaned_md5
       |FROM ev GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** The deterministic page RENDERING + EXTRACTION core shared by
    * [[htmlExtract]] (the oracled counting face) and
    * [[htmlExtractedDocs]] (the chainable cleaned-text face).
    * Produces per doc: `blocks` (the rendered markup lines) and `ex`
    * (per-line extraction verdicts). One scan-side projection — no
    * shuffle anywhere. */
  private def htmlCore(documents: DataFrame): DataFrame = {
    graft.functions.Registry.ensure(documents.sparkSession)
    def ph(key: String) = s"poly_hash62(concat($key))"
    val hTok = ph("'html:', CAST(doc_id AS STRING), ':', CAST(i AS STRING)")
    val hLine =
      ph("'htmlb:', CAST(doc_id AS STRING), ':', CAST(lid AS STRING)")
    val hAnchor = ph("'htmla:', CAST(doc_id AS STRING), ':', " +
      "CAST(lid AS STRING), ':', CAST(j AS STRING)")
    // content line with hash-chosen inline anchors (~1/7 of words)
    val pBody =
      s"""array_join(transform(sequence(0, size(ws) - 1),
         |  j -> CASE WHEN pmod($hAnchor, 7) = 0
         |    THEN concat('<a href="#">', element_at(ws, j + 1), '</a>')
         |    ELSE element_at(ws, j + 1) END), ' ')""".stripMargin
    // nav line: EVERY word is a link (the link-density rule's target)
    val liBody =
      """array_join(transform(ws,
        |  w -> concat('<a href="#">', w, '</a>')), ' ')""".stripMargin
    // strip order mirrors a real extractor: whole-span drops (head /
    // script / style) BEFORE the generic tag strip
    val stripped =
      """regexp_replace(regexp_replace(regexp_replace(b,
        |  '<head>.*</head>', ''),
        |  '<script>.*</script>', ''),
        |  '<style>.*</style>', '')""".stripMargin
    documents
      .where(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      // line assembly: the c4LineFilter fold, keeping WORD ARRAYS so
      // the block renderer can wrap individual words
      .withColumn("wlines", expr(
        s"""aggregate(
           |  transform(sequence(0, size(toks) - 1),
           |    i -> named_struct('w', element_at(toks, i + 1),
           |                      'brk', pmod($hTok, 6) = 0)),
           |  named_struct('ls', CAST(array() AS ARRAY<ARRAY<STRING>>),
           |               'cur', CAST(array() AS ARRAY<STRING>)),
           |  (acc, c) -> CASE WHEN c.brk THEN named_struct(
           |      'ls', array_append(acc.ls, array_append(acc.cur, c.w)),
           |      'cur', CAST(array() AS ARRAY<STRING>))
           |    ELSE named_struct('ls', acc.ls,
           |      'cur', array_append(acc.cur, c.w)) END,
           |  acc -> CASE WHEN size(acc.cur) > 0
           |    THEN array_append(acc.ls, acc.cur) ELSE acc.ls END)
           |""".stripMargin))
      // block rendering: per line, the hash picks content <p> (60%),
      // all-link nav <li> (20%), <script> (10%) or <style> (10%);
      // a head/body wrapper frames the page
      .withColumn("blocks", expr(
        s"""concat(
           |  array(concat('<html><head><title>doc ',
           |               CAST(doc_id AS STRING), '</title></head><body>')),
           |  transform(sequence(0, size(wlines) - 1), lid ->
           |    CASE WHEN pmod($hLine, 10) <= 5 THEN
           |      concat('<p>',
           |        transform(array(element_at(wlines, lid + 1)),
           |          ws -> $pBody)[0], '.</p>')
           |    WHEN pmod($hLine, 10) <= 7 THEN
           |      concat('<li>',
           |        transform(array(element_at(wlines, lid + 1)),
           |          ws -> $liBody)[0], '</li>')
           |    WHEN pmod($hLine, 10) = 8 THEN
           |      concat('<script>var v', CAST(lid AS STRING), ' = ',
           |        CAST(pmod($hLine, 1000) AS STRING), ';</script>')
           |    ELSE
           |      concat('<style>.c', CAST(lid AS STRING), ' { width: ',
           |        CAST(pmod($hLine, 100) AS STRING), 'px }</style>')
           |    END),
           |  array('</body></html>'))""".stripMargin))
      // extraction verdicts: span drops, anchor-text length, visible
      // text, and the 2·anchor ≤ visible link-density keep rule —
      // INTEGER arithmetic only, so the verdict is engine-exact
      .withColumn("ex", expr(
        s"""transform(blocks, b -> named_struct(
           |  'is_script', contains(b, '<script>'),
           |  'is_style', contains(b, '<style>'),
           |  'alen', aggregate(
           |     regexp_extract_all($stripped,
           |       '<a href="#">([^<]*)</a>', 1),
           |     CAST(0 AS BIGINT), (a, x) -> a + length(x)),
           |  'visible', trim(regexp_replace($stripped, '<[^>]+>', '')),
           |  'vis_len',
           |     CAST(length(trim(regexp_replace($stripped, '<[^>]+>', '')))
           |       AS BIGINT)))""".stripMargin))
  }

  /** HTML/markup boilerplate extraction — the first stage of a real
    * crawl-to-corpus pipeline (the trafilatura / jusText step
    * upstream of [[c4LineFilter]]): drop `<head>`/`<script>`/`<style>`
    * spans, strip the remaining tags, and apply a LINK-DENSITY line
    * rule (a line whose anchor text is more than half its visible
    * text is navigation boilerplate — Kohlschütter et al., WSDM 2010)
    * keeping only content lines.
    *
    * The synthetic corpus is plain text, so the page is first RENDERED
    * deterministically (the [[c4LineFilter]] planted-seed precedent):
    * `poly_hash62` breaks the token stream into lines (mean ≈ 6
    * words), casts each line as content `<p>` (60%, with ~1/7 of
    * words wrapped in inline anchors), all-link nav `<li>` (20%),
    * `<script>` (10%) or `<style>` (10%), and frames the page with a
    * `<head><title>` wrapper — so every extraction rule has both
    * passing and failing lines at sf0.01. Extraction then operates on
    * the MARKUP ONLY (never the generation parameters): span drops,
    * tag strip, and the keep rule `2·anchor_chars ≤ visible_chars`
    * as an integer compare — no FP anywhere, so the face is
    * hash-exact against the DuckDB replay ([[htmlExtractSql]]).
    *
    * Scale shape: rendering and extraction are per-row higher-order
    * folds inside ONE projection — zero shuffles before the output
    * sort, embarrassingly parallel at 100 TB (the real-corpus
    * deployment swaps the renderer for the crawl's raw HTML column
    * and keeps the extraction projection unchanged). Output per doc:
    * line counts by verdict, anchor/visible char totals over kept
    * lines, and the byte-exact digest of the extracted text. */
  def htmlExtract(documents: DataFrame): DataFrame =
    htmlCore(documents)
      .select(col("doc_id"),
        expr("size(blocks)").cast("long").as("n_lines"),
        expr("size(filter(ex, e -> e.is_script))").cast("long")
          .as("n_script"),
        expr("size(filter(ex, e -> e.is_style))").cast("long")
          .as("n_style"),
        expr("""size(filter(ex, e -> NOT e.is_script AND NOT e.is_style
               |  AND e.vis_len > 0 AND 2 * e.alen > e.vis_len))"""
          .stripMargin).cast("long").as("n_nav"),
        expr("""size(filter(ex, e -> NOT e.is_script AND NOT e.is_style
               |  AND e.vis_len = 0))""".stripMargin).cast("long")
          .as("n_empty"),
        expr("size(filter(ex, e -> e.vis_len > 0 AND 2 * e.alen <= e.vis_len))")
          .cast("long").as("n_kept"),
        expr("""aggregate(filter(ex, e -> e.vis_len > 0
               |  AND 2 * e.alen <= e.vis_len),
               |  CAST(0 AS BIGINT), (a, e) -> a + e.alen)""".stripMargin)
          .as("anchor_chars"),
        expr("""aggregate(filter(ex, e -> e.vis_len > 0
               |  AND 2 * e.alen <= e.vis_len),
               |  CAST(0 AS BIGINT), (a, e) -> a + e.vis_len)""".stripMargin)
          .as("kept_chars"),
        expr("""md5(array_join(transform(filter(ex, e -> e.vis_len > 0
               |  AND 2 * e.alen <= e.vis_len), e -> e.visible), '\n'))"""
          .stripMargin).as("extracted_md5"))
      .orderBy("doc_id")

  /** The extracted clean text as chainable documents `(doc_id, text)`
    * — kept visible lines joined by spaces, ready to feed the
    * downstream text battery ([[c4LineFilter]], [[gopherQuality]],
    * dedup): the full crawl-pipeline composition, asserted end-to-end
    * in `TextAnalysisSpec`. Docs whose page extracted to nothing are
    * dropped (a real pipeline discards empty extractions). */
  def htmlExtractedDocs(documents: DataFrame): DataFrame =
    htmlCore(documents)
      .select(col("doc_id"),
        expr("""array_join(transform(filter(ex, e -> e.vis_len > 0
               |  AND 2 * e.alen <= e.vis_len), e -> e.visible), ' ')"""
          .stripMargin).as("text"))
      .where(length(col("text")) > 0)

  /** DuckDB replay of [[htmlExtract]]: the identical poly_hash62
    * stream (token-break, block-type and anchor lanes), line ids via
    * the [[c4LineFilterSql]] prefix-count window, per-line render via
    * ordered string_agg, wrapper lines via UNION ALL, and the same
    * regex extraction chain (`'g'` flag where Spark replaces all). */
  def htmlExtractSql(): String = {
    val hTok = Dedup.polyHash62Sql // over column `key`
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |  WHERE text IS NOT NULL),
       |tok AS (
       |  SELECT doc_id, i - 1 AS pos, toks[i] AS tok
       |  FROM d, LATERAL unnest(range(1, len(toks) + 1)) AS t (i)),
       |hk AS (
       |  SELECT doc_id, pos, tok,
       |    'html:' || CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)
       |      AS key
       |  FROM tok),
       |hh AS (SELECT doc_id, pos, tok, $hTok % 6 = 0 AS brk FROM hk),
       |lid AS (
       |  SELECT doc_id, pos, tok, brk,
       |    coalesce(sum(CASE WHEN brk THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS line_id
       |  FROM hh),
       |lw AS (
       |  SELECT doc_id, line_id, pos, tok,
       |    row_number() OVER (PARTITION BY doc_id, line_id
       |                       ORDER BY pos) - 1 AS j
       |  FROM lid),
       |aw AS (
       |  SELECT doc_id, line_id, pos, tok,
       |    'htmla:' || CAST(doc_id AS VARCHAR) || ':'
       |      || CAST(line_id AS VARCHAR) || ':' || CAST(j AS VARCHAR) AS key
       |  FROM lw),
       |wr AS (
       |  SELECT doc_id, line_id, pos, tok, $hTok % 7 = 0 AS anch
       |  FROM aw),
       |ln AS (
       |  SELECT doc_id, line_id,
       |    string_agg(CASE WHEN anch
       |        THEN '<a href="#">' || tok || '</a>' ELSE tok END,
       |      ' ' ORDER BY pos) AS pb,
       |    string_agg('<a href="#">' || tok || '</a>', ' ' ORDER BY pos)
       |      AS lb
       |  FROM wr GROUP BY 1, 2),
       |lhk AS (
       |  SELECT doc_id, line_id, pb, lb,
       |    'htmlb:' || CAST(doc_id AS VARCHAR) || ':'
       |      || CAST(line_id AS VARCHAR) AS key
       |  FROM ln),
       |lh AS (SELECT doc_id, line_id, pb, lb, $hTok AS hl FROM lhk),
       |blk AS (
       |  SELECT doc_id, line_id,
       |    CASE WHEN hl % 10 <= 5 THEN '<p>' || pb || '.</p>'
       |         WHEN hl % 10 <= 7 THEN '<li>' || lb || '</li>'
       |         WHEN hl % 10 = 8 THEN '<script>var v'
       |           || CAST(line_id AS VARCHAR) || ' = '
       |           || CAST(hl % 1000 AS VARCHAR) || ';</script>'
       |         ELSE '<style>.c' || CAST(line_id AS VARCHAR)
       |           || ' { width: ' || CAST(hl % 100 AS VARCHAR)
       |           || 'px }</style>' END AS b
       |  FROM lh
       |  UNION ALL
       |  SELECT doc_id, -1,
       |    '<html><head><title>doc ' || CAST(doc_id AS VARCHAR)
       |      || '</title></head><body>'
       |  FROM d
       |  UNION ALL
       |  SELECT doc_id, 2147483647, '</body></html>' FROM d),
       |st AS (
       |  SELECT doc_id, line_id,
       |    contains(b, '<script>') AS is_script,
       |    contains(b, '<style>') AS is_style,
       |    regexp_replace(regexp_replace(regexp_replace(b,
       |      '<head>.*</head>', ''),
       |      '<script>.*</script>', ''),
       |      '<style>.*</style>', '') AS s
       |  FROM blk),
       |ev AS (
       |  SELECT doc_id, line_id, is_script, is_style,
       |    coalesce(list_sum(list_transform(
       |      regexp_extract_all(s, '<a href="#">([^<]*)</a>', 1),
       |      x -> length(x))), 0)::BIGINT AS alen,
       |    trim(regexp_replace(s, '<[^>]+>', '', 'g')) AS visible
       |  FROM st),
       |ev2 AS (
       |  SELECT doc_id, line_id, is_script, is_style, alen, visible,
       |    length(visible)::BIGINT AS vis_len
       |  FROM ev)
       |SELECT doc_id,
       |  count(*)::BIGINT AS n_lines,
       |  sum(CASE WHEN is_script THEN 1 ELSE 0 END)::BIGINT AS n_script,
       |  sum(CASE WHEN is_style THEN 1 ELSE 0 END)::BIGINT AS n_style,
       |  sum(CASE WHEN NOT is_script AND NOT is_style AND vis_len > 0
       |        AND 2 * alen > vis_len THEN 1 ELSE 0 END)::BIGINT AS n_nav,
       |  sum(CASE WHEN NOT is_script AND NOT is_style AND vis_len = 0
       |        THEN 1 ELSE 0 END)::BIGINT AS n_empty,
       |  sum(CASE WHEN vis_len > 0 AND 2 * alen <= vis_len
       |        THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       |  coalesce(sum(CASE WHEN vis_len > 0 AND 2 * alen <= vis_len
       |        THEN alen END), 0)::BIGINT AS anchor_chars,
       |  coalesce(sum(CASE WHEN vis_len > 0 AND 2 * alen <= vis_len
       |        THEN vis_len END), 0)::BIGINT AS kept_chars,
       |  md5(coalesce(string_agg(CASE WHEN vis_len > 0
       |        AND 2 * alen <= vis_len THEN visible END,
       |      chr(10) ORDER BY line_id), '')) AS extracted_md5
       |FROM ev2 GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }
}
