package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication suite over the `documents` table: exact (content
  * hash), n-gram Jaccard (inverted-index join), MinHash+LSH (banded
  * signatures), and SimHash (hamming LSH) — the standard toolbox of a
  * large-scale training-data pipeline.
  *
  * Scale design:
  *  - shingling is per-row array work inside codegen (no explode until
  *    the shingle stream is needed);
  *  - the exact-Jaccard candidate generation is an inverted index
  *    (postings list per shingle, one shuffle), with a
  *    document-frequency cap to bound skew (a shingle shared by
  *    thousands of docs contributes O(df²) pairs — ubiquitous shingles
  *    carry no dedup signal and are dropped, the classic "stop-shingle"
  *    rule);
  *  - MinHash signatures are one per-row codegen'd expression
  *    ([[graft.functions.MinHashSig]] — no explode, no shuffle), banded
  *    16x4, and only band-collision candidates are verified with exact
  *    Jaccard over their own shingles — the linear-scale path for
  *    100 TB;
  *  - SimHash reduces each doc to a 64-bit fingerprint; candidate pairs
  *    come from 8-bit band collisions (guaranteed recall for hamming
  *    distance ≤ 3 by pigeonhole over 8 bands... any 3 flipped bits
  *    spoil at most 3 of 8 bands).
  */
object Dedup {

  /** Word k-gram shingles, distinct per doc. Built with
    * `transform(sequence(...))` over the token array — per-row, no join,
    * stays in whole-stage codegen. */
  def shingles(documents: DataFrame, k: Int = 4): DataFrame =
    documents
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= k)
      .select(col("doc_id"), explode(array_distinct(
        expr(s"transform(sequence(0, size(toks) - $k), " +
          s"i -> concat_ws(' ', slice(toks, i + 1, $k)))"))).as("shingle"))

  /** The df-capped shingle stream and per-doc kept-shingle sizes
    * shared by [[ngramJaccardPairs]] and [[containmentPairs]]: ONE
    * shuffle of the shingle stream clusters by shingle, a windowed
    * count applies the stop-shingle rule (df ≤ maxDf) in place, and
    * the surviving (doc_id, shingle) rows persist for the size and
    * pair branches.
    *
    * This replaces the round-≤17 bounded-postings formulation
    * (a capped collect of doc ids into arrays + double explode): the
    * collect is a TypedImperativeAggregate, which runs on
    * ObjectHashAggregate — and ObjectHashAggregate falls back to
    * SORT-BASED aggregation at 128 distinct keys per task
    * (`spark.sql.objectHashAggregate.sortBased.fallbackThreshold`),
    * a threshold any real shingle stream passes instantly, so at ANY
    * scale the postings build ran on the slow serialize-and-sort
    * path (measured at sf0.1: the postings stage alone was 159 s of
    * summed task time, 272 s for the face; this formulation: 21 s /
    * 63 s, wall 13.8 → 4.1 s — raising the fallback threshold was
    * measured equivalent but is a local-only config, the fallback
    * always triggers at corpus scale). The windowed count keeps the
    * SAME memory story the LSH band cap ([[capBandBuckets]]) already
    * relies on: WindowExec buffers one shingle's rows in a SPILLING
    * external sorter, so a mega-hot shingle degrades to disk instead
    * of an aggregation-buffer blow-up, and its rows are dropped by
    * the df filter right after — they never reach the pair join.
    * Output sets are identical to the postings formulation (groups
    * over the cap dropped whole), and the DuckDB oracle
    * ([[ngramJaccardCtes]]) has always used this exact window
    * formulation. */
  private def cappedShingles(documents: DataFrame, k: Int,
      maxDf: Int): (DataFrame, DataFrame) = {
    val kept = shingles(documents, k)
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("shingle")))
      .where(col("df") <= maxDf)
      .drop("df")
      // consumed by the size branch and BOTH sides of the pair join
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    (kept, sizes)
  }

  /** i<j co-occurrence counts over the capped shingle stream: an
    * equi-self-join on shingle (both sides the SAME persisted frame,
    * already hash-clustered by shingle — no re-exchange) counted to
    * the (a, b) pair grain, partially aggregated map-side. Pair
    * fan-out is bounded by df² ≤ maxDf² per shingle, the same bound
    * the postings double-explode had — but the whole path is
    * codegen'd HashAggregate, no object aggregation anywhere. */
  private def shinglePairCounts(kept: DataFrame): DataFrame =
    kept.toDF("doc_id_a", "shingle")
      .join(kept.toDF("doc_id_b", "shingle_b"),
        col("shingle") === col("shingle_b") &&
          col("doc_id_a") < col("doc_id_b"))
      .groupBy(col("doc_id_a"), col("doc_id_b"))
      .agg(count(lit(1)).as("inter"))

  /** N-gram NOVELTY curve — per-document fraction of shingles never
    * seen in any EARLIER document (doc_id order = ingestion order):
    * the redundancy-growth diagnostic a crawl pipeline watches to
    * decide when additional data stops adding information (novelty
    * falls → the crawl is re-reading the same web; the corpus-level
    * complement of [[crossDocNgramDup]], which is order-agnostic).
    *
    * Scale shape: ONE shuffle builds each distinct shingle's first
    * owner (`min(doc_id)` — algebraic, map-side combined), a
    * shingle-keyed join tags each doc's shingles with their first
    * owner (same clustering as the aggregate, AQE reuses it), and a
    * doc-keyed aggregate closes it — no ordering dependency
    * materializes anywhere, the "earlier" semantics ride entirely on
    * `min`. Output: (doc_id, n_shingles, n_novel, novelty). */
  def ngramNovelty(documents: DataFrame, k: Int = 4): DataFrame = {
    val sh = shingles(documents, k)
    val first = sh.groupBy(col("shingle"))
      .agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles").cast("double"))
          .as("novelty"))
      .orderBy("doc_id")
  }

  /** DuckDB replay of [[ngramNovelty]]: same distinct shingle stream,
    * same min-owner join. */
  def ngramNoveltySql(k: Int = 4): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    array_to_string(t[i : i + ${k - 1}], ' ') AS shingle
       |  FROM toks, LATERAL unnest(range(1, len(t) - ${k - 2})) AS u(i)
       |  WHERE len(t) >= $k),
       |fst AS (SELECT shingle, min(doc_id) AS first_doc
       |        FROM sh GROUP BY 1)
       |SELECT sh.doc_id, count(*) AS n_shingles,
       |  sum(CASE WHEN fst.first_doc = sh.doc_id THEN 1 ELSE 0 END)
       |    ::BIGINT AS n_novel,
       |  CAST(sum(CASE WHEN fst.first_doc = sh.doc_id THEN 1 ELSE 0 END)
       |    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty
       |FROM sh JOIN fst USING (shingle)
       |GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** Exact dedup: one representative (minimum doc_id) per distinct
    * content hash. A single hash-groupBy — the cheapest dedup and the
    * first pass of any pipeline. */
  def dedupExact(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text")).as("fingerprint"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_count"))
      .select(col("doc_id"), col("fingerprint"), col("dup_count"))
      .orderBy("doc_id")

  val dedupExactSql: String =
    """SELECT min(doc_id) AS doc_id, md5(text) AS fingerprint,
      |  count(*) AS dup_count
      |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin

  /** Exact n-gram Jaccard near-dup pairs via inverted-index self-join.
    * `maxDf` drops ubiquitous shingles (skew + signal rule, see class
    * doc); `threshold` keeps true near-dups — the corpus is strongly
    * bimodal (background overlap ≤ 0.02, implanted near-dups ≥ 0.97),
    * so 0.5 is far from any float boundary. */
  def ngramJaccardPairs(documents: DataFrame, k: Int = 4,
      threshold: Double = 0.5, maxDf: Int = 1000): DataFrame = {
    val (kept, sizes) = cappedShingles(documents, k, maxDf)
    val inter = shinglePairCounts(kept)
    inter
      .join(sizes.toDF("doc_id_a", "na"), Seq("doc_id_a"))
      .join(sizes.toDF("doc_id_b", "nb"), Seq("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")).as("jaccard"))
      .where(col("jaccard") >= threshold)
      .orderBy("doc_id_a", "doc_id_b")
  }

  /** Shared CTE chain (token → 4-gram shingle → df-capped inverted
    * index → pair intersection counts) reused by
    * [[ngramJaccardPairsSql]] and [[dedupClustersSql]]. Ends with the
    * `pairs` CTE: thresholded `(doc_id_a, doc_id_b, jaccard)`. */
  private[operators] def ngramJaccardCtes(threshold: Double,
      maxDf: Int): String =
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
       |    generate_subscripts(string_split(text, ' '), 1) AS idx
       |  FROM documents),
       |sh0 AS (
       |  SELECT DISTINCT a.doc_id,
       |    a.tok || ' ' || b.tok || ' ' || c.tok || ' ' || d.tok AS shingle
       |  FROM toks a
       |  JOIN toks b ON a.doc_id = b.doc_id AND b.idx = a.idx + 1
       |  JOIN toks c ON a.doc_id = c.doc_id AND c.idx = a.idx + 2
       |  JOIN toks d ON a.doc_id = d.doc_id AND d.idx = a.idx + 3),
       |sh AS (
       |  SELECT doc_id, shingle FROM (
       |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
       |    FROM sh0) WHERE df <= $maxDf),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b, count(*) AS inter
       |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT doc_id_a, doc_id_b,
       |    CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) AS jaccard
       |  FROM inter
       |  JOIN sizes sa ON doc_id_a = sa.doc_id
       |  JOIN sizes sb ON doc_id_b = sb.doc_id
       |  WHERE CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) >= $threshold)""".stripMargin

  def ngramJaccardPairsSql(k: Int = 4, threshold: Double = 0.5,
      maxDf: Int = 1000): String =
    s"""WITH ${ngramJaccardCtes(threshold, maxDf)}
       |SELECT doc_id_a, doc_id_b, jaccard FROM pairs
       |ORDER BY 1, 2""".stripMargin

  /** Train/val split-LEAKAGE audit — the near-dup decontamination
    * check run ACROSS the split boundary (the canary every eval
    * pipeline needs: a random split of a corpus with internal
    * near-dups puts one twin in train and one in val, and the val
    * loss silently measures memorization; Lee et al. 2107.06499 §6
    * report exactly this leak class): count the exact
    * [[ngramJaccardPairs]] near-dup pairs per (split, split) cell of
    * the [[Corpus.hashSplit]] assignment. A healthy split's
    * cross-cell count matches the dup rate × split mass; the fix is
    * cluster-level splitting (assign [[connectedComponents]] clusters,
    * not docs).
    *
    * Scale shape: the pair generator is the df-capped inverted index
    * (bounded fan-out, one shuffle); the split table is a zero-cost
    * hash projection joined twice by doc_id; the final rollup is
    * ≤ 3 cells and its share division rides a 3-row window (the
    * `langTemperatureMix` bounded-frame precedent). Output:
    * (split_a, split_b, n_pairs, share, leaked). */
  def splitLeakage(documents: DataFrame, k: Int = 4,
      threshold: Double = 0.5, maxDf: Int = 1000,
      valPct: Int = 10): DataFrame = {
    val pairs = ngramJaccardPairs(documents, k, threshold, maxDf)
      .select(col("doc_id_a"), col("doc_id_b"))
    val splits = Corpus.hashSplit(documents, valPct)
    pairs
      .join(splits.toDF("doc_id_a", "split_a"), Seq("doc_id_a"))
      .join(splits.toDF("doc_id_b", "split_b"), Seq("doc_id_b"))
      .select(least(col("split_a"), col("split_b")).as("split_a"),
        greatest(col("split_a"), col("split_b")).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("share",
        col("n_pairs").cast("double") /
          sum(col("n_pairs")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(lit(1)))
            .cast("double"))
      .withColumn("leaked",
        (col("split_a") =!= col("split_b")).cast("long"))
      .select(col("split_a"), col("split_b"), col("n_pairs"),
        col("share"), col("leaked"))
      .orderBy("split_a", "split_b")
  }

  /** DuckDB replay of [[splitLeakage]]: the shared
    * [[ngramJaccardCtes]] pair body, the [[Corpus.hashSplitSql]]
    * assignment, the same sorted-cell rollup and window share. */
  def splitLeakageSql(k: Int = 4, threshold: Double = 0.5,
      maxDf: Int = 1000, valPct: Int = 10): String =
    s"""WITH ${ngramJaccardCtes(threshold, maxDf)},
       |sp AS (
       |  SELECT doc_id,
       |    CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))
       |      ::BIGINT % 100 < $valPct THEN 'val' ELSE 'train' END
       |      AS split
       |  FROM documents),
       |px AS (
       |  SELECT least(a.split, b.split) AS split_a,
       |    greatest(a.split, b.split) AS split_b
       |  FROM pairs p
       |  JOIN sp a ON p.doc_id_a = a.doc_id
       |  JOIN sp b ON p.doc_id_b = b.doc_id),
       |cc AS (
       |  SELECT split_a, split_b, count(*)::BIGINT AS n_pairs
       |  FROM px GROUP BY 1, 2)
       |SELECT split_a, split_b, n_pairs,
       |  CAST(n_pairs AS DOUBLE) / CAST(sum(n_pairs) OVER () AS DOUBLE)
       |    AS share,
       |  (CASE WHEN split_a <> split_b THEN 1 ELSE 0 END)::BIGINT
       |    AS leaked
       |FROM cc ORDER BY split_a, split_b""".stripMargin

  /** Exact token-set Jaccard pairs via PREFIX FILTERING (the
    * AllPairs/PPJoin family — Bayardo et al., WWW'07; Xiao et al.,
    * WWW'08): the third candidate-generation strategy in the dedup
    * toolbox, next to the df-capped inverted index
    * ([[ngramJaccardPairs]] — exact, but pair fan-out is df² per
    * posting) and MinHash banding ([[minhashLshPairs]] — linear, but
    * probabilistic recall). Prefix filtering is EXACT with no false
    * negatives AND prunes the candidate space: order every document's
    * distinct tokens by ascending global document frequency (rarest
    * first, ties by token), take only the first
    * `n − ceil(t·n) + 1` tokens (the "prefix"), and join documents on
    * shared PREFIX tokens. Completeness: if `J(x,y) ≥ t` then
    * `|x∩y| ≥ ceil(t·max(|x|,|y|))`, and two sets whose overlap is
    * ≥ o must share an element within their first `|·| − o + 1`
    * positions of any common total order (else all common elements
    * hide in the last `o−1` positions of one side — fewer than o).
    *
    * Scale shape: one df aggregate (vocab-bounded) joined back to the
    * token stream; per-doc prefix construction is one bounded-per-doc
    * sort_array/collect (the document's OWN token set — the
    * [[ngramJaccardPairs]] bounded-state discipline); the candidate
    * join keys on prefix tokens, which by construction are each
    * document's RAREST tokens, so posting lists on the join key are
    * short exactly where fan-out would bite — the inverse of the
    * stop-shingle rule's cap: instead of dropping hot keys, never join
    * on them. A length filter (`t·na ≤ nb ≤ na/t`) rides the join
    * condition. Verification re-joins the pair ids to the per-doc
    * sorted-token-ID arrays and computes the exact `|∩|` via the
    * `sorted_inter_size` two-pointer merge kernel
    * ([[graft.functions.SortedLongInterSize]] — no per-row hash set,
    * no output array) — one codegen'd row per candidate pair.
    * The `− 1e-9` guard inside both ceil()s keeps the float threshold
    * conservative (a longer prefix / looser filter can only ADD
    * candidates, never lose a true pair); both engines compute the
    * identical expression, so the oracle is still hash-exact.
    * Output: (doc_id_a, doc_id_b, inter, union_sz, jaccard).
    *
    * The catalog default is t = 0.9 ("near-identical token sets"):
    * the operator is OUTPUT-bound — on the synthetic corpus the true
    * pair mass at word-set level is large (sf0.1: 5.1M pairs at 0.7,
    * 0.96M at 0.9, measured) because short docs from a small
    * vocabulary collide as sets far more than as 4-gram shingles —
    * and the completeness test (`DedupSpec`) runs at 0.7 to exercise
    * longer prefixes.
    *
    * The persisted `ranked` frame (per-doc sorted token arrays, read
    * three times: prefix generation + both verification joins) is
    * released by the ContextCleaner when the caller drops the result —
    * the [[graft.operators.Analytics.rankByRange]] convention; an
    * eager unpersist here would race the caller's first action on the
    * still-lazy result. NOTE the result is lazy only past the vocab
    * rank: rankByRange runs its bounds/counts job at
    * DataFrame-CONSTRUCTION time, so even explain-only callers pay one
    * pass over the (vocab-bounded) df table. */
  def prefixJaccardPairs(documents: DataFrame,
      threshold: Double = 0.9): DataFrame = {
    graft.functions.Registry.ensure(documents.sparkSession)
    val toks = documents
      .where(col("text").isNotNull)
      .select(col("doc_id"), explode(array_distinct(
        filter(split(col("text"), " "), t => length(t) > 0))).as("tok"))
    val dfs = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // Dense LONG token ids in the same (df, tok) total order the
    // prefix ordering uses (vocab-bounded rank — one range exchange
    // over the df table, never the corpus): the candidate join then
    // keys on 8-byte longs instead of strings (guide §2.3 "narrower
    // types" — the shuffle and join-key compare shrink), and the
    // verification intersect runs on the PRIMITIVE long path instead
    // of per-row UTF8String hash sets — measured 5.7× on this face's
    // dominant stage (78.7 → 13.9 s summed task time; the one big
    // stage was 61.8 s of the 78.7). Order-isomorphism: rank is a
    // strictly monotone map of (df, tok), so sorted-id arrays, prefix
    // slices, candidate pairs and intersection SIZES are identical to
    // the string formulation — the output bytes cannot move.
    val (vocabIds, _) = Analytics.rankByRange(dfs, Seq("df", "tok"),
      eager = false)
    val ranked = toks
      .join(vocabIds.select(col("tok"), col("__rank").as("tid")), Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("tid"))).as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pre = ranked.select(col("doc_id"), col("n"),
      explode(expr(
        s"""slice(toks, 1, CAST(size(toks)
           |  - ceil($threshold * size(toks) - 1e-9) + 1 AS INT))"""
          .stripMargin)).as("tok"))
    val cand = pre.as("a").join(pre.as("b"),
        col("a.tok") === col("b.tok") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("b.n") >= ceil(lit(threshold) * col("a.n") - lit(1e-9)) &&
          col("a.n") >= ceil(lit(threshold) * col("b.n") - lit(1e-9)))
      .select(col("a.doc_id").as("doc_id_a"), col("b.doc_id").as("doc_id_b"))
      .distinct()
    cand
      .join(ranked.select(col("doc_id").as("doc_id_a"),
        col("toks").as("toks_a"), col("n").as("na")), Seq("doc_id_a"))
      .join(ranked.select(col("doc_id").as("doc_id_b"),
        col("toks").as("toks_b"), col("n").as("nb")), Seq("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"),
        // merge-intersect over the sorted id arrays (no per-row hash
        // set, no output array — `sorted_inter_size` scaladoc)
        expr("sorted_inter_size(toks_a, toks_b)").as("inter"),
        col("na"), col("nb"))
      .withColumn("union_sz", col("na") + col("nb") - col("inter"))
      .where(col("inter").cast("double") / col("union_sz").cast("double")
        >= threshold)
      .select(col("doc_id_a"), col("doc_id_b"), col("inter"),
        col("union_sz"),
        expr("""CAST(CAST(CAST(inter AS DOUBLE) / CAST(union_sz AS DOUBLE)
               |  AS DECIMAL(9,6)) AS DOUBLE)""".stripMargin).as("jaccard"))
      .orderBy("doc_id_a", "doc_id_b")
  }

  /** DuckDB replay of [[prefixJaccardPairs]]: same df ranking (window
    * row_number over (df, tok) replays the sort_array order on the
    * unique (df, tok) key), same guarded ceil arithmetic, intersection
    * counted relationally instead of via array_intersect. */
  def prefixJaccardPairsSql(threshold: Double = 0.9): String =
    s"""WITH ptoks AS (
       |  SELECT DISTINCT doc_id, tok FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |    FROM documents WHERE text IS NOT NULL)
       |  WHERE length(tok) > 0),
       |pdf AS (SELECT tok, count(*) AS df FROM ptoks GROUP BY 1),
       |pn AS (SELECT doc_id, count(*) AS n FROM ptoks GROUP BY 1),
       |pr AS (
       |  SELECT t.doc_id, t.tok, n.n,
       |    row_number() OVER (PARTITION BY t.doc_id
       |      ORDER BY d.df, t.tok) AS rk
       |  FROM ptoks t JOIN pdf d USING (tok) JOIN pn n USING (doc_id)),
       |pre AS (
       |  SELECT doc_id, tok, n FROM pr
       |  WHERE rk <= n - ceil($threshold * n - 1e-9) + 1),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
       |  FROM pre a JOIN pre b ON a.tok = b.tok
       |    AND a.doc_id < b.doc_id
       |    AND b.n >= ceil($threshold * a.n - 1e-9)
       |    AND a.n >= ceil($threshold * b.n - 1e-9)),
       |pinter AS (
       |  SELECT c.doc_id_a, c.doc_id_b, count(*)::BIGINT AS inter
       |  FROM cand c
       |  JOIN ptoks ta ON ta.doc_id = c.doc_id_a
       |  JOIN ptoks tb ON tb.doc_id = c.doc_id_b AND tb.tok = ta.tok
       |  GROUP BY 1, 2)
       |SELECT i.doc_id_a, i.doc_id_b, i.inter,
       |  (na.n + nb.n - i.inter)::BIGINT AS union_sz,
       |  CAST(CAST(CAST(i.inter AS DOUBLE)
       |    / CAST(na.n + nb.n - i.inter AS DOUBLE)
       |    AS DECIMAL(9,6)) AS DOUBLE) AS jaccard
       |FROM pinter i
       |JOIN pn na ON na.doc_id = i.doc_id_a
       |JOIN pn nb ON nb.doc_id = i.doc_id_b
       |WHERE CAST(i.inter AS DOUBLE)
       |  / CAST(na.n + nb.n - i.inter AS DOUBLE) >= $threshold
       |ORDER BY 1, 2""".stripMargin

  /** Sorted-neighborhood near-dup pairs (Hernández & Stolfo, SIGMOD'95
    * — the classic entity-resolution blocker, here as the FOURTH
    * candidate-generation strategy beside the inverted index
    * ([[ngramJaccardPairs]]), MinHash banding ([[minhashLshPairs]]),
    * and prefix filtering ([[prefixJaccardPairs]])): sort the corpus
    * by a content key that places near-duplicates close together —
    * `(n_tokens, space-joined sorted distinct tokens, doc_id)` — and
    * compare each document only with its `window` successors in that
    * order. Candidates are O(n·window) REGARDLESS of how much
    * duplicate mass the corpus carries (the bound the other three
    * can't give; the price is heuristic recall — a near-dup pair
    * whose keys land > window apart is missed, the method's
    * documented trade-off since '95).
    *
    * Scale shape: the global sort is [[Analytics.rankByRange]]
    * (range-partitioned rank, O(partitions) driver state — never a
    * single-partition window); neighbors resolve through ONE
    * equi-join on rank (each doc explodes its `window` successor
    * ranks); verification is per-pair `array_intersect` on the
    * already-carried sorted token arrays. Deterministic end to end —
    * both engines sort the same total order — so the face is
    * hash-exact despite being approximate-recall. Output:
    * (doc_id_a, doc_id_b, inter, union_sz, jaccard), ids normalized
    * ascending. */
  def sortedNeighborhoodPairs(documents: DataFrame, window: Int = 5,
      threshold: Double = 0.9): DataFrame = {
    val base = documents
      .where(col("text").isNotNull)
      .select(col("doc_id"), expr(
        "array_sort(array_distinct(filter(split(text, ' '), t -> length(t) > 0)))")
        .as("stoks"))
      .where(size(col("stoks")) > 0)
      .select(col("doc_id"), col("stoks"),
        size(col("stoks")).cast("long").as("n"),
        concat_ws(" ", col("stoks")).as("skey"))
    // eager: `r` below is consumed twice (probe explode + join right
    // side) — lazily each consumer re-sorts the stoks-carrying window
    val (ranked, _) = Analytics.rankByRange(base, Seq("n", "skey", "doc_id"),
      eager = true)
    val r = ranked.select(col("doc_id"), col("stoks"), col("n"),
      col("__rank").as("rk"))
    val probes = r.select(col("doc_id").as("doc_id_x"),
      col("stoks").as("stoks_x"), col("n").as("nx"),
      explode(expr(s"transform(sequence(1, $window), o -> rk + o)"))
        .as("rk"))
    probes
      .join(r.select(col("doc_id").as("doc_id_y"),
        col("stoks").as("stoks_y"), col("n").as("ny"), col("rk")),
        Seq("rk"))
      .select(
        least(col("doc_id_x"), col("doc_id_y")).as("doc_id_a"),
        greatest(col("doc_id_x"), col("doc_id_y")).as("doc_id_b"),
        size(array_intersect(col("stoks_x"), col("stoks_y")))
          .cast("long").as("inter"),
        (col("nx") + col("ny")).as("nsum"))
      .withColumn("union_sz", col("nsum") - col("inter"))
      .where(col("inter").cast("double") / col("union_sz").cast("double")
        >= threshold)
      .select(col("doc_id_a"), col("doc_id_b"), col("inter"),
        col("union_sz"),
        expr("""CAST(CAST(CAST(inter AS DOUBLE) / CAST(union_sz AS DOUBLE)
               |  AS DECIMAL(9,6)) AS DOUBLE)""".stripMargin).as("jaccard"))
      .orderBy("doc_id_a", "doc_id_b")
  }

  /** DuckDB replay of [[sortedNeighborhoodPairs]]: `row_number` over
    * the same (n, skey, doc_id) total order replays rankByRange, the
    * window join is a rank-offset join, `list_intersect` counts the
    * set overlap. */
  def sortedNeighborhoodPairsSql(window: Int = 5,
      threshold: Double = 0.9): String =
    s"""WITH sb AS (
       |  SELECT doc_id, list_sort(list_distinct(list_filter(
       |    string_split(text, ' '), t -> length(t) > 0))) AS stoks
       |  FROM documents WHERE text IS NOT NULL),
       |sb2 AS (
       |  SELECT doc_id, stoks, len(stoks)::BIGINT AS n,
       |    array_to_string(stoks, ' ') AS skey
       |  FROM sb WHERE len(stoks) > 0),
       |sr AS (
       |  SELECT doc_id, stoks, n,
       |    row_number() OVER (ORDER BY n, skey, doc_id) AS rk
       |  FROM sb2),
       |sp AS (
       |  SELECT least(a.doc_id, b.doc_id) AS doc_id_a,
       |    greatest(a.doc_id, b.doc_id) AS doc_id_b,
       |    len(list_intersect(a.stoks, b.stoks))::BIGINT AS inter,
       |    (a.n + b.n - len(list_intersect(a.stoks, b.stoks)))::BIGINT
       |      AS union_sz
       |  FROM sr a JOIN sr b
       |    ON b.rk BETWEEN a.rk + 1 AND a.rk + $window)
       |SELECT doc_id_a, doc_id_b, inter, union_sz,
       |  CAST(CAST(CAST(inter AS DOUBLE) / CAST(union_sz AS DOUBLE)
       |    AS DECIMAL(9,6)) AS DOUBLE) AS jaccard
       |FROM sp
       |WHERE CAST(inter AS DOUBLE) / CAST(union_sz AS DOUBLE)
       |  >= $threshold
       |ORDER BY 1, 2""".stripMargin

  /** Shingle CONTAINMENT pairs: `|A∩B| / min(|A|,|B|)` ≥ `threshold` —
    * the asymmetric cousin of [[ngramJaccardPairs]] that catches a
    * short document living inside a long one (quotes, excerpts,
    * boilerplate wrappers), which Jaccard misses because the union in
    * its denominator is dominated by the long side. Same df-capped
    * shingle self-join plan ([[cappedShingles]]/[[shinglePairCounts]]);
    * only the final ratio differs — one double division of exact
    * integers. */
  def containmentPairs(documents: DataFrame, k: Int = 4,
      threshold: Double = 0.7, maxDf: Int = 1000): DataFrame = {
    val (kept, sizes) = cappedShingles(documents, k, maxDf)
    val inter = shinglePairCounts(kept)
    inter
      .join(sizes.toDF("doc_id_a", "na"), Seq("doc_id_a"))
      .join(sizes.toDF("doc_id_b", "nb"), Seq("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"),
        (col("inter").cast("double") /
          least(col("na"), col("nb")).cast("double")).as("containment"))
      .where(col("containment") >= threshold)
      .orderBy("doc_id_a", "doc_id_b")
  }

  def containmentPairsSql(k: Int = 4, threshold: Double = 0.7,
      maxDf: Int = 1000): String =
    s"""WITH ${ngramJaccardCtes(0.0, maxDf)},
       |cont AS (
       |  SELECT doc_id_a, doc_id_b,
       |    CAST(inter AS DOUBLE)
       |      / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE) AS containment
       |  FROM inter
       |  JOIN sizes sa ON doc_id_a = sa.doc_id
       |  JOIN sizes sb ON doc_id_b = sb.doc_id)
       |SELECT doc_id_a, doc_id_b, containment FROM cont
       |WHERE containment >= $threshold
       |ORDER BY 1, 2""".stripMargin

  /** MinHash signature per document as one `array<bigint>` column,
    * computed per-row by the codegen'd
    * [[graft.functions.MinHashSig minhash_sig]] expression — a single
    * scan-side pass, no shingle explosion and no shuffle (the earlier
    * `explode + 64 x min` aggregate formulation shuffled the whole
    * shingle stream and cost ~10 s of one-time Janino compile for the
    * 64-buffer aggregate). */
  def minhashSignatures(documents: DataFrame, k: Int = 4,
      numPerm: Int = 64): DataFrame = {
    graft.functions.Registry.ensure(documents.sparkSession)
    documents
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= k)
      .select(col("doc_id"),
        expr(s"minhash_sig(toks, $k, $numPerm)").as("sig"))
  }

  /** MinHash + LSH near-dup pairs: band the signature (bands x
    * rowsPerBand = numPerm), self-join on band-hash collisions, then
    * verify candidates with exact Jaccard. With 16 bands of 4 rows, a
    * pair at Jaccard j collides with probability 1-(1-j⁴)¹⁶ (≈ 1.0 at
    * j ≥ 0.8) — the linear-cost scale path whose output matches
    * [[ngramJaccardPairs]] on strongly bimodal corpora.
    *
    * Scale shape: signatures and band keys are per-row expressions on
    * the scan (no shuffle); the only shuffled data are the 16-per-doc
    * band keys and the shingle streams of CANDIDATE docs only — the
    * expensive exact-Jaccard verification never touches the full
    * corpus.
    *
    * `maxBucket` is the band twin of the shingle df-cap: a band bucket
    * of b docs contributes O(b²) candidate pairs, so one degenerate
    * bucket (a boilerplate page duplicated millions of times, input
    * that skipped [[dedupExact]]) would quadratically swamp the
    * self-join. Buckets above the cap are dropped — the pairs they
    * would have found are EXACT-duplicate clusters, which belong to
    * the cheaper exact pass anyway (this operator's contract is
    * exact-deduped input; the cap makes violating it degrade to
    * missing-dups instead of a 100 TB job that never finishes). At
    * sane dup rates no bucket approaches the default cap and the
    * output is unchanged. */
  /** Apply the degenerate-bucket cap to a (doc_id, band_hash) stream —
    * and make the drop VISIBLE (the repo's no-silent-caps rule): an
    * `observe` node named `obsName` records `dropped_band_rows` (band
    * rows above the cap) and `capped_buckets` (distinct buckets hit —
    * each of a bucket's b dropped rows contributes 1/b, so the sum is
    * the bucket count) in the query's observed metrics, readable from
    * any `QueryExecutionListener` and shown in the Spark UI. Zero
    * extra jobs: the metric rides the window pass the cap already
    * pays for. A real run can now tell missing-dups (capped_buckets
    * > 0 → re-run the exact pass) from a clean pass. */
  private def capBandBuckets(bandedAll: DataFrame, maxBucket: Int,
      obsName: String): DataFrame =
    bandedAll
      .withColumn("bsize", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band_hash")))
      .observe(obsName,
        sum(when(col("bsize") > maxBucket, lit(1L)).otherwise(lit(0L)))
          .as("dropped_band_rows"),
        round(coalesce(sum(when(col("bsize") > maxBucket,
          lit(1.0) / col("bsize"))), lit(0.0))).cast("bigint")
          .as("capped_buckets"))
      .where(col("bsize") <= maxBucket)
      .drop("bsize")

  def minhashLshPairs(documents: DataFrame, k: Int = 4, numPerm: Int = 64,
      bands: Int = 16, threshold: Double = 0.5,
      maxBucket: Int = 10000): DataFrame = {
    val bandedAll = minhashSignatures(documents, k, numPerm)
      .select(col("doc_id"),
        explode(expr(s"minhash_bands(sig, $bands)")).as("band_hash"))
    // count-filter, not bounded-collect: the bucket members are needed
    // as ROWS for the self-join, so the cap is a windowed count over
    // the same band_hash clustering the join shuffles on anyway
    val banded = capBandBuckets(bandedAll, maxBucket, "dedup_lsh_band_cap")
      // consumed by both sides of the self-join
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candidates = banded.toDF("doc_id_a", "band_hash")
      .join(banded.toDF("doc_id_b", "band_hash_b"),
        col("band_hash") === col("band_hash_b") &&
          col("doc_id_a") < col("doc_id_b"))
      .select("doc_id_a", "doc_id_b").distinct()
      // consumed by the verification join and the candidate-id filter
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // verify with exact Jaccard over shingle sets of candidate docs
    // only: at dedup rates the candidate set is a sliver of the corpus,
    // so the shingling + intersection join stays small no matter the
    // input scale
    // no broadcast hint: candIds scales with corpus size x dup rate
    // (unbounded on a high-dup corpus). Left to AQE, the semi-join is
    // broadcast at runtime when the candidate set is genuinely small
    // and falls back to a shuffle join when it is not — the hint forced
    // broadcast unconditionally and could OOM the driver.
    val candIds = candidates
      .select(explode(array(col("doc_id_a"), col("doc_id_b"))).as("doc_id"))
      .distinct()
    val candDocs = documents.join(candIds, Seq("doc_id"), "leftsemi")
    val sh = shingles(candDocs, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = candidates
      .join(sh.toDF("doc_id_a", "sh_a"), Seq("doc_id_a"))
      .join(sh.toDF("b_id", "sh_b"),
        col("doc_id_b") === col("b_id") && col("sh_a") === col("sh_b"))
      .groupBy(col("doc_id_a"), col("doc_id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.toDF("doc_id_a", "na"), Seq("doc_id_a"))
      .join(sizes.toDF("doc_id_b", "nb"), Seq("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")).as("jaccard"))
      .where(col("jaccard") >= threshold)
      .orderBy("doc_id_a", "doc_id_b")
  }

  /** Incremental near-dup detection — the shape a 100 TB dedup actually
    * runs day to day: the existing corpus is already signed and banded
    * (in production the band keys are a MATERIALIZED index, written
    * bucketed by `band_hash`, so probing it shuffles only the batch
    * side), and each arriving batch is signed once, probed against the
    * index, and checked against itself — the existing corpus is never
    * re-paired with itself. Candidates are verified with exact Jaccard
    * over the candidate documents' shingles only, exactly like
    * [[minhashLshPairs]].
    *
    * Output anchors each verified pair at the NEW document:
    * `(new_id, match_id, jaccard, src)` where `src` says whether the
    * match is an indexed corpus document or an earlier document of the
    * same batch (earlier = smaller doc_id — the keep-first convention,
    * so dropping every `new_id` that appears here leaves the batch
    * dup-free against both the corpus and itself). */
  def incrementalLshPairs(corpus: DataFrame, batch: DataFrame, k: Int = 4,
      numPerm: Int = 64, bands: Int = 16, threshold: Double = 0.5,
      maxBucket: Int = 10000): DataFrame = {
    // same degenerate-bucket cap as [[minhashLshPairs]]: an
    // exact-dup-flooded bucket on EITHER side would multiply into the
    // probe join (|corpus bucket| × |batch bucket| candidate rows)
    val bandCols = (df: DataFrame, obsName: String) => capBandBuckets(
      minhashSignatures(df, k, numPerm)
        .select(col("doc_id"),
          explode(expr(s"minhash_bands(sig, $bands)")).as("band_hash")),
      maxBucket, obsName)
    // the corpus index — at scale this is a pre-materialized table,
    // here recomputed; the batch bands are probed twice (index + self)
    val corpusBands = bandCols(corpus, "dedup_inc_band_cap_corpus")
    val batchBands = bandCols(batch, "dedup_inc_band_cap_batch")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candCorpus = batchBands.toDF("new_id", "band_hash")
      .join(corpusBands.toDF("match_id", "band_hash_b"),
        col("band_hash") === col("band_hash_b"))
      .select(col("new_id"), col("match_id"), lit("corpus").as("src"))
    val candBatch = batchBands.toDF("a_id", "band_hash")
      .join(batchBands.toDF("b_id", "band_hash_b"),
        col("band_hash") === col("band_hash_b") && col("a_id") < col("b_id"))
      .select(col("b_id").as("new_id"), col("a_id").as("match_id"),
        lit("batch").as("src"))
    // corpus and batch ids are disjoint, so a pair carries exactly one
    // src tag and the distinct collapses only multi-band collisions
    val candidates = candCorpus.union(candBatch).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candIds = candidates
      .select(explode(array(col("new_id"), col("match_id"))).as("doc_id"))
      .distinct()
    val candDocs = corpus.unionByName(batch)
      .join(candIds, Seq("doc_id"), "leftsemi")
    val sh = shingles(candDocs, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = candidates
      .join(sh.toDF("new_id", "sh_a"), Seq("new_id"))
      .join(sh.toDF("m_id", "sh_b"),
        col("match_id") === col("m_id") && col("sh_a") === col("sh_b"))
      .groupBy(col("new_id"), col("match_id"), col("src"))
      .agg(count(lit(1)).as("inter"))
    val result = inter
      .join(sizes.toDF("new_id", "na"), Seq("new_id"))
      .join(sizes.toDF("match_id", "nb"), Seq("match_id"))
      .select(col("new_id"), col("match_id"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")).as("jaccard"),
        col("src"))
      .where(col("jaccard") >= threshold)
      .orderBy("new_id", "match_id")
      // eager localCheckpoint: materialize the (small — verified pairs
      // only) result NOW, truncating its lineage off the persisted
      // intermediates so they can be unpersisted here instead of
      // accumulating across foreachBatch micro-batches (Bench's
      // clearCache only covers the bench harness). The checkpoint
      // keeps the sorted partitions, so the ORDER BY survives;
      // executor-local durability is exactly the micro-batch contract
      // this operator is documented for.
      .localCheckpoint()
    batchBands.unpersist()
    candidates.unpersist()
    sh.unpersist()
    result
  }

  /** Bloom-probe face of the gate, exposed for composition and tests:
    * every `batch` row tagged `maybe_known` by a corpus-side Bloom
    * filter over `keyCol`. The filter is ONE map-side-combined
    * aggregate over the corpus producing a single binary blob
    * (`n_bits/8` bytes — ~120 KB at the 100k/1% default, megabytes
    * for a billion keys), collected once at the driver (bounded, like
    * k-means centroids) and shipped back as a literal, so the probe
    * runs scan-side inside codegen with ZERO corpus I/O per batch and
    * zero shuffle. The blob is the standard Spark sketch serialization
    * and can be persisted across jobs — build daily, probe every
    * arriving batch. Both sides hash `xxhash64(keyCol)`, so the two
    * key columns must share a data type. */
  def bloomProbe(corpus: DataFrame, batch: DataFrame, keyCol: String,
      expectedItems: Long = 100000L, fpp: Double = 0.01): DataFrame = {
    val spark = corpus.sparkSession
    graft.functions.Registry.ensure(spark)
    val nBits = math.max(64L, math.ceil(
      -expectedItems.toDouble * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val blob = corpus
      .select(expr(s"bloom_agg(xxhash64($keyCol), ${expectedItems}L, ${nBits}L)"))
      .head.getAs[Array[Byte]](0)
    if (blob == null) batch.withColumn("maybe_known", lit(false))
    else batch.withColumn("maybe_known",
      call_function("bloom_probe", lit(blob), xxhash64(col(keyCol))))
  }

  /** Bloom-filter membership gate — the cheapest incremental-dedup
    * shape at 100 TB: is this batch row's key (a document fingerprint,
    * a user id, a URL) already in the corpus? Semantics are EXACT (the
    * result is value-identical to joining against the corpus —
    * oracle-checked); the Bloom filter is purely the performance
    * layer. Batch rows whose probe says "definitely new" (the
    * overwhelming majority at any realistic dup rate) never shuffle at
    * all; only the maybe-knowns (true members + the ~`fpp` false
    * positives) are confirmed against the distinct corpus key set with
    * semi/anti joins. No-false-negative and FP-bound properties are
    * tested in `DedupSpec`.
    * Output: (keyCol, is_known) for every batch row. */
  def bloomGate(corpus: DataFrame, batch: DataFrame, keyCol: String,
      expectedItems: Long = 100000L, fpp: Double = 0.01): DataFrame = {
    val probed = bloomProbe(corpus, batch, keyCol, expectedItems, fpp)
    val maybes = probed.where(col("maybe_known")).select(col(keyCol))
    val corpusKeys = corpus.select(col(keyCol)).distinct()
    probed.where(!col("maybe_known"))
      .select(col(keyCol), lit(false).as("is_known"))
      .unionAll(maybes.join(corpusKeys, Seq(keyCol), "left_semi")
        .select(col(keyCol), lit(true).as("is_known")))
      .unionAll(maybes.join(corpusKeys, Seq(keyCol), "left_anti")
        .select(col(keyCol), lit(false).as("is_known")))
      .orderBy(keyCol)
  }

  /** Per-document CROSS-document n-gram duplication fraction — the
    * substring-level dup signal of Lee et al., "Deduplicating Training
    * Data Makes Language Models Better" (arXiv 2107.06499): what share
    * of a document's word k-grams also occur in at least one OTHER
    * document? Complements `ngram_repetition` (within-doc) and the
    * pairwise dedup family (whole-doc similarity): a doc can be unique
    * as a whole yet assembled from heavily duplicated passages —
    * boilerplate, licenses, templating — which this surfaces for
    * span-level filtering.
    *
    * Scale shape: one shuffle builds per-shingle document frequency
    * (map-side combined counts — hot boilerplate shingles aggregate,
    * never materialize posting lists), a shingle-keyed join tags each
    * doc's shingles with their df (same key as the df shuffle, so AQE
    * reuses the clustering), and a doc-keyed aggregate closes it.
    * No pair enumeration anywhere — linear in the shingle stream, so
    * the O(df²) blowup of the pairwise path never appears.
    * Output: (doc_id, n_shingles, n_shared, dup_frac). */
  def crossDocNgramDup(documents: DataFrame, k: Int = 4): DataFrame = {
    val sh = shingles(documents, k)
    // distinct per doc, so per-shingle row count == document frequency
    val df = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    sh.join(df, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_shingles").cast("double"))
          .as("dup_frac"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[crossDocNgramDup]]: replay the distinct
    * doc-shingle stream and its document frequencies. */
  def crossDocNgramDupSql(k: Int = 4): String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
      |    generate_subscripts(string_split(text, ' '), 1) AS idx
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT a.doc_id,
      |    a.tok || ' ' || b.tok || ' ' || c.tok || ' ' || d.tok AS shingle
      |  FROM toks a
      |  JOIN toks b ON a.doc_id = b.doc_id AND b.idx = a.idx + 1
      |  JOIN toks c ON a.doc_id = c.doc_id AND c.idx = a.idx + 2
      |  JOIN toks d ON a.doc_id = d.doc_id AND d.idx = a.idx + 3),
      |df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1)
      |SELECT s.doc_id, count(*) AS n_shingles,
      |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
      |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS dup_frac
      |FROM sh s JOIN df USING (shingle)
      |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin

  /** DuckDB oracle for the catalog's [[bloomGate]] face (returning-vs-
    * first-time customers across a date split): exact membership — the
    * gate's bloom layer must be output-invisible. */
  val bloomGateSql: String =
    """SELECT DISTINCT b.o_custkey,
      |  EXISTS(SELECT 1 FROM orders c
      |         WHERE c.o_orderdate < DATE '1996-01-01'
      |           AND c.o_custkey = b.o_custkey) AS is_known
      |FROM orders b WHERE b.o_orderdate >= DATE '1996-01-01'
      |ORDER BY o_custkey""".stripMargin


  /** DuckDB oracle for [[incrementalLshPairs]] with the deterministic
    * `doc_id % batchMod = 0` batch split: exact all-pairs Jaccard
    * restricted to pairs touching the batch, re-anchored at the batch
    * document. Same exact-replay convention as `dedup_minhash_lsh` —
    * the corpus is strongly bimodal, so banded candidates are complete
    * at the implanted-dup similarity level. */
  def incrementalLshPairsSql(threshold: Double = 0.5, maxDf: Int = 1000,
      batchMod: Int = 5): String =
    s"""WITH ${ngramJaccardCtes(threshold, maxDf)}
       |SELECT
       |  CASE WHEN doc_id_b % $batchMod = 0 THEN doc_id_b ELSE doc_id_a END AS new_id,
       |  CASE WHEN doc_id_b % $batchMod = 0 THEN doc_id_a ELSE doc_id_b END AS match_id,
       |  jaccard,
       |  CASE WHEN (CASE WHEN doc_id_b % $batchMod = 0 THEN doc_id_a ELSE doc_id_b END)
       |         % $batchMod = 0
       |       THEN 'batch' ELSE 'corpus' END AS src
       |FROM pairs
       |WHERE doc_id_a % $batchMod = 0 OR doc_id_b % $batchMod = 0
       |ORDER BY 1, 2""".stripMargin

  /** 64-bit SimHash fingerprint per document: weighted bit-majority of
    * token hashes (weight = term frequency), computed per-row by the
    * codegen'd [[graft.functions.SimHashDoc simhash64]] kernel — tf
    * weighting is one vote per token instance, so the whole fingerprint
    * is a single scan-side pass with NO shuffle (the aggregate
    * formulation shuffled the token stream twice). Tie (sum == 0) sets
    * the bit; bit-identical to `simhash_agg(poly_hash62(tok), tf)`,
    * which remains the incremental/streaming face. Token hashes are
    * the engine-portable poly_hash62, so the whole fingerprint is
    * replayed exactly by the DuckDB oracle. */
  def simhash(documents: DataFrame): DataFrame = {
    graft.functions.Registry.ensure(documents.sparkSession)
    documents
      .select(col("doc_id"),
        expr("simhash64(split(text, ' '))").as("simhash"))
      .orderBy("doc_id")
  }

  /** SimHash near-dup pairs: 8 bands of 8 bits as LSH keys, verify with
    * exact hamming distance (`bit_count(xor)`) ≤ maxHamming. */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sh = simhash(documents)
    val banded = sh.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(7))).as("band_idx"))
      .withColumn("band_val",
        expr("shiftright(simhash, CAST(band_idx AS INT) * 8) & 255"))
    val cand = banded.toDF("doc_id_a", "simhash_a", "band_idx", "band_val")
      .join(banded.toDF("doc_id_b", "simhash_b", "band_idx_b", "band_val_b"),
        col("band_idx") === col("band_idx_b") &&
          col("band_val") === col("band_val_b") &&
          col("doc_id_a") < col("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"),
        bit_count(col("simhash_a").bitwiseXOR(col("simhash_b")))
          .as("hamming"))
      .distinct()
    cand.where(col("hamming") <= maxHamming)
      .orderBy("doc_id_a", "doc_id_b")
  }

  /** DuckDB replay of [[simhashPairs]]: poly_hash62 per token, the
    * 64-counter bit-majority as a (doc, bit) group-by (only bits 0-61
    * — poly_hash62's top two bits are always 0, so their counters are
    * always negative and never set), then ALL pairs at hamming ≤
    * maxHamming. No banding needed: with 8 bands and maxHamming ≤ 3,
    * pigeonhole makes the banded candidate set complete, so the Spark
    * plan's bands are purely a pruning optimization and the oracle can
    * take the direct quadratic route at oracle scale. */
  def simhashPairsSql(maxHamming: Int = 3): String = {
    val tokFold = (base: Int) =>
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(1, length(tok) + 1),
         |        j -> CAST(unicode(substr(tok, CAST(j AS INT), 1)) AS BIGINT))),
         |      (a, x) -> (a * $base + x) % 2147483647)""".stripMargin
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
       |       FROM toks GROUP BY 1, 2),
       |th AS (
       |  SELECT doc_id, tf,
       |    ${tokFold(131)}
       |    | (${tokFold(137)} << 31) AS h
       |  FROM tf),
       |bits AS (
       |  SELECT doc_id, CAST(b.bit AS INT) AS bit,
       |    sum(CASE WHEN (h >> CAST(b.bit AS INT)) & 1 = 1 THEN tf ELSE -tf END) AS c
       |  FROM th CROSS JOIN (SELECT unnest(range(0, 62)) AS bit) b
       |  GROUP BY 1, 2),
       |sh AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN c >= 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
       |      AS BIGINT) AS simhash
       |  FROM bits GROUP BY 1)
       |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming
       |ORDER BY 1, 2""".stripMargin
  }

  /** Connected components over an undirected edge list: returns
    * `(id, component)` where `component` is the minimum node id
    * reachable from `id` — the canonical cluster representative a
    * dedup pipeline keeps.
    *
    * Iterative min-label propagation: each round every node takes the
    * minimum label over itself and its neighbors; converges in
    * O(component diameter) rounds. Near-dup clusters are shallow
    * (diameter ≤ a few hops — a dup cluster is near-clique by
    * construction), so the round count stays small even on a 100 TB
    * corpus. For adversarially long chains, propagation is BOUNDED:
    * after `starFallbackAfter` non-converged rounds it abandons the
    * partial labels and re-solves with [[connectedComponentsStar]]
    * (alternating large-star/small-star, O(log² n) rounds — Kiveris
    * et al., "Connected Components in MapReduce and Beyond"), so a
    * pathological dup-chain degrades a 100 TB run to the log² path
    * instead of stalling it at diameter rounds. Star contraction is
    * not the default because on the COMMON shallow graphs it costs
    * ~2× the shuffles per round of plain propagation.
    *
    * Each round is one shuffle join (edges ⋈ labels, both hash-
    * partitioned on the same key so AQE reuses the exchange) plus a
    * min-aggregate. `localCheckpoint` truncates lineage per round —
    * without it the plan doubles every iteration and the convergence
    * `count()` re-executes the whole chain.
    *
    * Below `localEdgeThreshold` bidirectional edges the whole graph is
    * collected and solved with driver-side union-find instead — the
    * same small-side reasoning as a broadcast join (the default, 4M
    * edges ≈ 64 MB, is driver-trivial), and it replaces diameter×
    * 2-job rounds with one collect. Set it to 0 to force the
    * distributed path. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 25, localEdgeThreshold: Long = 1L << 22,
      starFallbackAfter: Int = 15): DataFrame = {
    val spark = edges.sparkSession
    // checkpoint the one-directional list FIRST: `union(e, e.swapped)`
    // references `edges` twice, and a union recomputes each branch's
    // upstream — for a pair pipeline feeding this, that would double
    // the dominant cost. Both directions then read the checkpoint.
    val e1 = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .localCheckpoint()
    val bidir = e1.union(e1.select(col("dst").as("src"), col("src").as("dst")))
    // Small-graph fast path — the broadcast-join call, applied to graphs:
    // near-dup edge lists are proportional to the DUPLICATE count, not
    // the corpus, and usually fit on the driver with room to spare. One
    // collect + union-find replaces diameter× (join + agg + count)
    // rounds; the distributed path below stays the ≥threshold route.
    if (e1.count() * 2 <= localEdgeThreshold) {
      val pairs = bidir
        .as[(Long, Long)](org.apache.spark.sql.Encoders.product[(Long, Long)])
        .collect()
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x // path compression
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      pairs.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { // union by min: root IS the representative
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      val rows = parent.keys.toSeq.sorted.map(idv => (idv, find(idv)))
      import spark.implicits._
      return rows.toDF("id", "component")
    }
    var labels = bidir.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .localCheckpoint()
    var iter = 0
    var changed = 1L
    val propagationCap = math.min(maxIter, starFallbackAfter)
    while (changed > 0 && iter < propagationCap) {
      val nbr = bidir.join(labels, bidir("src") === labels("id"))
        .select(col("dst").as("id"), col("label"))
      val stepped = nbr.union(labels)
        .groupBy("id").agg(min("label").as("next_label"))
        .join(labels.withColumnRenamed("label", "prev_label"), "id")
        .localCheckpoint()
      changed = stepped
        .where(col("next_label") =!= col("prev_label")).count()
      labels = stepped.select(col("id"), col("next_label").as("label"))
      iter += 1
    }
    if (changed > 0) connectedComponentsStar(e1, "src", "dst")
    else labels.select(col("id"), col("label").as("component"))
  }

  /** Connected components via the ALTERNATING star algorithm (Kiveris
    * et al. 2014): converges in O(log² n) rounds regardless of
    * component diameter — the bounded-round path a pathological graph
    * falls back to.
    *
    *  - large-star: per node u, hook every LARGER neighbor to
    *    m = min(N(u) ∪ {u});
    *  - small-star: orient edges large→small, then per node u hook u
    *    and its (all smaller) neighbors to their minimum.
    *
    * Both steps are one shuffle each (groupBy + join on the node id)
    * and strictly never increase the edge count past the input's; each
    * round `localCheckpoint`s to truncate lineage. Convergence = the
    * small-star output is a fixpoint (edge multiset unchanged —
    * checked by count + order-insensitive hash signature, then the
    * star-forest shape is verified structurally: every src maps to
    * exactly one root and no root is itself a src). */
  def connectedComponentsStar(edges: DataFrame, srcCol: String,
      dstCol: String, maxIter: Int = 32): DataFrame = {
    def largeStar(e: DataFrame): DataFrame = {
      val bidir = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val m = bidir.groupBy("src")
        .agg(least(min("dst"), first("src")).as("m"))
      bidir.join(m, "src")
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(greatest(col("src"), col("dst")).as("u"),
          least(col("src"), col("dst")).as("v"))
        .where(col("u") =!= col("v")).distinct()
      val m = oriented.groupBy("u").agg(min("v").as("m"))
      val hookNbrs = oriented.join(m, "u")
        .select(col("v").as("src"), col("m").as("dst"))
      val hookSelf = m.select(col("u").as("src"), col("m").as("dst"))
      hookNbrs.union(hookSelf)
        .where(col("src") =!= col("dst")).distinct()
    }
    // order-insensitive SET signature: edge lists here are distinct(),
    // so xor of per-edge hashes identifies the set (no ANSI overflow,
    // unlike sum)
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var cur = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint()
    var sig = signature(cur)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(cur)).localCheckpoint()
      val nextSig = signature(next)
      converged = nextSig == sig
      sig = nextSig
      cur = next
      iter += 1
    }
    require(converged, s"star contraction did not converge in $maxIter rounds")
    // structural star-forest check (guards the probabilistic signature):
    // each src appears once, and no dst is also a src
    require(cur.groupBy("src").count().where(col("count") > 1).isEmpty &&
      cur.select("dst").distinct()
        .join(cur.select(col("src")), col("dst") === col("src")).isEmpty,
      "star contraction fixpoint is not a star forest")
    val roots = cur.select(col("dst")).distinct()
      .select(col("dst").as("id"), col("dst").as("component"))
    cur.select(col("src").as("id"), col("dst").as("component"))
      .union(roots)
  }

  /** Near-dup clustering: exact n-gram Jaccard pairs →
    * [[connectedComponents]] → per-document cluster assignment over the
    * WHOLE corpus (singletons are their own cluster). `is_dup = 1`
    * marks the rows a dedup pass drops (cluster member that is not the
    * minimum-id representative) — the step that turns pairwise
    * similarity output into an actionable keep/drop list. */
  def dedupClusters(documents: DataFrame, k: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val pairs = ngramJaccardPairs(documents, k, threshold)
    val comp = connectedComponents(pairs, "doc_id_a", "doc_id_b")
    documents.select(col("doc_id"))
      .join(comp, col("doc_id") === col("id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"))
      .withColumn("is_dup",
        (col("doc_id") =!= col("cluster_id")).cast("bigint"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[dedupClusters]]: transitive closure via
    * recursive CTE (min reachable id == component representative). */
  def dedupClustersSql(k: Int = 4, threshold: Double = 0.5,
      maxDf: Int = 1000): String =
    s"""WITH RECURSIVE ${ngramJaccardCtes(threshold, maxDf)},
       |edges AS (
       |  SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
       |  UNION SELECT doc_id_b, doc_id_a FROM pairs),
       |reach AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |lbl AS (
       |  SELECT src AS id, least(src, min(dst)) AS component
       |  FROM reach GROUP BY src)
       |SELECT d.doc_id,
       |  coalesce(l.component, d.doc_id) AS cluster_id,
       |  CAST(d.doc_id <> coalesce(l.component, d.doc_id) AS BIGINT) AS is_dup
       |FROM documents d LEFT JOIN lbl l ON d.doc_id = l.id
       |ORDER BY d.doc_id""".stripMargin

  /** Quality-aware canonical selection: [[dedupClusters]] groups
    * near-dups, then each cluster keeps its HIGHEST-QUALITY member
    * instead of the smallest id — the policy a training pipeline
    * actually wants (near-dup groups usually contain one clean copy
    * and n-1 truncated/mangled ones). Quality here is the distinct-
    * token count (integer — deterministic, engine-portable); ties
    * break to the smaller doc_id. Output `(doc_id, cluster_id, q,
    * keep)`.
    *
    * Scale shape: inherits the banded candidate join + label
    * propagation of [[dedupClusters]]; the keeper choice adds one
    * aggregation clustered by `cluster_id` — the same key the
    * component labels already carry. */
  def dedupKeepBest(documents: DataFrame, k: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = dedupClusters(documents, k, threshold)
      .select(col("doc_id"), col("cluster_id"))
    val quality = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id")
      .agg(countDistinct(col("tok")).as("q"))
    clusters.join(quality, Seq("doc_id"))
      .withColumn("keep", (row_number().over(
        Window.partitionBy(col("cluster_id"))
          .orderBy(col("q").desc, col("doc_id"))) === 1).cast("bigint"))
      .select(col("doc_id"), col("cluster_id"), col("q"), col("keep"))
      .orderBy("doc_id")
  }

  def dedupKeepBestSql(k: Int = 4, threshold: Double = 0.5,
      maxDf: Int = 1000): String =
    s"""WITH RECURSIVE ${ngramJaccardCtes(threshold, maxDf)},
       |edges AS (
       |  SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
       |  UNION SELECT doc_id_b, doc_id_a FROM pairs),
       |reach AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |lbl AS (
       |  SELECT src AS id, least(src, min(dst)) AS component
       |  FROM reach GROUP BY src),
       |cl AS (
       |  SELECT d.doc_id, coalesce(l.component, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.id),
       |q AS (
       |  SELECT doc_id, count(DISTINCT tok)::BIGINT AS q
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |        FROM documents) GROUP BY 1)
       |SELECT c.doc_id, c.cluster_id, q.q,
       |  CAST(row_number() OVER (PARTITION BY c.cluster_id
       |    ORDER BY q.q DESC, c.doc_id) = 1 AS BIGINT) AS keep
       |FROM cl c JOIN q USING (doc_id)
       |ORDER BY c.doc_id""".stripMargin

  /** Exact substring-span REMOVAL (the harder sibling of
    * [[crossDocNgramDup]]'s scoring): any `k`-token span occurring at
    * least `minCount` times in the corpus — within or across documents,
    * Lee et al. 2107.06499's ExactSubstr criterion at token
    * granularity — is cut from every document it covers, and the
    * cleaned text is reconstructed from the surviving tokens. Returns
    * `(doc_id, n_tokens, n_removed, kept_md5)` — counts plus the MD5 of
    * the cleaned text (both engines must agree on every surviving
    * byte), with `md5('')` for fully-removed documents.
    *
    * Scale shape — linear, never pairwise:
    *  - spans hash to 16-byte MD5s BEFORE the shuffle (the exchange
    *    carries fingerprints, not text);
    *  - occurrence counting is one window over the span hash (a single
    *    corpus-sized shuffle, no join-back: the count rides the same
    *    exchange the grouping would);
    *  - covered positions fold per document (second shuffle, doc-keyed)
    *    and the reconstruction is per-row array work — position
    *    filtering is O(n·cov) per doc, bounded by document length,
    *    never by corpus size. */
  def spanRemoval(documents: DataFrame, k: Int = 8,
      minCount: Long = 2L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = documents.select(col("doc_id"), split(col("text"), " ").as("toks"))
    val grams = d
      .where(size(col("toks")) >= k)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("toks")) - (k - 1))).as("pos"),
        col("toks"))
      .select(col("doc_id"), col("pos"),
        md5(expr(s"concat_ws(' ', slice(toks, pos, $k))")).as("g"))
    val dupStarts = grams
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("g"))))
      .where(col("cnt") >= minCount)
      .select(col("doc_id"), col("pos"))
    val covered = dupStarts
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("cp"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("cp")).as("cov"))
    d.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        coalesce(size(col("cov")), lit(0)).cast("long").as("n_removed"),
        md5(concat_ws(" ", expr(
          """filter(zip_with(toks, sequence(1, size(toks)), (t, i) ->
            |  struct(t AS tok, i AS pos)),
            |  s -> NOT array_contains(coalesce(cov, array()), s.pos)).tok"""
            .stripMargin))).as("kept_md5"))
      .orderBy("doc_id")
  }

  def spanRemovalSql(k: Int = 8, minCount: Long = 2L): String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g AS (
       |  SELECT doc_id, i AS pos,
       |    md5(array_to_string(toks[i:i + $k - 1], ' ')) AS g
       |  FROM d, LATERAL unnest(range(1, len(toks) - $k + 2)) AS t (i)
       |  WHERE len(toks) >= $k),
       |ds AS (
       |  SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS cnt FROM g)
       |  WHERE cnt >= $minCount),
       |cov AS (
       |  SELECT DISTINCT doc_id, pos + o AS cp
       |  FROM ds, LATERAL unnest(range(0, $k)) AS t (o)),
       |tok AS (
       |  SELECT doc_id, i AS pos, toks[i] AS tok
       |  FROM d, LATERAL unnest(range(1, len(toks) + 1)) AS t (i)),
       |kept AS (
       |  SELECT t.doc_id, t.pos, t.tok
       |  FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.cp
       |  WHERE c.cp IS NULL),
       |r AS (
       |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS cleaned
       |  FROM kept GROUP BY doc_id),
       |cnts AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_removed FROM cov GROUP BY 1)
       |SELECT d.doc_id, len(d.toks)::BIGINT AS n_tokens,
       |  coalesce(c.n_removed, 0)::BIGINT AS n_removed,
       |  md5(coalesce(r.cleaned, '')) AS kept_md5
       |FROM d LEFT JOIN r USING (doc_id) LEFT JOIN cnts c USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** Corpus-level exact LINE dedup — the natural-granularity sibling of
    * [[spanRemoval]]: segment every document into lines, keep only the
    * FIRST occurrence of each distinct line corpus-wide (ordered by
    * `(doc_id, line_id)`), and rebuild each document from its surviving
    * lines. This is the line-wise deduplication step of
    * RefinedWeb-style web pipelines (Penedo et al., arXiv 2306.01116)
    * and the line-granularity complement of C4's repeated-span rule
    * (Raffel et al., arXiv 1910.10683 §2.2 dedupe three-sentence
    * spans): boilerplate lines (nav bars, cookie banners, footers)
    * repeat across millions of pages and are removed everywhere but
    * their first sighting.
    *
    * The fixture text has no newlines, so lines are rendered
    * DETERMINISTICALLY from content: a line breaks after token `t`
    * whenever `poly_hash62('ld:' || t) % 4 == 0` (mean line ≈ 4
    * words). Content-keyed breaks mean identical word runs segment
    * identically in EVERY document — exactly the property sentence
    * segmentation has on natural text, and what makes cross-document
    * collisions (the thing being measured) possible. The oracle
    * replays the same fold, so the compare stays hash-exact.
    *
    * Scale shape — [[spanRemoval]]'s two-exchange pattern:
    *  - line assembly is ONE forward fold inside the scan (no shuffle,
    *    stays in whole-stage codegen);
    *  - first-occurrence marking is one `row_number` window keyed by
    *    the line itself (a single corpus-sized exchange; each
    *    partition is one dup group, bounded by a line's multiplicity,
    *    never by corpus size — no join-back, the rank rides the same
    *    exchange a groupBy would);
    *  - the rebuild is one doc-keyed regroup with a sorted
    *    `collect_list`, bounded per document.
    *
    * Output: `(doc_id, n_lines, n_kept, n_dup, kept_md5)` — per-doc
    * line counts, surviving-line count, removed-duplicate count, and
    * the MD5 of the kept text (newline-joined, in line order;
    * `md5('')` for fully-deduplicated documents). NULL-text rows are
    * dropped in both engines (the [[Corpus.spanCorruption]]
    * convention). */
  /** The deterministic content-keyed line segmentation shared by
    * [[lineDedup]] and [[Corpus.nspPairs]]: a forward fold over `toks`
    * that closes a line after any token whose `poly_hash62('ld:' || t)`
    * is ≡ 0 (mod 4), flushing the trailing partial line. Content-keyed
    * breaks segment identical word runs identically in every document
    * — the property natural sentence boundaries have. */
  private[operators] val contentLinesExpr: String =
    """aggregate(toks,
      |  named_struct('ls', CAST(array() AS ARRAY<STRING>),
      |               'cur', CAST(array() AS ARRAY<STRING>)),
      |  (acc, t) -> CASE
      |    WHEN pmod(poly_hash62(concat('ld:', t)), 4) = 0
      |    THEN named_struct(
      |      'ls', array_append(acc.ls,
      |        array_join(array_append(acc.cur, t), ' ')),
      |      'cur', CAST(array() AS ARRAY<STRING>))
      |    ELSE named_struct('ls', acc.ls,
      |      'cur', array_append(acc.cur, t)) END,
      |  acc -> CASE WHEN size(acc.cur) > 0
      |    THEN array_append(acc.ls, array_join(acc.cur, ' '))
      |    ELSE acc.ls END)""".stripMargin

  /** The DuckDB CTE chain replaying [[contentLinesExpr]] over the
    * `documents` table: `(doc_id, line_id, l)` as CTE `line`. */
  private[operators] def contentLinesCtes(fold: Int => String): String =
    s"""d AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |  WHERE text IS NOT NULL),
       |tok AS (
       |  SELECT doc_id, i AS pos, toks[i] AS tok, 'ld:' || toks[i] AS key
       |  FROM d, LATERAL unnest(range(1, len(toks) + 1)) AS t (i)),
       |hb AS (
       |  SELECT doc_id, pos, tok,
       |    (${fold(131)} | (${fold(137)} << 31)) % 4 = 0 AS brk
       |  FROM tok),
       |lid AS (
       |  SELECT *, coalesce(sum(CASE WHEN brk THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY doc_id ORDER BY pos
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS line_id
       |  FROM hb),
       |line AS (
       |  SELECT doc_id, line_id, string_agg(tok, ' ' ORDER BY pos) AS l
       |  FROM lid GROUP BY 1, 2)""".stripMargin

  /** The char-fold DuckDB construction of `poly_hash62`'s two 31-bit
    * lanes over an arbitrary column (the [[simhashPairsSql]]
    * construction). Every SQL oracle that replays `poly_hash62` must
    * build its folds HERE so the replay can never drift from the
    * Spark-side expression one operator at a time. */
  private[operators] def polyFoldOver(column: String)(base: Int): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, length($column) + 1),
       |        j -> CAST(unicode(substr($column, CAST(j AS INT), 1)) AS BIGINT))),
       |      (a, x) -> (a * $base + x) % 2147483647)""".stripMargin

  /** [[polyFoldOver]] specialized to the conventional `key` column. */
  private[operators] val polyFold: Int => String = polyFoldOver("key")

  /** The full 62-bit `poly_hash62` replay over a column named `key`:
    * `lane(131) | lane(137) << 31`. */
  private[operators] val polyHash62Sql: String =
    s"(${polyFold(131)} | (${polyFold(137)} << 31))"

  /** WITHIN-document line dedup — the boilerplate cleaner that
    * [[lineDedup]] (corpus-wide) is not: inside each document, keep
    * only the FIRST occurrence of every repeated
    * [[contentLinesExpr]] line and rebuild the cleaned text (repeated
    * headers/footers/menus inside one crawled page are the classic
    * case; corpus-wide line dedup must shuffle on line content, but
    * the within-doc variant needs NO shuffle at all). One per-row
    * fold carrying the kept-lines array (O(lines²) membership checks,
    * bounded per document); runs at scan speed on 100 TB. Output:
    * (doc_id, n_lines, n_kept, cleaned_md5) — md5 of the
    * space-joined surviving lines in first-occurrence order. */
  def withinDocLineDedup(documents: DataFrame): DataFrame = {
    graft.functions.Registry.ensure(documents.sparkSession)
    documents
      .where(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("lines", expr(contentLinesExpr))
      .select(col("doc_id"), size(col("lines")).cast("long").as("n_lines"),
        expr(
          """aggregate(lines, CAST(array() AS ARRAY<STRING>),
            |  (acc, l) -> IF(array_contains(acc, l), acc,
            |                 array_append(acc, l)))""".stripMargin)
          .as("kept"))
      .select(col("doc_id"), col("n_lines"),
        size(col("kept")).cast("long").as("n_kept"),
        md5(array_join(col("kept"), " ")).as("cleaned_md5"))
      .orderBy("doc_id")
  }

  /** DuckDB replay of [[withinDocLineDedup]]: the shared line CTEs;
    * first occurrence = min(line_id) per (doc, line content); rebuild
    * in first-occurrence order. */
  def withinDocLineDedupSql(): String =
    s"""WITH ${contentLinesCtes(polyFold)},
       |wnl AS (SELECT doc_id, count(*) AS n_lines FROM line GROUP BY 1),
       |wk AS (
       |  SELECT doc_id, l, min(line_id) AS first_id
       |  FROM line GROUP BY 1, 2),
       |wc AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_kept,
       |    md5(string_agg(l, ' ' ORDER BY first_id)) AS cleaned_md5
       |  FROM wk GROUP BY 1)
       |SELECT n.doc_id, n.n_lines::BIGINT AS n_lines, c.n_kept,
       |  c.cleaned_md5
       |FROM wnl n JOIN wc c USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  def lineDedup(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.Registry.ensure(documents.sparkSession)
    val lines = documents
      .where(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("lines", expr(contentLinesExpr))
      .select(col("doc_id"), posexplode(col("lines")))
      .toDF("doc_id", "line_id", "l")
    lines
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("l")).orderBy(col("doc_id"), col("line_id"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dup"),
        md5(array_join(expr(
          """transform(
            |  filter(sort_array(collect_list(struct(line_id, rn, l))),
            |         s -> s.rn = 1),
            |  s -> s.l)""".stripMargin), "\n")).as("kept_md5"))
      .orderBy("doc_id")
  }

  /** DuckDB replay of [[lineDedup]]: identical poly_hash62 content
    * fold (the [[simhashPairsSql]] char-fold construction), line ids
    * via a prefix-count window, first-occurrence rank via the same
    * `row_number`, ordered `string_agg` rebuild. */
  def lineDedupSql(): String =
    s"""WITH ${contentLinesCtes(polyFold)},
       |mk AS (
       |  SELECT doc_id, line_id, l,
       |    row_number() OVER (PARTITION BY l ORDER BY doc_id, line_id) AS rn
       |  FROM line)
       |SELECT doc_id, count(*)::BIGINT AS n_lines,
       |  sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       |  sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup,
       |  md5(coalesce(string_agg(CASE WHEN rn = 1 THEN l END,
       |    chr(10) ORDER BY line_id), '')) AS kept_md5
       |FROM mk GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Exact-substring deduplication (Lee et al., ACL'22 §4.1 — the
    * ExactSubstr method): every maximal token span whose every
    * `l`-token shingle occurs ≥ 2 times ANYWHERE in the corpus
    * (within-doc repeats count, as in the paper's suffix-array
    * formulation). A substring duplicated verbatim is exactly a run
    * of duplicated shingles, so the spans lower-bound the paper's
    * ≥ l-token duplicated substrings; unlike the MinHash/SimHash
    * faces (document-level, approximate) this flags the duplicated
    * REGION — the grain a training pipeline actually cuts.
    *
    * Spark-first shape, where the reference method is a monolithic
    * suffix array that cannot shard: (1) one scan emitting a
    * per-position shingle hash via the O(chars) codegen'd
    * prefix-hash kernel ([[graft.functions.TokenShingleHashes]] —
    * NOT the naive O(chars·l) refold); (2) ONE corpus-wide
    * (hash → df) aggregate — map-side combined, the only
    * corpus-proportional shuffle; (3) an equi-join of positions
    * against the df ≥ 2 hashes (broadcast-eligible when duplication
    * is sparse); (4) per-DOC interval merge of surviving positions
    * (lag/sum windows partitioned by doc_id — never a global
    * window). Every stage shards; nothing is driver-sized.
    *
    * Output: (doc_id, span_start, span_end, span_tokens, n_shingles)
    * — token-index half-open [start, end), one row per maximal
    * merged span, ordered by (doc_id, span_start). */
  def exactSubstrSpans(documents: DataFrame, l: Int = 16): DataFrame = {
    val sh = shinglePositions(documents, l)
    val dupHashes = sh.groupBy(col("sh"))
      .agg(count(lit(1)).as("df"))
      .where(col("df") >= 2)
      .select(col("sh"))
    mergeIslands(sh.join(dupHashes, Seq("sh")), l)
  }

  /** The (doc_id, pos, sh) shingle-position stream — the shared scan
    * of every exact-substr face. */
  private def shinglePositions(documents: DataFrame, l: Int): DataFrame = {
    require(l >= 2, s"need shingle length l >= 2, got $l")
    graft.functions.Registry.ensure(documents.sparkSession)
    documents
      .where(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(expr(s"token_shingle_hashes(text, $l)")))
      .toDF("doc_id", "pos", "sh")
  }

  /** Interval-merge of duplicated positions into maximal spans — the
    * shared tail of every exact-substr face ([[exactSubstrSpans]] and
    * [[exactSubstrIncremental]] can never disagree on merge
    * semantics). Doc-partitioned windows only. */
  private def mergeIslands(dup: DataFrame, l: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dup
      // positions p_prev, p overlap-or-touch as l-token spans iff
      // p − p_prev ≤ l; a NULL lag (first position in the doc) falls
      // to the ELSE arm and opens an island in both engines
      .withColumn("ni",
        when(col("pos") - lag(col("pos"), 1).over(w) <= l, 0L).otherwise(1L))
      .withColumn("island", sum(col("ni")).over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + l).cast("long").as("span_end"),
        count(lit(1)).as("n_shingles"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"),
        col("n_shingles"))
      .orderBy("doc_id", "span_start")
  }

  /** Incremental ExactSubstr — the production shape at 100 TB, where
    * the corpus is NEVER re-paired: an arriving batch's duplicated
    * spans against corpus ∪ batch, with the corpus touched only as
    * its (shingle hash → df) aggregate. A batch shingle is duplicated
    * iff its batch count plus its corpus df reaches 2 — exactly the df the
    * full-corpus face computes, so the result is VALUE-IDENTICAL to
    * `exactSubstrSpans(corpus ∪ batch)` restricted to batch docs
    * (asserted in DedupSpec; the catalog face's oracle replays the
    * full computation and filters). Batch-side work is batch-sized:
    * two shuffles on sh (the batch count + the probe join) and the
    * doc-partitioned merge windows. */
  def exactSubstrIncremental(corpus: DataFrame, batch: DataFrame,
      l: Int = 16): DataFrame = {
    val dfC = shinglePositions(corpus, l).groupBy(col("sh"))
      .agg(count(lit(1)).as("df_c"))
    // batch positions + batch shingle counts, left join onto the
    // corpus (sh, df_c) side, keep sh with df_b + df_c ≥ 2
    val shB = shinglePositions(batch, l)
    val dupB = shB.groupBy(col("sh")).agg(count(lit(1)).as("df_b"))
      .join(dfC, Seq("sh"), "left")
      .where(col("df_b") + coalesce(col("df_c"), lit(0L)) >= 2)
      .select(col("sh"))
    mergeIslands(shB.join(dupB, Seq("sh")), l)
  }

  /** DuckDB replay of [[exactSubstrSpans]]: per-position shingle
    * strings via `list_slice` + `array_to_string` (splitting on ' '
    * and rejoining with ' ' is lossless, so the reconstruction IS
    * the original substring the Scala kernel prefix-hashes), the
    * identical double poly fold, df ≥ 2, and the same lag/sum
    * interval merge. */
  def exactSubstrSpansSql(l: Int = 16): String =
    s"""WITH ${exactSubstrCtes(l)}
       |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       |  CAST(max(pos) + $l AS BIGINT) AS span_end,
       |  CAST(max(pos) + $l - min(pos) AS BIGINT) AS span_tokens,
       |  CAST(count(*) AS BIGINT) AS n_shingles
       |FROM isl2 GROUP BY doc_id, island
       |ORDER BY doc_id, span_start""".stripMargin

  /** DuckDB replay of the `dedup_exact_substr_incremental` face: the
    * incremental result is value-identical to the full-corpus spans
    * restricted to batch docs (df over corpus ∪ batch either way), so
    * the oracle is the SAME CTE body with the batch predicate applied
    * at the end — the strongest possible check that the
    * index-probe path computes what the monolithic pass computes. */
  def exactSubstrIncrementalSql(l: Int = 16): String =
    s"""WITH ${exactSubstrCtes(l)}
       |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       |  CAST(max(pos) + $l AS BIGINT) AS span_end,
       |  CAST(max(pos) + $l - min(pos) AS BIGINT) AS span_tokens,
       |  CAST(count(*) AS BIGINT) AS n_shingles
       |FROM isl2 WHERE doc_id % 5 = 0 GROUP BY doc_id, island
       |ORDER BY doc_id, span_start""".stripMargin

  /** The shared CTE body: per-position shingle hashes (the identical
    * double poly fold the Scala kernel prefix-hashes), df ≥ 2, and
    * the lag/sum interval merge, ending in
    * `isl2(doc_id, pos, island)`. */
  private def exactSubstrCtes(l: Int): String = {
    def fold(base: Int): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(1, length(s) + 1),
         |        j -> CAST(unicode(substr(s, CAST(j AS INT), 1)) AS BIGINT))),
         |      (a, x) -> (a * $base + x) % 2147483647)""".stripMargin
    s"""tk AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |  WHERE text IS NOT NULL),
       |pos AS (
       |  SELECT doc_id, toks, unnest(range(0, len(toks) - $l + 1)) AS pos
       |  FROM tk WHERE len(toks) >= $l),
       |sg AS (
       |  SELECT doc_id, pos,
       |    array_to_string(list_slice(toks, pos + 1, pos + $l), ' ') AS s
       |  FROM pos),
       |g AS (
       |  SELECT doc_id, pos, ${fold(131)} | (${fold(137)} << 31) AS sh
       |  FROM sg),
       |dups AS (SELECT sh FROM g GROUP BY sh HAVING count(*) >= 2),
       |d AS (SELECT g.doc_id, g.pos FROM g JOIN dups USING (sh)),
       |isl AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
       |           <= $l THEN 0 ELSE 1 END AS ni
       |  FROM d),
       |isl2 AS (
       |  SELECT doc_id, pos,
       |    sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM isl)""".stripMargin
  }
}
