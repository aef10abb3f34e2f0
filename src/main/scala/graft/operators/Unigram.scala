package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer training (Kudo, arXiv 1804.10959 — the
  * SentencePiece algorithm family), in its deterministic hard-EM form:
  * seed a large candidate piece inventory from frequent substrings,
  * then alternate Viterbi segmentation of the WORD TABLE under current
  * piece log-probs (E) with count re-estimation and bottom-fraction
  * pruning (M) until the vocabulary reaches its target size. The
  * second tokenizer trainer beside [[TextAnalysis.bpeTrain]] — BPE
  * grows a vocab bottom-up by merges, unigram-LM shrinks one top-down
  * by likelihood.
  *
  * Scale design (the [[TextAnalysis.bpeTrain]] discipline): the corpus
  * is touched ONCE to build the word-frequency table; every EM round
  * runs over that bounded table with the model BROADCAST to it —
  * per-round driver state is the vocabulary itself (model-sized, like
  * k-means centroids or the classifier's weights), and the only
  * per-round shuffle is the piece-count aggregate (vocab-sized).
  * Encoding a corpus is one equi-join of its words against the final
  * word→pieces map — the same read-time shape as [[TextAnalysis.bpeEncode]].
  *
  * Determinism: Viterbi ties break toward the LONGER first piece, count
  * ties in pruning break lexicographically, and log-probs are quantized
  * to 1e-9 — identical vocab on any partitioning or rerun.
  */
object Unigram {

  /** Viterbi segmentation of `word` under `lp` (piece → log-prob).
    * Single characters absent from the vocab get `floorLp` so every
    * word is always segmentable. Ties prefer the longer last piece
    * (deterministic; matches the greedy intuition). */
  def segment(word: String, lp: collection.Map[String, Double],
      floorLp: Double, maxPieceLen: Int = 8): List[String] =
    segmentWith(word, p =>
      if (lp.contains(p)) lp(p)
      else if (p.length == 1) floorLp
      else Double.NegativeInfinity, maxPieceLen)

  /** The Viterbi DP over an arbitrary piece scorer (`NegativeInfinity`
    * = not a piece) — [[segment]]'s engine, shared with the pinned
    * hash-model face ([[unigramSegmentPinned]]) so both run the SAME
    * production code path. */
  def segmentWith(word: String, lpFn: String => Double,
      maxPieceLen: Int = 8): List[String] = {
    val n = word.length
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = new Array[Int](n + 1)
    best(0) = 0d
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxPieceLen)
      while (j < i) {
        val cand = best(j) + lpFn(word.substring(j, i))
        // strict >: j ascends, so ties keep the smallest j already
        // found — the longest last piece. Deterministic.
        if (cand > best(i)) { best(i) = cand; back(i) = j }
        j += 1
      }
      i += 1
    }
    var out = List.empty[String]
    var pos = n
    while (pos > 0) { out = word.substring(back(pos), pos) :: out; pos = back(pos) }
    out
  }

  /** The corpus's word-frequency table — the ONE corpus-sized pass. */
  def wordTable(documents: DataFrame): DataFrame =
    documents
      .select(explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("c"))

  /** Train a `targetVocab`-piece unigram LM. Returns the driver-side
    * vocabulary (model-sized by construction) as (piece, logp) with
    * logp quantized to 1e-9. */
  def train(documents: DataFrame, targetVocab: Int = 256,
      rounds: Int = 4, maxPieceLen: Int = 8,
      seedFactor: Int = 4): Seq[(String, Double)] = {
    val spark = documents.sparkSession
    import spark.implicits._
    val words = wordTable(documents)
      .as[(String, Long)]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // seed inventory: the seedFactor*target most frequent substrings
      // (weighted by word count) + every single character (coverage).
      // The top-k runs DISTRIBUTED (orderBy+limit = per-partition
      // heaps), so the driver only ever holds the bounded seed set.
      val subCounts = words.flatMap { case (w, c) =>
        for {
          i <- 0 until w.length
          l <- 1 to math.min(maxPieceLen, w.length - i)
        } yield (w.substring(i, i + l), c)
      }.groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
        .map { case (p, c) => (p, c) }
        .toDF("piece", "c")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val chars = subCounts.where(length(col("piece")) === 1)
        .as[(String, Long)].collect()
      val multi = subCounts.where(length(col("piece")) > 1)
        .orderBy(col("c").desc, col("piece"))
        .limit(seedFactor * targetVocab)
        .as[(String, Long)].collect()
      subCounts.unpersist()
      var vocab: Map[String, Long] = (chars ++ multi).toMap
      val shrinkPerRound =
        math.max(1, (vocab.size - targetVocab) / math.max(1, rounds - 1))

      for (r <- 0 until rounds) {
        val total = vocab.values.sum.toDouble
        val lp = vocab.map { case (p, c) =>
          p -> quantize(math.log((c + 1).toDouble / (total + vocab.size)))
        }
        val floorLp = quantize(math.log(1.0 / (total + vocab.size))) - 10.0
        val bc = spark.sparkContext.broadcast(lp)
        // E: Viterbi counts over the word table (piece-keyed aggregate,
        // vocab-sized output)
        val counts = words.flatMap { case (w, c) =>
          segment(w, bc.value, floorLp, maxPieceLen).map(_ -> c)
        }.groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
          .map { case (p, c) => (p, c) }
          .collect().toMap
        bc.destroy()
        // M: re-estimate, keep all chars (coverage) + the best pieces
        val (charsNow, multiNow) = vocab.keys.toSeq
          .map(p => p -> counts.getOrElse(p, 0L))
          .partition(_._1.length == 1)
        val keep =
          if (r == rounds - 1 || vocab.size <= targetVocab) multiNow
          else multiNow.sortBy { case (p, c) => (-c, p) }
            .take(math.max(targetVocab - charsNow.size,
              multiNow.size - shrinkPerRound))
        vocab = (charsNow ++ keep).toMap
      }
      // final size clamp + deterministic order
      val total = vocab.values.sum.toDouble
      val (chars2, multi2) = vocab.toSeq.partition(_._1.length == 1)
      val kept = chars2 ++ multi2.sortBy { case (p, c) => (-c, p) }
        .take(math.max(0, targetVocab - chars2.size))
      kept.map { case (p, c) =>
        p -> quantize(math.log((c + 1).toDouble / (total + vocab.size)))
      }.sortBy { case (p, lpv) => (-lpv, p) }
    } finally words.unpersist()
  }

  private def quantize(d: Double): Double =
    BigDecimal(d).setScale(9, scala.math.BigDecimal.RoundingMode.HALF_UP)
      .toDouble

  /** ONE training per (corpus, targetVocab) per session: the vocab and
    * encode faces both need the trained model, and retraining inside
    * each query doubled the pair's cost for identical results
    * (training is deterministic). Keyed by the ANALYZED plan's
    * semantic hash — same source ⇒ same key within a session; the
    * cached value is the model (≤ targetVocab pairs), not data. At
    * scale the same sharing is a materialized vocab table the encode
    * join reads — this memo is the single-session equivalent. */
  private val trained =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Seq[(String, Double)]]()
  private def trainCached(documents: DataFrame,
      targetVocab: Int): Seq[(String, Double)] =
    trained.computeIfAbsent(
      (documents.queryExecution.analyzed.semanticHash(), targetVocab),
      _ => train(documents, targetVocab))

  /** Catalog face: the trained vocabulary as a table
    * `(vocab_rank, piece, piece_len, logp)`. Rows-only by the twin
    * convention (iterative EM training is not SQL-expressible);
    * coverage/consistency floors live in `UnigramSpec`. */
  def unigramVocab(documents: DataFrame, targetVocab: Int = 256): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    trainCached(documents, targetVocab).zipWithIndex
      .map { case ((p, lpv), i) => (i + 1L, p, p.length.toLong, lpv) }
      .toDF("vocab_rank", "piece", "piece_len", "logp")
  }

  /** Catalog face: encode the corpus under the trained model — the
    * word table is segmented ONCE (bounded work, model broadcast) and
    * the corpus's words join that map at read time, exactly
    * [[TextAnalysis.bpeEncode]]'s shape. Output per doc:
    * `(doc_id, n_words, n_pieces)`. */
  def unigramEncode(documents: DataFrame, targetVocab: Int = 256): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val lp = trainCached(documents, targetVocab).toMap
    val floorLp = lp.values.min - 10.0
    val bc = spark.sparkContext.broadcast(lp)
    val segLen = wordTable(documents).as[(String, Long)]
      .map { case (w, _) =>
        (w, segment(w, bc.value, floorLp).length.toLong)
      }.toDF("word", "n_pieces_word")
    documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) > 0)
      .join(segLen, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces_word")).as("n_pieces"))
      .orderBy("doc_id")
  }

  // ---- pinned-model segmentation (the oracle face of the Viterbi) --

  /** Pinned integer piece cost: a piece is in-vocab iff
    * `md5('uv:'||piece) % 5 = 0` (engine-portable 60-bit md5 prefix),
    * costing `md5('uc:'||piece) % 1000 + 1`; out-of-vocab single
    * characters cost the 2000 floor (coverage); anything else is not
    * a piece. All integers — the DP compares are exact in both
    * engines. */
  private[graft] def pinnedPieceCost(p: String): Option[Long] = {
    if (Classifier.md5Long15("uv:" + p) % 5 == 0)
      Some(Classifier.md5Long15("uc:" + p) % 1000 + 1)
    else if (p.length == 1) Some(2000L)
    else None
  }

  /** The SAME Viterbi ([[segmentWith]] — [[segment]]'s engine) under
    * the PINNED hash-derived cost model, segmenting every distinct
    * corpus word: the oracle face of the unigram tokenizer's hardest
    * part. The trained faces ([[unigramVocab]]/[[unigramEncode]]) stay
    * rows-only (EM training is data-dependent FP state), but the
    * segmentation DP itself — min-cost over pieces with the
    * longest-piece tie-break — is now hash-exactly replayed by a
    * DuckDB RECURSIVE CTE that carries a (maxPieceLen)-deep sliding
    * window of (best, path) state per position
    * ([[unigramSegmentPinnedSql]]).
    *
    * Scale shape: the distinct-word table is the corpus's vocabulary
    * (bounded, never token-proportional); per word the DP is
    * O(len · maxPieceLen) scan-side work; zero shuffle beyond the
    * word distinct. Output: (word, n_pieces, pieces, cost). */
  def unigramSegmentPinned(documents: DataFrame,
      maxPieceLen: Int = 4): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents
      .where(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) > 0)
      .distinct().as[String]
      .map { w =>
        val pieces = segmentWith(w,
          p => pinnedPieceCost(p).fold(Double.NegativeInfinity)(c =>
            -c.toDouble), maxPieceLen)
        val cost = pieces.map(p => pinnedPieceCost(p).get).sum
        (w, pieces.length.toLong, pieces.mkString(" "), cost)
      }
      .toDF("word", "n_pieces", "pieces", "cost")
      .orderBy("word")
  }

  /** DuckDB replay of [[unigramSegmentPinned]]: a RECURSIVE CTE runs
    * the identical DP one position per iteration, carrying the last
    * `maxPieceLen` (best, path) pairs as the sliding window (the
    * recursive working table only exposes the previous iteration, so
    * the window IS the DP state). Tie-break parity: the composite key
    * `(best + cost) * (maxPieceLen·2) + (maxPieceLen − l)` makes the
    * list_sort pick the cheapest candidate and, on equal cost, the
    * LONGEST piece — exactly [[segmentWith]]'s smallest-j rule. */
  def unigramSegmentPinnedSql(maxPieceLen: Int = 4): String = {
    def cand(l: Int): String = {
      val piece = s"substr(word, pos + 2 - $l, $l)"
      val inV = s"('0x' || substr(md5('uv:' || $piece), 1, 15))::BIGINT % 5 = 0"
      val cv = s"('0x' || substr(md5('uc:' || $piece), 1, 15))::BIGINT % 1000 + 1"
      val cost =
        if (l == 1) s"CASE WHEN $inV THEN $cv ELSE 2000 END"
        else s"CASE WHEN $inV THEN $cv END"
      val b = s"b${l - 1}"
      s"""struct_pack(k := CASE WHEN $l <= pos + 1 AND $b IS NOT NULL
         |      AND ($cost) IS NOT NULL
         |    THEN ($b + ($cost)) * ${maxPieceLen * 2} + (${maxPieceLen} - $l) END,
         |  c := $b + ($cost), pp := p${l - 1}, pc := $piece)""".stripMargin
    }
    val cands = (1 to maxPieceLen).map(cand).mkString(",\n    ")
    val bInit = (1 until maxPieceLen)
      .map(i => s"NULL::BIGINT AS b$i").mkString(", ")
    val pInit = (1 until maxPieceLen)
      .map(i => s"NULL::VARCHAR AS p$i").mkString(", ")
    val bShift = (0 until maxPieceLen - 1).map(i => s"b$i").mkString(", ")
    val pShift = (0 until maxPieceLen - 1).map(i => s"p$i").mkString(", ")
    s"""WITH RECURSIVE
       |uw AS (
       |  SELECT DISTINCT tok AS word FROM (
       |    SELECT unnest(string_split(text, ' ')) AS tok
       |    FROM documents WHERE text IS NOT NULL)
       |  WHERE length(tok) > 0),
       |seg AS (
       |  SELECT word, 0 AS pos, 0::BIGINT AS b0, $bInit,
       |    '' AS p0, $pInit
       |  FROM uw
       |  UNION ALL
       |  SELECT word, pos + 1,
       |    cand.c, $bShift,
       |    CASE WHEN cand.pp = '' THEN cand.pc
       |         ELSE cand.pp || ' ' || cand.pc END,
       |    $pShift
       |  FROM (
       |    SELECT *, (list_sort(list_filter([
       |    $cands
       |    ], x -> x.k IS NOT NULL)))[1] AS cand
       |    FROM seg WHERE pos < length(word)) t)
       |SELECT word, len(string_split(p0, ' '))::BIGINT AS n_pieces,
       |  p0 AS pieces, b0 AS cost
       |FROM seg WHERE pos = length(word)
       |ORDER BY word""".stripMargin
  }
}
