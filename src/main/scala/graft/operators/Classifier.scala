package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A fastText-shaped linear text classifier trained INSIDE the engine:
  * hashed bag-of-words features (feature hashing, Weinberger et al.
  * arXiv 0902.2206), mean-pooled per document, logistic loss, trained
  * by full-batch gradient descent — the distillation workhorse of
  * training-data pipelines (CCNet / DCLM style: fit a cheap linear
  * model to an expensive quality signal, then score the whole corpus
  * with one scan).
  *
  * Scale design — the model is small, the data is not, so every
  * iteration moves the MODEL to the data and only model-sized state
  * back:
  *  - features are per-row codegen'd array work (`split` →
  *    `transform` + `xxhash64` mod dim) — no vocabulary pass, no
  *    dictionary shuffle, the whole point of feature hashing;
  *  - the weight vector (`dim + 1` doubles, a few KB) ships to
  *    executors as ONE array literal per iteration (broadcast-sized,
  *    like k-means centroids);
  *  - the gradient is `explode(idxs)` → per-index partial sums —
  *    map-side combined, one shuffle of at most `dim` rows per
  *    partition, then a `dim`-row collect (bounded by the model, not
  *    the data — same discipline as `kmeansFit`);
  *  - scoring a corpus is a single scan-side pass, no shuffle, no
  *    join: exactly the deployment profile a 100 TB quality filter
  *    needs.
  */
object Classifier {

  /** Sigmoid of the mean-pooled hashed-feature margin under weights
    * `w` (indices `0 until dim` are feature weights, `w(dim)` is the
    * bias). Pure column expression — scoring stays in codegen. */
  private def probCol(w: Array[Double], dim: Int): Column = {
    require(w.length == dim + 1, s"weights must be dim+1, got ${w.length}")
    val wLit = typedLit(w)
    val margin =
      aggregate(col("idxs"), lit(0d),
        (acc, i) => acc + element_at(wLit, i + lit(1))) /
        col("n_toks") + element_at(wLit, lit(dim + 1))
    lit(1d) / (lit(1d) + exp(-margin))
  }

  /** Teacher label for the catalog face: mean token length ≥ `th`
    * (a text-derived quality rule — the classifier distills it back
    * out of hashed unigrams; 4.5 splits the synthetic corpus ~53/47). */
  def meanTokenLenLabel(th: Double = 4.5): Column =
    when(aggregate(col("toks"), lit(0L), (a, t) => a + length(t))
      .cast("double") / col("n_toks") >= th, 1d).otherwise(0d)

  /** Hashed feature extraction: one row per doc with the token-index
    * array, token count, and a label column evaluated over `toks`.
    * Index = `xxhash64(token) mod dim` — collisions are part of the
    * contract (they cost a little accuracy, never correctness). */
  def hashedFeatures(documents: DataFrame, dim: Int,
      label: Column): DataFrame =
    documents
      .withColumn("toks",
        filter(split(col("text"), " "), t => length(t) > 0))
      .where(size(col("toks")) > 0)
      .withColumn("n_toks", size(col("toks")).cast("double"))
      .select(col("doc_id"),
        transform(col("toks"),
          t => pmod(xxhash64(t), lit(dim.toLong)).cast("int")).as("idxs"),
        col("n_toks"), label.as("label"))

  /** Full-batch logistic regression over `(idxs, n_toks, label)` rows
    * with Adagrad per-coordinate steps (Duchi et al., JMLR 2011) —
    * plain GD needs one global rate to serve both the dense bias and
    * rare hashed features, which either crawls or diverges; Adagrad's
    * accumulated-squared-gradient scaling handles the mismatch, and
    * its state is another model-sized array on the driver.
    * Returns the trained weights and (when `trackLoss` or `tol > 0`)
    * the mean log-loss before each update — tests assert it decreases;
    * at scale leave both off to drop the loss sentinel from the pass.
    * The input should be cached by the caller (each iteration scans
    * it).
    *
    * With `tol > 0` the loop CONVERGENCE-EXITS: the loss rides the
    * same per-iteration aggregate under the `dim + 1` sentinel (zero
    * extra passes), and once an update IMPROVES the mean loss by less
    * than `tol` the loop stops without applying the next step —
    * `iters` becomes a CAP, not a fixed cost. Two guards keep an
    * OSCILLATING early phase (Adagrad's large first steps) from faking
    * convergence: the delta must be a signed improvement (0 ≤ Δ < tol
    * — a worsened loss never exits), and the loss must already be
    * below the all-zero model's ln 2 ≈ 0.693 (two adjacent crests of
    * an oscillation can differ by < tol at a HIGH loss — observed on
    * the sf0.001 corpus at iterations 1→2, Δ = +0.003 at loss 3.58).
    * The trainer is driver-sequential by nature (each GD round is one
    * Spark job), so on a full-catalog bench the saved rounds are the
    * dominant cost of the `quality_classifier` face; at 100 TB the
    * same early-exit saves whole corpus scans. */
  def trainLogReg(feats: DataFrame, dim: Int, iters: Int = 20,
      lr: Double = 0.5, trackLoss: Boolean = false,
      tol: Double = 0.0): (Array[Double], Seq[Double]) = {
    val n = feats.count().toDouble
    require(n > 0, "empty training set")
    val withLoss = trackLoss || tol > 0
    val w = Array.fill(dim + 1)(0d)
    val gsq = Array.fill(dim + 1)(0d)
    def step(i: Int, g: Double): Unit = {
      gsq(i) += g * g
      w(i) -= lr * g / math.sqrt(gsq(i) + 1e-10)
    }
    val losses = Seq.newBuilder[Double]
    var prevLoss = Double.NaN
    var converged = false
    graft.functions.Registry.ensure(feats.sparkSession)
    for (_ <- 0 until iters if !converged) {
      // ONE scan and ONE action per iteration, as a single typed
      // aggregate kernel (`logreg_grad` — see LogRegGradAggregate):
      // per-partition state is one double[dim + 2] (feature gradient
      // sums, bias sum, optional log-loss sum), so the pass is a
      // tight JVM loop per row with NO per-token struct/explode rows,
      // no interpreted higher-order margin fold, and no dim-keyed
      // hash aggregate — the shuffle carries one model-sized buffer
      // per partition (the vec_sum / k-means discipline). Replaces
      // the explode(struct(idx, g)) → groupBy(idx).sum formulation,
      // whose plan was re-codegen'd every iteration (the weight
      // literal changes) and whose margin fold ran interpreted.
      val gr = feats.select(call_function("logreg_grad",
          col("idxs"), col("n_toks"), col("label"),
          typedLit(w.clone()), lit(withLoss)).as("g"))
        .head().getSeq[Double](0)
      // loss is read out BEFORE any weight update (it was measured
      // under the pre-update weights)
      if (withLoss) {
        val loss = gr(dim + 1) / n
        losses += loss
        // the PREVIOUS update improved the loss by < tol (and did not
        // worsen it), and training has actually beaten the all-zero
        // model: the weights have converged — stop without applying
        // this round's step
        val improved = prevLoss - loss
        if (tol > 0 && !prevLoss.isNaN && improved >= 0 &&
          improved < tol && loss < math.log(2.0)) converged = true
        prevLoss = loss
      }
      // dense step: untouched slots carry a 0.0 gradient sum, for
      // which Adagrad's step is an exact no-op (gsq += 0, Δw = 0) —
      // identical to the sparse per-present-index step it replaces
      if (!converged) {
        var i = 0
        while (i <= dim) { step(i, gr(i) / n); i += 1 }
      }
    }
    (w, losses.result())
  }

  /** Score `documents` with trained weights: (doc_id, p, predicted). */
  def score(documents: DataFrame, w: Array[Double], dim: Int,
      label: Column): DataFrame = {
    val p = probCol(w, dim)
    hashedFeatures(documents, dim, label)
      .select(col("doc_id"), col("label"), p.as("p"),
        (p >= 0.5).cast("double").as("predicted"))
  }

  /** Driver-side replica of DuckDB's `('0x' || substr(md5(s), 1, 15))
    * ::BIGINT` — the engine-portable 60-bit md5 prefix the repo's
    * portable hashes build on (`hashSplit` / `dsirWeights`). */
  private[operators] def md5Long15(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Long.parseLong(
      d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
  }

  /** PINNED integer weight table: `w(f) = md5("w:" || f) % 2001 − 1000`
    * (fixed-point, units of 1e-4) — a deterministic stand-in for a
    * trained weight vector, derivable by any engine from the feature
    * index alone. */
  def pinnedWeights(dim: Int): Array[Long] =
    Array.tabulate(dim)(f => md5Long15("w:" + f) % 2001 - 1000)

  /** The SCORING half of [[qualityClassifier]] split out under pinned
    * weights, so the deployment-path arithmetic carries a hash-exact
    * DuckDB oracle (the `embeddingClustersPinned` discipline — train
    * stays rows-only as measured model quality, scoring is replayable
    * arithmetic): hashed bag-of-words features (md5-bucket — the
    * engine-portable hash, where the trained face's xxhash64 is
    * Spark-only), one broadcast weight-literal lookup per token
    * instance, mean-pooled margin, threshold. All-integer until one
    * final double division, so the hash compare is exact by IEEE
    * correct rounding, never by FP luck. Plan shape = the production
    * scoring profile: a single scan-side projection, zero shuffles
    * before the presentation sort, model shipped as one `dim`-long
    * literal. Also emits the [[meanTokenLenLabel]] teacher label
    * (integer-exact sum of token lengths) so the face reports
    * label/prediction side by side. Output: (doc_id, n_toks, w_sum,
    * margin, predicted, label). */
  def qualityScorePinned(documents: DataFrame, dim: Int = 4096): DataFrame =
    qualityScorePinnedStream(documents, dim).orderBy("doc_id")

  /** The streaming face of [[qualityScorePinned]]: identical per-row
    * projection minus the batch face's global ORDER BY, so the streamed score
    * set over any micro-batch slicing equals the batch output for the
    * same documents (asserted in `StreamingSpec`). */
  def qualityScorePinnedStream(documents: DataFrame,
      dim: Int = 4096): DataFrame =
    withPinnedScore(documents.select(col("doc_id"), col("text")), dim)
      .select(col("doc_id"), col("n_toks"), col("w_sum"), col("margin"),
        col("predicted"), col("label"))

  /** [[qualityScorePinned]]'s score columns (`n_toks`, `sum_len`,
    * `w_sum`, `margin`, `predicted`, `label`) APPENDED to `df` (which
    * must carry `text`), dropping rows with no tokens — the reusable
    * deployment-path projection: a streaming ingest gate keeps its
    * own payload columns and filters on `predicted`/`margin` while
    * exercising the exact oracled arithmetic. Still a single
    * scan-side projection: the model rides along as one `dim`-long
    * broadcast literal, zero shuffles. */
  def withPinnedScore(df: DataFrame, dim: Int = 4096): DataFrame = {
    val produced = Seq("n_toks", "sum_len", "w_sum", "margin",
      "predicted", "label", "__toks", "__idxs")
    val clash = df.columns.toSeq.intersect(produced)
    require(clash.isEmpty,
      s"withPinnedScore would overwrite caller columns $clash - " +
        "rename or drop them before scoring")
    val wLit = typedLit(pinnedWeights(dim))
    df
      .withColumn("__toks",
        filter(split(col("text"), " "), t => length(t) > 0))
      .where(size(col("__toks")) > 0)
      .withColumn("__idxs", transform(col("__toks"), t =>
        (conv(substring(md5(t), 1, 15), 16, 10).cast("long") % dim)
          .cast("int")))
      .withColumn("n_toks", size(col("__toks")).cast("long"))
      .withColumn("sum_len",
        aggregate(col("__toks"), lit(0L), (a, t) => a + length(t)))
      .withColumn("w_sum", aggregate(col("__idxs"), lit(0L),
        (acc, i) => acc + element_at(wLit, i + lit(1))))
      .withColumn("margin",
        col("w_sum").cast("double") / lit(10000.0) /
          col("n_toks").cast("double"))
      .withColumn("predicted", (col("margin") >= 0).cast("long"))
      .withColumn("label",
        (col("sum_len").cast("double") / col("n_toks").cast("double")
          >= 4.5).cast("long"))
      .drop("__toks", "__idxs")
  }

  /** DuckDB replay of [[qualityScorePinned]]: identical md5-bucket
    * feature hash, identical inline pinned-weight derivation, integer
    * folds, one final double division. */
  def qualityScorePinnedSql(dim: Int = 4096): String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(tok), 1, 15))::BIGINT % $dim AS f,
       |    length(tok) AS lt
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |        FROM documents)
       |  WHERE length(tok) > 0),
       |sc AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_toks,
       |    sum(('0x' || substr(md5('w:' || CAST(f AS VARCHAR)), 1, 15))
       |        ::BIGINT % 2001 - 1000)::BIGINT AS w_sum,
       |    sum(lt)::BIGINT AS sum_len
       |  FROM toks GROUP BY 1)
       |SELECT doc_id, n_toks, w_sum,
       |  w_sum::DOUBLE / 10000.0 / n_toks::DOUBLE AS margin,
       |  (CASE WHEN w_sum::DOUBLE / 10000.0 / n_toks::DOUBLE >= 0
       |    THEN 1 ELSE 0 END)::BIGINT AS predicted,
       |  (CASE WHEN sum_len::DOUBLE / n_toks::DOUBLE >= 4.5
       |    THEN 1 ELSE 0 END)::BIGINT AS label
       |FROM sc ORDER BY doc_id""".stripMargin

  /** Reliability diagram + expected calibration error over the pinned
    * scorer — the "is the confidence honest" evals readout (DeGroot &
    * Fienberg 1983 reliability diagrams; Guo et al., "On calibration
    * of modern neural networks", ICML 2017 §2: ECE =
    * Σ_b n_b/N · |acc(b) − conf(b)| over equal-width confidence
    * bins). Confidence is the sigmoid link on the pinned margin
    * (p = 1/(1+e^(−20·margin)), quantized DECIMAL(18,9) — the ONE
    * transcendental, `source_kl` convention), so the whole face stays
    * engine-replayable where a trained classifier's probabilities
    * would not be; p ≥ ½ ≡ margin ≥ 0, the pinned face's `predicted`.
    *
    * Scale shape: the scoring projection is scan-side (zero shuffle,
    * the [[withPinnedScore]] profile), then ONE aggregate to the
    * ≤10-row bin grain; bin means ride DECIMAL sums of the quantized
    * p (order-free), accuracy is integer counts, and the ECE window
    * runs on the bounded bin table (a whitelisted post-aggregation
    * SinglePartition — ≤ 10 rows at any corpus scale).
    *
    * Output: one row per populated bin — (bin, n, conf_mean, acc,
    * gap) with the scalar `ece` repeated on every row (the diagram
    * and the summary in one frame), ordered by bin. */
  def calibrationBins(documents: DataFrame, dim: Int = 4096): DataFrame = {
    val binned = withPinnedScore(documents.select(col("doc_id"),
        col("text")), dim)
      .select(col("margin"), col("label"))
      .withColumn("p", expr(
        """CAST(CAST(1.0 / (1.0 + exp(-20.0 * margin))
          |AS DECIMAL(18,9)) AS DOUBLE)""".stripMargin))
      .withColumn("bin",
        expr("least(9, CAST(floor(p * 10.0) AS INT))"))
    val bins = binned
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(p AS DECIMAL(18,9))")).as("s_p"),
        sum(col("label")).as("n_pos"))
      .select(col("bin"), col("n"),
        expr(CalConf).as("conf_mean"),
        expr(CalAcc).as("acc"))
      .withColumn("gap", expr(CalGap))
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    bins
      .withColumn("__t",
        expr("CAST(CAST(n AS DOUBLE) * gap AS DECIMAL(18,9))"))
      .withColumn("__st", sum(col("__t")).over(wAll))
      .withColumn("__nt", sum(col("n")).over(wAll))
      .withColumn("ece", expr(
        """CAST(CAST(CAST(__st AS DOUBLE) / CAST(__nt AS DOUBLE)
          |AS DECIMAL(18,9)) AS DOUBLE)""".stripMargin))
      .drop("__t", "__st", "__nt")
      .orderBy("bin")
  }

  // bin-grain scalar chains, shared verbatim with the oracle
  private val CalConf =
    """CAST(CAST(CAST(s_p AS DOUBLE) / CAST(n AS DOUBLE)
      |AS DECIMAL(18,9)) AS DOUBLE)""".stripMargin
  private val CalAcc =
    """CAST(CAST(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
      |AS DECIMAL(18,9)) AS DOUBLE)""".stripMargin
  private val CalGap =
    "CAST(CAST(abs(acc - conf_mean) AS DECIMAL(18,9)) AS DOUBLE)"

  /** DuckDB replay of [[calibrationBins]]: the pinned-score CTE chain,
    * the identical quantized sigmoid + bin assignment, DECIMAL bin
    * sums, and the same windowed ECE over the bounded bin table. */
  def calibrationBinsSql(dim: Int = 4096): String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(tok), 1, 15))::BIGINT % $dim AS f,
       |    length(tok) AS lt
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |        FROM documents)
       |  WHERE length(tok) > 0),
       |sc AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_toks,
       |    sum(('0x' || substr(md5('w:' || CAST(f AS VARCHAR)), 1, 15))
       |        ::BIGINT % 2001 - 1000)::BIGINT AS w_sum,
       |    sum(lt)::BIGINT AS sum_len
       |  FROM toks GROUP BY 1),
       |scored AS (
       |  SELECT
       |    CAST(CAST(1.0 / (1.0 + exp(-20.0 *
       |      (w_sum::DOUBLE / 10000.0 / n_toks::DOUBLE)))
       |      AS DECIMAL(18,9)) AS DOUBLE) AS p,
       |    (CASE WHEN sum_len::DOUBLE / n_toks::DOUBLE >= 4.5
       |      THEN 1 ELSE 0 END)::BIGINT AS label
       |  FROM sc),
       |binned AS (
       |  SELECT least(9, CAST(floor(p * 10.0) AS INT)) AS bin, p, label
       |  FROM scored),
       |bins AS (
       |  SELECT bin, count(*)::BIGINT AS n,
       |    sum(CAST(p AS DECIMAL(18,9))) AS s_p,
       |    sum(label)::BIGINT AS n_pos
       |  FROM binned GROUP BY 1),
       |derived AS (
       |  SELECT bin, n, $CalConf AS conf_mean, $CalAcc AS acc
       |  FROM bins),
       |gapped AS (
       |  SELECT bin, n, conf_mean, acc, $CalGap AS gap FROM derived)
       |SELECT bin, n, conf_mean, acc, gap,
       |  CAST(CAST(
       |    CAST(sum(CAST(CAST(n AS DOUBLE) * gap AS DECIMAL(18,9)))
       |      OVER () AS DOUBLE)
       |    / CAST(sum(n) OVER () AS DOUBLE)
       |  AS DECIMAL(18,9)) AS DOUBLE) AS ece
       |FROM gapped ORDER BY bin""".stripMargin

  // temperature grid: binary-exact double literals (0.25 … 4.0), so
  // margin/t_scale is one IEEE division of identical operands on both
  // engines; shared verbatim with the oracle
  private val TempGrid =
    "array(0.25e0, 0.5e0, 0.75e0, 1.0e0, 1.5e0, 2.0e0, 3.0e0, 4.0e0)"
  // the scaled sigmoid (ONE transcendental, quantized), then clamped
  // to the open-interval lattice so the NLL's ln never sees 0 or 1 —
  // a saturated margin would otherwise quantize p to an exact endpoint
  private val TempP =
    """least(greatest(
      |  CAST(CAST(1.0e0 / (1.0e0 + exp(-20.0e0 * margin / t_scale))
      |  AS DECIMAL(18,9)) AS DOUBLE),
      |  0.000000001e0), 0.999999999e0)""".stripMargin
  private val TempNllTerm =
    """CAST(CAST(CASE WHEN label = 1 THEN -ln(p)
      |  ELSE -ln(1.0e0 - p) END
      |AS DECIMAL(18,9)) AS DOUBLE)""".stripMargin
  private def tempMean(sumCol: String, nCol: String): String =
    s"""CAST(CAST(CAST($sumCol AS DOUBLE) / CAST($nCol AS DOUBLE)
       |AS DECIMAL(18,9)) AS DOUBLE)""".stripMargin

  /** Temperature-scaled calibration fit over the pinned scorer — the
    * standard one-parameter post-hoc calibration (Guo et al., ICML
    * 2017 §4.2: scale the logit by 1/T, pick T minimizing NLL; the
    * model's ranking — and therefore accuracy — is unchanged, only
    * confidence moves). The logit is [[calibrationBins]]' pinned
    * 20·margin, so the whole face replays in SQL: for every T on a
    * fixed 8-point grid this computes the corpus NLL and the ECE in
    * ONE pass, and flags the NLL-argmin row.
    *
    * Grid instead of Newton, deliberately: each Newton step is a
    * corpus aggregate with a data-dependent iteration count (the
    * §7.9 constant-plan-size rule pays per-step lineage for
    * convergence nobody reads off a monitoring face), while the grid
    * is one fused scan — the documents explode ×8 INSIDE the scan
    * projection (zero extra shuffles; the one exchange carries the
    * ≤ 8·10-row (T, bin) partial aggregates). NLL terms and bin
    * confidences ride quantized DECIMAL sums (order-free); the final
    * divisions quantize through DECIMAL(18,9).
    *
    * Output: one row per grid T — (t_scale, n_docs, nll, ece,
    * is_best), ordered by t_scale; `is_best` marks the minimal-NLL
    * row (smallest T on ties). The NLL-vs-T monotone fixture and the
    * best-T floors live in `ClassifierSpec`. */
  def temperatureFit(documents: DataFrame, dim: Int = 4096): DataFrame = {
    val scored = withPinnedScore(documents.select(col("doc_id"),
        col("text")), dim)
      .select(col("margin"), col("label"))
      .select(col("margin"), col("label"),
        explode(expr(TempGrid)).as("t_scale"))
      .withColumn("p", expr(TempP))
      .withColumn("nll_term", expr(TempNllTerm))
      .withColumn("bin", expr("least(9, CAST(floor(p * 10.0e0) AS INT))"))
    val bins = scored
      .groupBy(col("t_scale"), col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(p AS DECIMAL(18,9))")).as("s_p"),
        sum(col("label")).as("n_pos"),
        sum(expr("CAST(nll_term AS DECIMAL(18,9))")).as("s_nll"))
      .select(col("t_scale"), col("bin"), col("n"), col("s_nll"),
        expr(CalConf).as("conf_mean"), expr(CalAcc).as("acc"))
      .withColumn("gap", expr(CalGap))
    val perT = bins
      .groupBy(col("t_scale"))
      .agg(sum(col("n")).as("n_docs"),
        sum(expr("CAST(CAST(CAST(n AS DOUBLE) * gap AS DECIMAL(18,9))" +
          " AS DECIMAL(18,9))")).as("s_gap"),
        sum(col("s_nll")).as("nll_sum"))
      .select(col("t_scale"), col("n_docs"),
        expr(tempMean("nll_sum", "n_docs")).as("nll"),
        expr(tempMean("s_gap", "n_docs")).as("ece"))
    // best-T pick over the 8-row grid (bounded unpartitioned window —
    // PlanSpec allowlist)
    val wBest = org.apache.spark.sql.expressions.Window
      .orderBy(col("nll"), col("t_scale"))
    perT
      .withColumn("is_best", row_number().over(wBest) === 1)
      .select(col("t_scale"), col("n_docs"), col("nll"), col("ece"),
        col("is_best"))
      .orderBy("t_scale")
  }

  /** DuckDB replay of [[temperatureFit]]: the pinned-score CTEs, the
    * identical grid cross join, quantized sigmoid/NLL chains, DECIMAL
    * bin sums and the same argmin flag. */
  def temperatureFitSql(dim: Int = 4096): String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(tok), 1, 15))::BIGINT % $dim AS f,
       |    length(tok) AS lt
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |        FROM documents)
       |  WHERE length(tok) > 0),
       |sc AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_toks,
       |    sum(('0x' || substr(md5('w:' || CAST(f AS VARCHAR)), 1, 15))
       |        ::BIGINT % 2001 - 1000)::BIGINT AS w_sum,
       |    sum(lt)::BIGINT AS sum_len
       |  FROM toks GROUP BY 1),
       |marg AS (
       |  SELECT w_sum::DOUBLE / 10000.0 / n_toks::DOUBLE AS margin,
       |    (CASE WHEN sum_len::DOUBLE / n_toks::DOUBLE >= 4.5
       |      THEN 1 ELSE 0 END)::BIGINT AS label
       |  FROM sc),
       |g AS (
       |  SELECT margin, label, t.t_scale
       |  FROM marg, (SELECT unnest([0.25e0, 0.5e0, 0.75e0, 1.0e0,
       |    1.5e0, 2.0e0, 3.0e0, 4.0e0]) AS t_scale) t),
       |pp AS (
       |  SELECT t_scale, label, $TempP AS p FROM (
       |    SELECT t_scale, label, margin FROM g) gg),
       |terms AS (
       |  SELECT t_scale, p, label, $TempNllTerm AS nll_term,
       |    least(9, CAST(floor(p * 10.0e0) AS INT)) AS bin
       |  FROM pp),
       |bins AS (
       |  SELECT t_scale, bin, count(*)::BIGINT AS n,
       |    sum(CAST(p AS DECIMAL(18,9))) AS s_p,
       |    sum(label)::BIGINT AS n_pos,
       |    sum(CAST(nll_term AS DECIMAL(18,9))) AS s_nll
       |  FROM terms GROUP BY 1, 2),
       |derived AS (
       |  SELECT t_scale, bin, n, s_nll, $CalConf AS conf_mean,
       |    $CalAcc AS acc
       |  FROM bins),
       |gapped AS (
       |  SELECT *, $CalGap AS gap FROM derived),
       |pert AS (
       |  SELECT t_scale, sum(n)::BIGINT AS n_docs,
       |    sum(CAST(CAST(CAST(n AS DOUBLE) * gap AS DECIMAL(18,9))
       |      AS DECIMAL(18,9))) AS s_gap,
       |    sum(s_nll) AS nll_sum
       |  FROM gapped GROUP BY 1),
       |fin AS (
       |  SELECT t_scale, n_docs,
       |    ${tempMean("nll_sum", "n_docs")} AS nll,
       |    ${tempMean("s_gap", "n_docs")} AS ece
       |  FROM pert)
       |SELECT t_scale, n_docs, nll, ece,
       |  row_number() OVER (ORDER BY nll, t_scale) = 1 AS is_best
       |FROM fin ORDER BY t_scale""".stripMargin

  /** Catalog face — quality-classifier distillation end to end: derive
    * the teacher label, train on the hash-split 80% and evaluate on
    * both splits. Output: (split, n_docs, n_pos, n_correct, accuracy),
    * rows-only by the twin convention (iterative FP training is not
    * SQL-expressible); learnability floors live in `ClassifierSpec`.
    * The scoring arithmetic itself IS oracled — see
    * [[qualityScorePinned]]. `iters` caps the GD rounds; `tol` is the
    * [[trainLogReg]] convergence exit, which is what actually ends
    * training on well-behaved data (the floors in `ClassifierSpec`
    * guard quality at the early-exited weights). */
  def qualityClassifier(documents: DataFrame, dim: Int = 4096,
      iters: Int = 30, lr: Double = 8.0, valPct: Int = 20,
      tol: Double = 0.005): DataFrame = {
    val feats = hashedFeatures(documents, dim, meanTokenLenLabel())
      .withColumn("split",
        when(pmod(xxhash64(col("doc_id")), lit(100)) < lit(100 - valPct),
          "train").otherwise("val"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (w, _) = trainLogReg(feats.where(col("split") === "train"),
        dim, iters, lr, trackLoss = false, tol = tol)
      val p = probCol(w, dim)
      feats
        .withColumn("correct",
          ((p >= 0.5) === (col("label") >= 0.5)).cast("long"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("label")).cast("long").as("n_pos"),
          sum(col("correct")).as("n_correct"))
        .select(col("split"), col("n_docs"), col("n_pos"), col("n_correct"),
          (col("n_correct").cast("double") / col("n_docs").cast("double"))
            .as("accuracy"))
        .orderBy("split")
    } finally feats.unpersist()
  }
}
