package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Post-training and evaluation analytics — the preference-data layer
  * downstream of the example-construction family
  * ([[Corpus.sftExamples]] SFT, [[Corpus.dpoPairs]] DPO,
  * [[Corpus.contrastiveViews]] contrastive): once a pipeline emits
  * candidate completions and preference comparisons, the questions
  * become "which arm is strongest" (Bradley–Terry), "do my labelers
  * agree" (Cohen's kappa), "how do rewards normalize within a prompt
  * group" (GRPO advantages), "which sample survives rejection
  * sampling" (best-of-n), "how close is a candidate to its reference"
  * (BLEU), and "what share of tasks pass at k samples" (pass@k).
  * The reference engine (a realtime experiment dashboard —
  * `MetricsCalculationPipeline.java` aggregates per-variant uniques)
  * stops at arm-level counting; this file carries its
  * experiment/variant data model forward into the readouts an
  * RLHF/eval pipeline actually publishes.
  *
  * Everything here follows the repo's hash-exact twin convention:
  * counts stay integer, metric sums ride the [[Analytics.SumValue]]
  * DECIMAL lattice, and every IEEE chain is written as a verbatim
  * `expr` fragment replayed by the DuckDB oracle, with final floats
  * quantized through DECIMAL(18,9).
  */
object Preference {

  // ---------------------------------------------------------------
  // Bradley–Terry preference strength
  // ---------------------------------------------------------------

  /** Bradley–Terry strength fit over event-type "arms" from per-user
    * pairwise comparisons — the preference model under RLHF reward
    * modeling and chat-arena leaderboards (Bradley & Terry 1952;
    * the minorization–maximization update of Hunter, "MM algorithms
    * for generalized Bradley–Terry models", Annals of Statistics
    * 2004, eq. 1.5: p_i ← W_i / Σ_{j≠i} n_ij/(p_i+p_j)).
    *
    * Comparison recipe (deterministic, no RNG): each user "judges"
    * every pair of event types they emitted — the type with the
    * larger exact DECIMAL(18,2) value total wins; equal totals are
    * ties and drop (plain BT has no tie term). Winless arms are
    * excluded from the fit (their MLE diverges to 0 and would zero
    * the denominators; the standard connected-subgraph discipline).
    *
    * Scale shape: ONE events scan into the (user, type) grain with
    * map-side-combined decimal sums, then each user's arms collect
    * into a T-bounded array whose C(T,2) combinations expand with
    * array transforms (T = |event types|, domain-bounded like
    * [[Metrics.variantOverlap]] — no self-join, no second scan), and
    * everything downstream operates on the T²-row wins table. That
    * table and each MM round's T-row strength frame are persisted
    * (the next round references each twice — without the cache
    * boundary the lazy plan tree doubles per round; caches release
    * via the ContextCleaner when the caller drops the frame — the
    * [[Analytics.rankByRange]] note), so the `iters` rounds are joins
    * over cached tiny frames, not repeated corpus scans. The
    * returned frame stays LAZY — no collect anywhere. Every division
    * is quantized through DECIMAL(18,9) and every quantized-term sum
    * is a DECIMAL sum (order-free), so the unrolled oracle replays
    * the fit bit-exactly.
    *
    * Output: (item, n_matches, n_wins, strength) per fitted arm,
    * ordered by item; `strength` is the unnormalized BT p_i after
    * `iters` rounds from p⁰ = 1 (the fit is scale-invariant, so the
    * start fixes the gauge). */
  def btStrength(events: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // Per-user pair enumeration WITHOUT a self-join: collect each
    // user's (item, sum) arms into an array (T = |event types|,
    // domain-bounded like variant_overlap) and expand the C(T,2)
    // combinations with array transforms — ONE events scan, one
    // user-grain shuffle, no join and no corpus-scale cache (an
    // earlier self-join formulation either aggregated events twice or
    // persisted the user grain; this does neither). Pairs are emitted
    // in canonical (ia < ib) order, so collect_list's arrival-order
    // nondeterminism cannot reach the output.
    // NULL judges drop explicitly: the Spark groupBy would otherwise
    // enumerate comparisons inside one all-NULL-uid group while the
    // oracle's equi self-join drops NULL keys — the one place the
    // array formulation and a join disagree on NULL semantics
    val ut = events
      .where(col("user_id").isNotNull)
      .groupBy(col("user_id"), col("event_type").as("item"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("s"))
    val wins = ut
      .groupBy(col("user_id"))
      .agg(collect_list(struct(col("item"), col("s"))).as("arms"))
      .select(explode(expr(PairExpand)).as("pr"))
      .groupBy(col("pr.ia").as("ia"), col("pr.ib").as("ib"))
      .agg(sum(when(col("pr.sa") > col("pr.sb"), 1L).otherwise(0L))
        .as("w_a"),
        sum(when(col("pr.sb") > col("pr.sa"), 1L).otherwise(0L))
          .as("w_b"))
      .persist()
    val edges = wins.where(col("w_a") + col("w_b") > 0)
      .select(col("ia").as("item"), col("ib").as("other"),
        (col("w_a") + col("w_b")).as("n"))
      .unionAll(wins.where(col("w_a") + col("w_b") > 0)
        .select(col("ib").as("item"), col("ia").as("other"),
          (col("w_a") + col("w_b")).as("n")))
    // each tiny frame below is persisted because the NEXT level
    // references it at least twice (p_k feeds both the p_i and p_j
    // sides of round k+1): without the cache boundary the lazy plan
    // tree DOUBLES per round (2^iters subplan copies — measured 160
    // duplicated cache scans and 8.5 s at iters=3 on a 10-row fit),
    // with it each level is one ≤T²-row cached frame built once.
    // Same ContextCleaner release story as the wins cache above.
    val itemW = wins.select(col("ia").as("item"), col("w_a").as("w"))
      .unionAll(wins.select(col("ib").as("item"), col("w_b").as("w")))
      .groupBy(col("item")).agg(sum(col("w")).as("n_wins"))
      .where(col("n_wins") >= 1L)
      .persist()
    // fit edges: both endpoints must be fitted arms
    val ef = edges
      .join(itemW.select(col("item")), Seq("item"))
      .join(itemW.select(col("item").as("other")), Seq("other"))
      .persist()
    var p = itemW.select(col("item"), lit(1.0).as("p"))
    for (_ <- 1 to iters) {
      val denom = ef
        .join(p.select(col("item"), col("p").as("p_i")), Seq("item"))
        .join(p.select(col("item").as("other"), col("p").as("p_j")),
          Seq("other"))
        .groupBy(col("item"))
        .agg(sum(expr(
          "CAST(CAST(n AS DOUBLE) / (p_i + p_j) AS DECIMAL(18,9))"))
          .as("denom"))
      p = itemW.join(denom, Seq("item"))
        .select(col("item"), expr(
          """CAST(CAST(CAST(n_wins AS DOUBLE) / CAST(denom AS DOUBLE)
            |AS DECIMAL(18,9)) AS DOUBLE)""".stripMargin).as("p"))
        .persist()
    }
    val nMatches = ef.groupBy(col("item")).agg(sum(col("n")).as("n_matches"))
    itemW.join(nMatches, Seq("item")).join(p, Seq("item"))
      .select(col("item"), col("n_matches"), col("n_wins"),
        col("p").as("strength"))
      .orderBy("item")
  }

  // canonical C(T,2) expansion of a collected `arms` array of
  // (item, s) structs — every unordered pair once, (ia < ib) order,
  // sides carried so a comparison's winner is one strict-inequality
  // read. Shared by [[btStrength]] and [[winrateBootstrapCi]] so the
  // per-judge comparison rule can never drift between the fit and
  // the win-rate readout.
  private val PairExpand =
    """flatten(transform(arms, (x, i) ->
      |  transform(slice(arms, i + 2, size(arms)), y ->
      |    struct(least(x.item, y.item) AS ia,
      |           greatest(x.item, y.item) AS ib,
      |           CASE WHEN x.item < y.item THEN x.s ELSE y.s END AS sa,
      |           CASE WHEN x.item < y.item THEN y.s ELSE x.s END
      |             AS sb))))""".stripMargin

  /** DuckDB replay of [[btStrength]]: the same per-user decimal
    * totals, the same strict-inequality wins, and `iters` unrolled MM
    * CTEs with the identical DECIMAL(18,9) quantization points. */
  def btStrengthSql(iters: Int = 3): String = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val base =
      """WITH ut AS (
        |  SELECT user_id, event_type AS item,
        |    sum(CAST(value AS DECIMAL(18,2))) AS s
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
        |cmp AS (
        |  SELECT a.item AS ia, b.item AS ib,
        |    CAST(sum(CASE WHEN a.s > b.s THEN 1 ELSE 0 END) AS BIGINT) AS w_a,
        |    CAST(sum(CASE WHEN b.s > a.s THEN 1 ELSE 0 END) AS BIGINT) AS w_b
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.item < b.item
        |  GROUP BY 1, 2),
        |edge AS (
        |  SELECT ia AS item, ib AS other, w_a + w_b AS n FROM cmp
        |  WHERE w_a + w_b > 0
        |  UNION ALL
        |  SELECT ib, ia, w_a + w_b FROM cmp WHERE w_a + w_b > 0),
        |iw AS (
        |  SELECT item, CAST(sum(w) AS BIGINT) AS n_wins FROM (
        |    SELECT ia AS item, w_a AS w FROM cmp
        |    UNION ALL SELECT ib, w_b FROM cmp) u
        |  GROUP BY 1 HAVING sum(w) >= 1),
        |ef AS (
        |  SELECT e.item, e.other, e.n FROM edge e
        |  JOIN iw i ON e.item = i.item JOIN iw j ON e.other = j.item),
        |p0 AS (SELECT item, CAST(1.0 AS DOUBLE) AS p FROM iw)""".stripMargin
    val its = (1 to iters).map { k =>
      s"""p$k AS (
         |  SELECT iw.item,
         |    CAST(CAST(CAST(iw.n_wins AS DOUBLE) / CAST(sum(
         |      CAST(CAST(e.n AS DOUBLE) / (pi.p + pj.p) AS DECIMAL(18,9))
         |    ) AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE) AS p
         |  FROM ef e
         |  JOIN p${k - 1} pi ON e.item = pi.item
         |  JOIN p${k - 1} pj ON e.other = pj.item
         |  JOIN iw ON iw.item = e.item
         |  GROUP BY iw.item, iw.n_wins)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$its,
       |nm AS (SELECT item, CAST(sum(n) AS BIGINT) AS n_matches
       |       FROM ef GROUP BY 1)
       |SELECT iw.item, nm.n_matches, iw.n_wins, p$iters.p AS strength
       |FROM iw JOIN nm USING (item) JOIN p$iters USING (item)
       |ORDER BY item""".stripMargin
  }

  // ---------------------------------------------------------------
  // Pairwise win-rate with Poisson-bootstrap CI
  // ---------------------------------------------------------------

  /** Pairwise win-rate per (experiment, variant pair) with a 95 %
    * Poisson-bootstrap confidence interval — the uncertainty readout
    * [[btStrength]] and best-of-n omit (they RANK arms; this says how
    * sure the ranking is at the pair grain, the number an arena-style
    * leaderboard publishes next to every head-to-head).
    *
    * Comparison rule: [[btStrength]]'s, verbatim — each user judges
    * every variant pair they emitted within an experiment, the larger
    * exact DECIMAL(18,2) value total wins, ties drop (shared
    * [[PairExpand]] fragment, so the fit and this readout can never
    * disagree on who won a comparison). The bootstrap is
    * [[Analytics.valueBootstrapCi]]'s machinery at the comparison
    * grain: each (comparison, replicate) draws a Poisson(1)
    * multiplicity from a dyadic md5 uniform seeded by the full
    * comparison key, replicate win-rates are single IEEE divisions of
    * exact integer sums, and the 2.5 %/97.5 % bounds are ORDER
    * STATISTICS picked by integer-exact indices (k_lo = ⌈B_eff/40⌉,
    * k_hi = B_eff − ⌊B_eff/40⌋ — never ⌈0.025·B⌉ on doubles, whose
    * representation error flips the index at B = 200). `significant`
    * = the CI excludes ½, the bootstrap analogue of a two-sided test
    * at α = 0.05 and directionally consistent with [[btStrength]]'s
    * ranking (PreferenceSpec pins both).
    *
    * Scale shape: one events scan to the (experiment, user, variant)
    * grain, the array expansion per (experiment, user) — judge-
    * bounded, no self-join — then the ×B explode is scan-side with
    * map-side combine onto the (experiment, pair, replicate) grain
    * (≤ experiments·T²·B rows through the shuffle, never
    * comparison-sized), and the order-statistic window is PARTITIONED
    * by pair (≤ B rows per partition). Replicates with an empty
    * resample (all multiplicities 0) drop; B_eff counts the rest. A
    * pair with NO surviving replicate still surfaces (left join from
    * the point estimate) with NULL ci bounds and significant=false.
    *
    * `kernel` picks the draw ([[Analytics.bootstrapU]]): `"md5"`
    * (default, the catalog face) is the oracle-parity kernel;
    * `"xxhash64"` is the flag-gated scale kernel — the draws are the
    * dominant cost at the 100× point (§7.11) and the codegen'd typed
    * hash skips the string render + digest (measured §7.13). Point
    * estimates are kernel-independent; CIs differ within bootstrap
    * noise.
    *
    * Output: (experiment_id, item_a, item_b, n_comparisons, wins_a,
    * win_rate, ci_lo, ci_hi, significant) ordered by the three keys. */
  def winrateBootstrapCi(events: DataFrame,
      replicates: Int = 200, kernel: String = "md5"): DataFrame = {
    val comps = winrateComps(winrateUt(events))
      // judge-bounded frame read twice (point estimate + the ×B
      // bootstrap) — the cache boundary keeps it ONE events scan and
      // one array expansion (the btStrength convention; released by
      // the ContextCleaner when the caller drops the frame)
      .persist()
    winrateFromComps(comps, replicates, kernel)
  }

  /** The (experiment, user, item) exact-DECIMAL value-total grain of
    * [[winrateBootstrapCi]]. Decimal sums are exact and associative, so
    * a streaming complete-mode aggregate over any slicing of the events
    * equals this batch grain bit-for-bit, and
    * `StreamingSpec.startReadout` over it with
    * [[winrateComps]] then [[winrateFromComps]] reproduces the batch
    * face (the mwu/kruskal grain convention, at the judge grain). */
  private[graft] def winrateUt(events: DataFrame): DataFrame = events
    .where(col("user_id").isNotNull)
    .select(get_json_object(col("props"), "$.k").as("experiment_id"),
      col("user_id"), col("event_type").as("item"), col("value"))
    .where(col("experiment_id").isNotNull)
    .groupBy(col("experiment_id"), col("user_id"), col("item"))
    .agg(sum(col("value").cast("decimal(18,2)")).as("s"))

  /** [[PairExpand]] applied to the unit grain: every unordered variant
    * pair each judge emitted, with the strict-inequality win bits;
    * ties dropped. Judge-bounded — no self-join. */
  private[graft] def winrateComps(ut: DataFrame): DataFrame = ut
    .groupBy(col("experiment_id"), col("user_id"))
    .agg(collect_list(struct(col("item"), col("s"))).as("arms"))
    .select(col("experiment_id"), col("user_id"),
      explode(expr(PairExpand)).as("pr"))
    .select(col("experiment_id"), col("user_id"),
      col("pr.ia").as("item_a"), col("pr.ib").as("item_b"),
      when(col("pr.sa") > col("pr.sb"), 1L).otherwise(0L).as("win_a"),
      when(col("pr.sb") > col("pr.sa"), 1L).otherwise(0L).as("win_b"))
    .where(col("win_a") + col("win_b") > 0)

  /** Point estimate + Poisson-bootstrap CI from the expanded
    * comparisons — a pure function of the comps frame, shared verbatim
    * by the batch face and a stream of [[winrateUt]] so the draw seeds,
    * the order-statistic picks and the outer-join surfacing can never
    * drift between the two. Caller owns comps' caching (it is read
    * twice: point estimate and the ×B resample). */
  private[graft] def winrateFromComps(comps: DataFrame,
      replicates: Int, kernel: String): DataFrame = {
    require(replicates >= 40,
      s"need >= 40 replicates for 2.5% order statistics, got $replicates")
    val point = comps
      .groupBy(col("experiment_id"), col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_comparisons"), sum(col("win_a")).as("wins_a"))
      .withColumn("win_rate", expr(
        "CAST(wins_a AS DOUBLE) / CAST(n_comparisons AS DOUBLE)"))
    val reps = comps
      .select(col("experiment_id"), col("user_id"), col("item_a"),
        col("item_b"), col("win_a"),
        explode(expr(s"sequence(0, ${replicates - 1})")).as("replicate"))
      .withColumn("u", expr(Analytics.bootstrapU(kernel,
        "experiment_id", "user_id", "item_a", "item_b", "replicate")))
      .withColumn("m", expr(Analytics.PoissonMult))
      .groupBy(col("experiment_id"), col("item_a"), col("item_b"),
        col("replicate"))
      .agg(sum(col("m")).cast("long").as("m_tot"),
        sum(col("m") * col("win_a")).cast("long").as("m_win"))
      .where(col("m_tot") > 0)
      .withColumn("wr", expr(
        "CAST(m_win AS DOUBLE) / CAST(m_tot AS DOUBLE)"))
    val wPair = Window.partitionBy(col("experiment_id"), col("item_a"),
      col("item_b"))
    val ranked = reps
      .withColumn("rk",
        row_number().over(wPair.orderBy(col("wr"), col("replicate")))
          .cast("long"))
      .withColumn("b_eff", count(lit(1)).over(wPair))
    val ci = ranked
      .groupBy(col("experiment_id"), col("item_a"), col("item_b"))
      .agg(
        max(when(expr(
          "rk = CAST(floor((b_eff + 39) / 40.0e0) AS BIGINT)"),
          col("wr"))).as("ci_lo"),
        max(when(expr(
          "rk = b_eff - CAST(floor(b_eff / 40.0e0) AS BIGINT)"),
          col("wr"))).as("ci_hi"))
    // OUTER join: a pair whose every replicate resamples empty
    // (all Poisson multiplicities 0 — probability (e^-n)^B, but a
    // silent drop if it ever fired) still surfaces, with NULL CI
    // bounds and significant = false. FULL outer rather than left,
    // for two reasons: (1) a ci-only key is impossible by
    // construction (reps ⊆ comps, so ci keys ⊆ point keys) — if one
    // ever appeared it would surface loudly as a NULL-stat row
    // instead of vanishing; (2) a LEFT join here is
    // cardinality-preserving (the right side is an aggregate on the
    // join keys), so under a count()-shaped action Catalyst prunes
    // the ENTIRE bootstrap subtree — the benchmark face silently
    // stopped timing the ×B resample (caught by the kernel probe's
    // B-scaling flatness: B=1600 ran faster than B=200). Full outer
    // is semantically identical here and not prunable.
    point.join(ci, Seq("experiment_id", "item_a", "item_b"), "outer")
      .withColumn("significant",
        coalesce(col("ci_lo") > lit(0.5) || col("ci_hi") < lit(0.5),
          lit(false)))
      .select(col("experiment_id"), col("item_a"), col("item_b"),
        col("n_comparisons"), col("wins_a"), col("win_rate"),
        col("ci_lo"), col("ci_hi"), col("significant"))
      .orderBy("experiment_id", "item_a", "item_b")
  }

  /** DuckDB replay of [[winrateBootstrapCi]]: the same decimal arm
    * totals (equi self-join formulation of the array expansion, the
    * [[btStrengthSql]] precedent), the same dyadic uniforms, CDF
    * breakpoints, and integer-exact order-statistic picks. */
  def winrateBootstrapCiSql(replicates: Int = 200): String =
    s"""WITH ut AS (
       |  SELECT json_extract_string(props, '$$.k') AS experiment_id,
       |    user_id, event_type AS item,
       |    sum(CAST(value AS DECIMAL(18,2))) AS s
       |  FROM events
       |  WHERE user_id IS NOT NULL
       |    AND json_extract_string(props, '$$.k') IS NOT NULL
       |  GROUP BY 1, 2, 3),
       |dc AS (
       |  SELECT a.experiment_id, a.user_id,
       |    a.item AS item_a, b.item AS item_b,
       |    CASE WHEN a.s > b.s THEN 1 ELSE 0 END AS win_a
       |  FROM ut a JOIN ut b ON a.experiment_id = b.experiment_id
       |    AND a.user_id = b.user_id AND a.item < b.item
       |  WHERE a.s <> b.s),
       |pt AS (
       |  SELECT experiment_id, item_a, item_b,
       |    count(*)::BIGINT AS n_comparisons,
       |    CAST(sum(win_a) AS BIGINT) AS wins_a
       |  FROM dc GROUP BY 1, 2, 3),
       |x AS (
       |  SELECT dc.*, t.replicate,
       |    (('0x' || substr(md5(experiment_id || ':' ||
       |        user_id::VARCHAR || ':' || item_a || ':' || item_b ||
       |        ':' || replicate::VARCHAR), 1, 8))::BIGINT + 1)
       |      / CAST(4294967296 AS DOUBLE) AS u
       |  FROM dc, (SELECT unnest(range($replicates)) AS replicate) t),
       |ml AS (
       |  SELECT experiment_id, item_a, item_b, replicate, win_a,
       |    ${Analytics.PoissonMult} AS m
       |  FROM x),
       |rg AS (
       |  SELECT experiment_id, item_a, item_b, replicate,
       |    sum(m)::BIGINT AS m_tot,
       |    CAST(sum(m * win_a) AS BIGINT) AS m_win
       |  FROM ml GROUP BY 1, 2, 3, 4),
       |rv AS (
       |  SELECT *, CAST(m_win AS DOUBLE) / CAST(m_tot AS DOUBLE) AS wr
       |  FROM rg WHERE m_tot > 0),
       |rk AS (
       |  SELECT *, row_number() OVER (
       |      PARTITION BY experiment_id, item_a, item_b
       |      ORDER BY wr, replicate) AS rk,
       |    count(*) OVER (
       |      PARTITION BY experiment_id, item_a, item_b) AS b_eff
       |  FROM rv),
       |ci AS (
       |  SELECT experiment_id, item_a, item_b,
       |    max(CASE WHEN rk = CAST(floor((b_eff + 39) / 40.0e0)
       |      AS BIGINT) THEN wr END) AS ci_lo,
       |    max(CASE WHEN rk = b_eff - CAST(floor(b_eff / 40.0e0)
       |      AS BIGINT) THEN wr END) AS ci_hi
       |  FROM rk GROUP BY 1, 2, 3)
       |SELECT pt.experiment_id, pt.item_a, pt.item_b, pt.n_comparisons,
       |  pt.wins_a,
       |  CAST(pt.wins_a AS DOUBLE) / CAST(pt.n_comparisons AS DOUBLE)
       |    AS win_rate,
       |  ci.ci_lo, ci.ci_hi,
       |  COALESCE(ci.ci_lo > 0.5e0 OR ci.ci_hi < 0.5e0, false)
       |    AS significant
       |FROM pt FULL JOIN ci USING (experiment_id, item_a, item_b)
       |ORDER BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------
  // Preference-data QA: length bias
  // ---------------------------------------------------------------

  /** Length-bias audit over the [[Corpus.dpoPairs]] preference set —
    * the standard DPO-data sanity check (length is the best-known
    * preference confound: reward models and synthetic judges
    * systematically prefer longer answers — Singhal et al., "A long
    * way to go: investigating length correlations in RLHF",
    * arXiv 2310.03716 — and a length-skewed pair set trains a
    * verbosity bias straight into the policy). Reports how often the
    * chosen completion is longer, the mean lengths and mean delta,
    * and the point-biserial correlation between the chosen indicator
    * and completion length (Pearson r over the 2m stacked
    * completions, computed from integer sums).
    *
    * Scale shape: the pair construction is [[Corpus.dpoPairs]]
    * unchanged; the audit is ONE aggregate over the m-row pair table
    * down to a single row — every sum is BIGINT-exact (Σlen² needs
    * m·L² < 2⁶³: at L = 10⁴ tokens that is m < 9×10¹⁰ pairs), and
    * the r chain is a fixed-order IEEE expression from those integer
    * sums, quantized through DECIMAL(18,9), written verbatim in both
    * engines.
    *
    * Output: one row — (n_pairs, n_chosen_longer, n_ties,
    * mean_len_chosen, mean_len_rejected, mean_delta, len_corr_pb);
    * r is NULL when either stacked variance is zero. */
  def dpoLengthBias(documents: DataFrame): DataFrame =
    Corpus.dpoPairs(documents)
      .agg(count(lit(1)).as("m"),
        sum(when(col("n_chosen") > col("n_rejected"), 1L).otherwise(0L))
          .as("n_chosen_longer"),
        sum(when(col("n_chosen") === col("n_rejected"), 1L).otherwise(0L))
          .as("n_ties"),
        sum(col("n_chosen")).as("s_c"),
        sum(col("n_rejected")).as("s_r"),
        sum(col("n_chosen") * col("n_chosen")
          + col("n_rejected") * col("n_rejected")).as("s_yy"))
      .select(col("m").as("n_pairs"), col("n_chosen_longer"),
        col("n_ties"),
        expr(LbMean("s_c")).as("mean_len_chosen"),
        expr(LbMean("s_r")).as("mean_len_rejected"),
        expr(LbDelta).as("mean_delta"),
        expr(LbCorr).as("len_corr_pb"))

  // the stacked-completion Pearson: n = 2m rows, x = chosen indicator
  // (Σx = Σx² = m), y = token length (Σy = s_c + s_r, Σxy = s_c) —
  // every input BIGINT, one fixed-order IEEE chain, quantized
  private def LbMean(s: String): String =
    s"""CAST(CAST(CAST($s AS DOUBLE) / CAST(m AS DOUBLE)
       |AS DECIMAL(18,9)) AS DOUBLE)""".stripMargin
  private val LbDelta =
    """CAST(CAST(CAST(s_c - s_r AS DOUBLE) / CAST(m AS DOUBLE)
      |AS DECIMAL(18,9)) AS DOUBLE)""".stripMargin
  private val LbCorr =
    """CASE WHEN m > 0
      |  AND CAST(2 * m AS DOUBLE) * CAST(s_yy AS DOUBLE)
      |      - CAST(s_c + s_r AS DOUBLE) * CAST(s_c + s_r AS DOUBLE)
      |      > 0.0 THEN
      |  CAST(CAST(
      |    (CAST(2 * m AS DOUBLE) * CAST(s_c AS DOUBLE)
      |     - CAST(m AS DOUBLE) * CAST(s_c + s_r AS DOUBLE))
      |    / (sqrt(CAST(2 * m AS DOUBLE) * CAST(m AS DOUBLE)
      |            - CAST(m AS DOUBLE) * CAST(m AS DOUBLE))
      |       * sqrt(CAST(2 * m AS DOUBLE) * CAST(s_yy AS DOUBLE)
      |              - CAST(s_c + s_r AS DOUBLE)
      |                * CAST(s_c + s_r AS DOUBLE)))
      |  AS DECIMAL(18,9)) AS DOUBLE)
      |END""".stripMargin

  /** DuckDB replay of [[dpoLengthBias]]: the full [[Corpus.dpoPairsSql]]
    * body as a nested CTE, then the identical one-row audit chain. */
  def dpoLengthBiasSql(): String =
    s"""WITH dpo AS (
       |${Corpus.dpoPairsSql()}
       |),
       |s AS (
       |  SELECT count(*)::BIGINT AS m,
       |    CAST(sum(CASE WHEN n_chosen > n_rejected THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_chosen_longer,
       |    CAST(sum(CASE WHEN n_chosen = n_rejected THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_ties,
       |    sum(n_chosen)::BIGINT AS s_c,
       |    sum(n_rejected)::BIGINT AS s_r,
       |    sum(n_chosen * n_chosen + n_rejected * n_rejected)::BIGINT
       |      AS s_yy
       |  FROM dpo)
       |SELECT m AS n_pairs, n_chosen_longer, n_ties,
       |  ${LbMean("s_c")} AS mean_len_chosen,
       |  ${LbMean("s_r")} AS mean_len_rejected,
       |  $LbDelta AS mean_delta,
       |  $LbCorr AS len_corr_pb
       |FROM s""".stripMargin

  // ---------------------------------------------------------------
  // Inter-annotator agreement
  // ---------------------------------------------------------------

  /** Per-source Cohen's kappa between two deterministic rule
    * "annotators" over the documents table — the agreement statistic
    * every labeling pipeline reports before trusting its labels
    * (Cohen, "A coefficient of agreement for nominal scales", 1960:
    * κ = (p_o − p_e)/(1 − p_e), chance-corrected via the annotators'
    * marginals). The two annotators are fixed text rules (the
    * [[Corpus.dpoPairs]] synthetic-judge precedent — deterministic
    * stand-ins where no human labels exist): annotator A passes docs
    * with ≥ 60 tokens, annotator B passes docs with ≥ 3 occurrences
    * of the token "the" — correlated (both track length/stopword
    * density) but not identical, so every confusion cell populates.
    *
    * Scale shape: both rules are scan-side per-row projections (zero
    * shuffle), then ONE aggregate to the source grain — the cheapest
    * shape in the file. κ, p_o, p_e are short IEEE chains from BIGINT
    * cell counts, quantized through DECIMAL(18,9); degenerate sources
    * (p_e = 1, both annotators constant and equal) yield NULL κ.
    *
    * Output: (source, n, n_both_pos, n_only_a, n_only_b, n_both_neg,
    * po, pe, kappa) ordered by source. */
  def annotatorKappa(documents: DataFrame): DataFrame =
    documents
      .select(col("source"),
        (size(split(col("text"), " ")) >= 60).as("la"),
        (size(filter(split(col("text"), " "),
          t => t === "the")) >= 3).as("lb"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("la") && col("lb"), 1L).otherwise(0L))
          .as("n_both_pos"),
        sum(when(col("la") && !col("lb"), 1L).otherwise(0L))
          .as("n_only_a"),
        sum(when(!col("la") && col("lb"), 1L).otherwise(0L))
          .as("n_only_b"),
        sum(when(!col("la") && !col("lb"), 1L).otherwise(0L))
          .as("n_both_neg"))
      .select(col("source"), col("n"), col("n_both_pos"), col("n_only_a"),
        col("n_only_b"), col("n_both_neg"),
        expr(KappaPo).as("po"), expr(KappaPe).as("pe"),
        expr(KappaExpr).as("kappa"))
      .orderBy("source")

  // the κ scalar chain, shared verbatim with the oracle: every input
  // is a BIGINT cell count, every division is written once
  private val KappaPo =
    """CAST(CAST(
      |  CAST(n_both_pos + n_both_neg AS DOUBLE) / CAST(n AS DOUBLE)
      |AS DECIMAL(18,9)) AS DOUBLE)""".stripMargin
  private val KappaPe =
    """CAST(CAST(
      |  (CAST(n_both_pos + n_only_a AS DOUBLE) / CAST(n AS DOUBLE))
      |  * (CAST(n_both_pos + n_only_b AS DOUBLE) / CAST(n AS DOUBLE))
      |  + (CAST(n_both_neg + n_only_b AS DOUBLE) / CAST(n AS DOUBLE))
      |  * (CAST(n_both_neg + n_only_a AS DOUBLE) / CAST(n AS DOUBLE))
      |AS DECIMAL(18,9)) AS DOUBLE)""".stripMargin
  private val KappaExpr =
    s"""CASE WHEN ($KappaPe) < 1.0 THEN
       |  CAST(CAST(
       |    (($KappaPo) - ($KappaPe)) / (1.0 - ($KappaPe))
       |  AS DECIMAL(18,9)) AS DOUBLE)
       |END""".stripMargin

  /** DuckDB replay of [[annotatorKappa]]: identical rules (string
    * split token count; list_filter 'the' count) and the identical
    * quantized κ chain. */
  def annotatorKappaSql(): String =
    s"""WITH d AS (
       |  SELECT source,
       |    len(string_split(text, ' ')) >= 60 AS la,
       |    len(list_filter(string_split(text, ' '), t -> t = 'the')) >= 3
       |      AS lb
       |  FROM documents),
       |c AS (
       |  SELECT source, count(*) AS n,
       |    CAST(sum(CASE WHEN la AND lb THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_both_pos,
       |    CAST(sum(CASE WHEN la AND NOT lb THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_only_a,
       |    CAST(sum(CASE WHEN NOT la AND lb THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_only_b,
       |    CAST(sum(CASE WHEN NOT la AND NOT lb THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_both_neg
       |  FROM d GROUP BY 1)
       |SELECT source, n, n_both_pos, n_only_a, n_only_b, n_both_neg,
       |  $KappaPo AS po, $KappaPe AS pe, $KappaExpr AS kappa
       |FROM c ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // GRPO group-normalized advantages
  // ---------------------------------------------------------------

  /** Group-relative advantage normalization — the GRPO objective's
    * data transform (Shao et al., "DeepSeekMath: pushing the limits
    * of mathematical reasoning", arXiv 2402.03300 §4.1: advantage of
    * sample i in its prompt group = (r_i − mean(r_group)) /
    * std(r_group), replacing PPO's learned value baseline with the
    * group statistic). Groups are users (the "prompt"), rewards are
    * event values.
    *
    * Scale shape: ONE shuffle — a window over the group key carrying
    * the count and the two exact DECIMAL sums ([[Analytics.SumValue]]
    * lattice, order-free), then a per-row scalar chain; identical
    * partitioning to every other per-user operator, no second pass,
    * output linear in events. Degenerate groups (n ≤ 1 or zero
    * variance) yield NULL advantage, the [[Analytics.valueStatsByType]]
    * guard.
    *
    * Output: one row per event — (event_id, user_id, value, n_group,
    * advantage) ordered by event_id, with advantage quantized through
    * DECIMAL(18,9). */
  def groupAdvantages(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    events
      .select(col("event_id"), col("user_id"), col("value"))
      .withColumn("n_group", count(lit(1)).over(w))
      .withColumn("s1",
        sum(col("value").cast("decimal(18,2)")).over(w).cast("double"))
      .withColumn("s2",
        sum((col("value") * col("value")).cast("decimal(20,4)")).over(w)
          .cast("double"))
      .select(col("event_id"), col("user_id"), col("value"),
        col("n_group"), expr(AdvantageExpr).as("advantage"))
      .orderBy("event_id")
  }

  // shared with the oracle verbatim: sample variance from the two
  // sums, σ via correctly-rounded sqrt, final quantization
  private val AdvantageExpr =
    """CASE WHEN n_group > 1
      |  AND s2 - (s1 * s1) / CAST(n_group AS DOUBLE) > 0.0 THEN
      |  CAST(CAST(
      |    (value - s1 / CAST(n_group AS DOUBLE))
      |    / sqrt((s2 - (s1 * s1) / CAST(n_group AS DOUBLE))
      |           / (CAST(n_group AS DOUBLE) - 1.0))
      |  AS DECIMAL(18,9)) AS DOUBLE)
      |END""".stripMargin

  /** DuckDB replay of [[groupAdvantages]]: the same windowed decimal
    * sums and the identical advantage chain. */
  def groupAdvantagesSql(): String =
    s"""WITH g AS (
       |  SELECT event_id, user_id, value,
       |    count(*) OVER w AS n_group,
       |    CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS s1,
       |    CAST(sum(CAST(value * value AS DECIMAL(20,4))) OVER w AS DOUBLE)
       |      AS s2
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id))
       |SELECT event_id, user_id, value, n_group,
       |  $AdvantageExpr AS advantage
       |FROM g ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------
  // Best-of-n rejection sampling
  // ---------------------------------------------------------------

  /** Best-of-n selection per prompt group — rejection-sampling
    * fine-tuning's data step (Yuan et al., "Scaling relationship on
    * learning mathematical reasoning", arXiv 2308.01825; also the
    * best-of-n baseline of Nakano et al., WebGPT, arXiv 2112.09332):
    * keep each group's highest-reward sample, with the margin to the
    * runner-up as the selection-confidence readout. Groups are users,
    * rewards are event values; ties break on the smaller event_id, so
    * selection is total and deterministic.
    *
    * Scale shape: ONE window shuffle on the group key (rank + lead +
    * count in the same window frame — one exchange, one sort), then a
    * rank-1 filter; output is one row per group. The margin is a
    * single IEEE subtraction of two raw doubles — exact, no
    * quantization needed.
    *
    * Output: (user_id, best_event_id, best_value, n_candidates,
    * margin) ordered by user_id; single-candidate groups have NULL
    * margin. */
  def bestOfN(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id").asc)
    events
      .select(col("event_id"), col("user_id"), col("value"))
      .withColumn("rn", row_number().over(w))
      .withColumn("next_value", lead(col("value"), 1).over(w))
      .withColumn("n_candidates",
        count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .where(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("best_event_id"),
        col("value").as("best_value"), col("n_candidates"),
        (col("value") - col("next_value")).as("margin"))
      .orderBy("user_id")
  }

  /** DuckDB replay of [[bestOfN]]: same window, same tiebreak, same
    * raw-double margin. */
  def bestOfNSql(): String =
    """SELECT user_id, event_id AS best_event_id, value AS best_value,
      |  n_candidates, value - next_value AS margin
      |FROM (
      |  SELECT event_id, user_id, value,
      |    row_number() OVER w AS rn,
      |    lead(value, 1) OVER w AS next_value,
      |    count(*) OVER (PARTITION BY user_id) AS n_candidates
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id
      |               ORDER BY value DESC, event_id ASC)) t
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  // pass@k
  // ---------------------------------------------------------------

  /** Unbiased pass@k estimator per task — the evals-pipeline readout
    * of Chen et al., "Evaluating large language models trained on
    * code" (HumanEval, arXiv 2107.03374 §2.1): with n samples and c
    * passes, pass@k = 1 − C(n−c,k)/C(n,k), computed via the stable
    * product form 1 − Π_{i=0}^{k−1} (n−c−i)/(n−i). Tasks are users,
    * a sample passes when its value exceeds `threshold` (the
    * model-gate convention of `quality_score_pinned`).
    *
    * Scale shape: ONE aggregate to the task grain (map-side combined
    * counts), then a per-task scalar chain — nothing downstream of
    * the groupBy touches event volume. The k-term product is written
    * in a FIXED left-to-right order in both engines, so the IEEE
    * chain is deterministic; the estimate quantizes through
    * DECIMAL(18,9). Tasks with fewer than k samples are excluded
    * (the estimator is undefined); fewer than k failures → pass@k
    * is exactly 1 (every size-k draw contains a pass).
    *
    * Output: (user_id, n, c, pass_at_k) ordered by user_id. */
  def passAtK(events: DataFrame, k: Int = 4,
      threshold: Double = 100.0): DataFrame =
    passAtKFromTasks(passAtKTasks(events, threshold), k)

  /** [[passAtK]]'s grain: per-task sample and pass counts `(n, c)` —
    * algebraic, so over a stream it equals the batch grain under any
    * micro-batch slicing. */
  private[graft] def passAtKTasks(events: DataFrame,
      threshold: Double = 100.0): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") > threshold, 1L).otherwise(0L)).as("c"))

  /** [[passAtK]]'s readout: the estimator over tasks with n >= k. */
  private[graft] def passAtKFromTasks(tasks: DataFrame, k: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    tasks
      .where(col("n") >= k)
      .select(col("user_id"), col("n"), col("c"),
        expr(passAtKExpr(k)).as("pass_at_k"))
      .orderBy("user_id")
  }

  // the product form, fixed order, shared verbatim with the oracle
  private[graft] def passAtKExpr(k: Int): String = {
    val prod = (0 until k)
      .map(i => s"(CAST(n - c - $i AS DOUBLE) / CAST(n - $i AS DOUBLE))")
      .mkString(" * ")
    s"""CASE WHEN n - c < $k THEN CAST(1.0 AS DOUBLE) ELSE
       |  CAST(CAST(1.0 - $prod AS DECIMAL(18,9)) AS DOUBLE)
       |END""".stripMargin
  }

  /** DuckDB replay of [[passAtK]]: identical counts and the identical
    * fixed-order product chain. */
  def passAtKSql(k: Int = 4, threshold: Double = 100.0): String =
    s"""WITH t AS (
       |  SELECT user_id, count(*) AS n,
       |    CAST(sum(CASE WHEN value > $threshold THEN 1 ELSE 0 END)
       |      AS BIGINT) AS c
       |  FROM events GROUP BY 1)
       |SELECT user_id, n, c,
       |  ${passAtKExpr(k)} AS pass_at_k
       |FROM t WHERE n >= $k ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  // BLEU-2 pair scoring
  // ---------------------------------------------------------------

  /** BLEU-2 between rank-paired documents — candidate-vs-reference
    * n-gram precision scoring (Papineni et al., "BLEU: a method for
    * automatic evaluation of machine translation", ACL 2002): clipped
    * modified precision p_n for n = 1, 2, brevity penalty
    * min(1, e^(1−r/c)), and the geometric mean BP·√(p₁·p₂). Pairing
    * reuses the [[Corpus.dpoPairs]] dense-rank half-split (rank r ↔
    * rank m+1−r over doc_id order): the lower-ranked document is the
    * REFERENCE, the mirrored one the CANDIDATE — deterministic with
    * no RNG, so the whole score is engine-exact.
    *
    * Scale shape: the rank is [[Analytics.rankByRange]] (range-
    * partitioned, O(partitions) driver state); gram counting is a
    * linear explode + one (doc, gram) aggregate; clipping is ONE
    * equi-join on (pair_id, n, gram) — candidate grams against
    * reference grams, never a cartesian — and one aggregate back to
    * the pair grain. Lengths ride the pairing frame (no extra pass).
    * √ is correctly rounded (exact on both engines); the single e^x
    * in BP quantizes through DECIMAL(18,9), the `source_kl` ln
    * precedent.
    *
    * Output: (pair_id, ref_doc_id, cand_doc_id, ref_len, cand_len,
    * p1, p2, bp, bleu) ordered by pair_id; pairs with zero p₁ or p₂
    * score 0. */
  def bleuPairs(documents: DataFrame): DataFrame = {
    val (ref, cand) = rankedPairs(documents)
    ref.drop("toks").join(cand.drop("toks"), Seq("pair_id"))
      .join(pairClipPivot(ref, cand), Seq("pair_id"))
      .select(col("pair_id"), col("ref_doc_id"), col("cand_doc_id"),
        col("ref_len"), col("cand_len"),
        expr(BleuP("clip1", "tot1")).as("p1"),
        expr(BleuP("clip2", "tot2")).as("p2"),
        expr(BleuBp).as("bp"))
      .withColumn("bleu", expr(BleuFinal))
      .orderBy("pair_id")
  }

  /** The [[Corpus.dpoPairs]] dense-rank half-split pairing shared by
    * every pair-scoring face ([[bleuPairs]], [[rougeNPairs]]; the
    * prefix face [[rougePairs]] re-slices its own): rank r ↔ rank
    * m+1−r over doc_id order, lower rank = REFERENCE. Returns the
    * (ref, cand) frames with `toks` and the side length. */
  private def rankedPairs(documents: DataFrame): (DataFrame, DataFrame) = {
    // eager: rk splits into the ref and cand halves — two consumers
    // of the text-carrying window
    val (rk, m) = Analytics.rankByRange(
      documents.select(col("doc_id"), col("text")), Seq("doc_id"),
      eager = true)
    val half = m / 2
    val withToks = rk.withColumn("toks", split(col("text"), " "))
    val ref = withToks.where(col("__rank") <= half).select(
      col("__rank").as("pair_id"), col("doc_id").as("ref_doc_id"),
      col("toks"), size(col("toks")).cast("long").as("ref_len"))
    val cand = withToks.where(col("__rank") > m - half).select(
      (lit(m) + 1L - col("__rank")).as("pair_id"),
      col("doc_id").as("cand_doc_id"),
      col("toks"), size(col("toks")).cast("long").as("cand_len"))
    (ref, cand)
  }

  // (pair, n, gram) counts of a pairing side, n = 1, 2
  private def pairGrams(side: DataFrame): DataFrame = {
    val uni = side.select(col("pair_id"), lit(1).as("n"),
      explode(col("toks")).as("gram"))
    val bi = side.select(col("pair_id"), lit(2).as("n"),
      explode(expr(
        """zip_with(slice(toks, 1, size(toks) - 1),
          |         slice(toks, 2, size(toks) - 1),
          |         (x, y) -> concat(x, ' ', y))""".stripMargin))
        .as("gram"))
    uni.unionAll(bi)
      .groupBy(col("pair_id"), col("n"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Per-pair clipped/total n-gram counts (n = 1, 2) — the shared
    * numerator machinery of [[bleuPairs]] (clipped precision) and
    * [[rougeNPairs]] (the same clipped overlap read as recall): ONE
    * (pair, n, gram) equi-join of candidate grams against reference
    * grams, never a cartesian. Output: (pair_id, clip1, tot1, clip2,
    * tot2) with totals counted over the CANDIDATE side. */
  private def pairClipPivot(ref: DataFrame, cand: DataFrame): DataFrame =
    pairGrams(cand)
      .join(pairGrams(ref).withColumnRenamed("cnt", "cnt_ref"),
        Seq("pair_id", "n", "gram"), "left")
      .groupBy(col("pair_id"), col("n"))
      .agg(sum(least(col("cnt"), coalesce(col("cnt_ref"), lit(0L))))
        .as("clipped"),
        sum(col("cnt")).as("total"))
      .groupBy(col("pair_id"))
      .agg(
        sum(when(col("n") === 1, col("clipped")).otherwise(0L))
          .as("clip1"),
        sum(when(col("n") === 1, col("total")).otherwise(0L)).as("tot1"),
        sum(when(col("n") === 2, col("clipped")).otherwise(0L))
          .as("clip2"),
        sum(when(col("n") === 2, col("total")).otherwise(0L)).as("tot2"))

  // single-division precision: exact IEEE, no quantization needed
  private def BleuP(clip: String, tot: String): String =
    s"""CASE WHEN $tot > 0
       |THEN CAST($clip AS DOUBLE) / CAST($tot AS DOUBLE)
       |ELSE CAST(0.0 AS DOUBLE) END""".stripMargin
  // the one transcendental in the chain — quantized (source_kl ln
  // precedent); cand_len > 0 always (split of a non-empty string)
  private val BleuBp =
    """CASE WHEN cand_len >= ref_len THEN CAST(1.0 AS DOUBLE) ELSE
      |  CAST(CAST(exp(1.0 - CAST(ref_len AS DOUBLE)
      |                     / CAST(cand_len AS DOUBLE))
      |  AS DECIMAL(18,9)) AS DOUBLE)
      |END""".stripMargin
  private val BleuFinal =
    """CASE WHEN p1 > 0.0 AND p2 > 0.0 THEN
      |  CAST(CAST(bp * sqrt(p1 * p2) AS DECIMAL(18,9)) AS DOUBLE)
      |ELSE CAST(0.0 AS DOUBLE) END""".stripMargin

  // the shared pairing + clipped-count CTE chain (through `prec`),
  // consumed by both bleuPairsSql and rougeNPairsSql so the pairing
  // and the clip join can never drift between the two oracles
  private val PairClipCtes: String =
    s"""rk AS (
       |  SELECT doc_id, text,
       |    row_number() OVER (ORDER BY doc_id) AS r,
       |    count(*) OVER () AS m
       |  FROM documents),
       |ref AS (
       |  SELECT r AS pair_id, doc_id AS ref_doc_id, text,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ref_len
       |  FROM rk WHERE r <= m // 2),
       |cand AS (
       |  SELECT m + 1 - r AS pair_id, doc_id AS cand_doc_id, text,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS cand_len
       |  FROM rk WHERE r > m - m // 2),
       |rt AS (
       |  SELECT pair_id, unnest(string_split(text, ' ')) AS tok,
       |    generate_subscripts(string_split(text, ' '), 1) AS idx
       |  FROM ref),
       |ct AS (
       |  SELECT pair_id, unnest(string_split(text, ' ')) AS tok,
       |    generate_subscripts(string_split(text, ' '), 1) AS idx
       |  FROM cand),
       |rg AS (
       |  SELECT pair_id, 1 AS n, tok AS gram, count(*) AS cnt_ref
       |  FROM rt GROUP BY 1, 2, 3
       |  UNION ALL
       |  SELECT a.pair_id, 2, a.tok || ' ' || b.tok, count(*)
       |  FROM rt a JOIN rt b ON a.pair_id = b.pair_id
       |    AND b.idx = a.idx + 1
       |  GROUP BY 1, 2, 3),
       |cg AS (
       |  SELECT pair_id, 1 AS n, tok AS gram, count(*) AS cnt
       |  FROM ct GROUP BY 1, 2, 3
       |  UNION ALL
       |  SELECT a.pair_id, 2, a.tok || ' ' || b.tok, count(*)
       |  FROM ct a JOIN ct b ON a.pair_id = b.pair_id
       |    AND b.idx = a.idx + 1
       |  GROUP BY 1, 2, 3),
       |prec AS (
       |  SELECT pair_id,
       |    CAST(sum(CASE WHEN n = 1 THEN clipped ELSE 0 END) AS BIGINT)
       |      AS clip1,
       |    CAST(sum(CASE WHEN n = 1 THEN total ELSE 0 END) AS BIGINT)
       |      AS tot1,
       |    CAST(sum(CASE WHEN n = 2 THEN clipped ELSE 0 END) AS BIGINT)
       |      AS clip2,
       |    CAST(sum(CASE WHEN n = 2 THEN total ELSE 0 END) AS BIGINT)
       |      AS tot2
       |  FROM (
       |    SELECT c.pair_id, c.n,
       |      sum(least(c.cnt, coalesce(r.cnt_ref, 0))) AS clipped,
       |      sum(c.cnt) AS total
       |    FROM cg c LEFT JOIN rg r
       |      ON c.pair_id = r.pair_id AND c.n = r.n AND c.gram = r.gram
       |    GROUP BY 1, 2) pn
       |  GROUP BY 1)""".stripMargin

  /** DuckDB replay of [[bleuPairs]]: row_number pairing over doc_id
    * order (≡ rankByRange on the same total order), idx-join bigrams,
    * the same clipped-min join, and the identical scalar chains. */
  def bleuPairsSql(): String =
    s"""WITH $PairClipCtes,
       |scored AS (
       |  SELECT ref.pair_id, ref_doc_id, cand_doc_id, ref_len, cand_len,
       |    ${BleuP("clip1", "tot1")} AS p1,
       |    ${BleuP("clip2", "tot2")} AS p2,
       |    $BleuBp AS bp
       |  FROM ref JOIN cand ON ref.pair_id = cand.pair_id
       |  JOIN prec ON prec.pair_id = ref.pair_id)
       |SELECT pair_id, ref_doc_id, cand_doc_id, ref_len, cand_len,
       |  p1, p2, bp, $BleuFinal AS bleu
       |FROM scored ORDER BY pair_id""".stripMargin

  // ---------------------------------------------------------------
  // ROUGE-N pair scoring
  // ---------------------------------------------------------------

  /** ROUGE-N (n = 1, 2) between the same rank-paired documents — the
    * RECALL-oriented n-gram pair metric completing the family next to
    * [[bleuPairs]] (clipped precision + BP) and [[rougePairs]]
    * (LCS-based prefix F): ROUGE-N recall = Σ_g min(c_cand, c_ref) /
    * |ref n-grams| (Lin, ACL 2004 Workshop §2), precision the same
    * numerator over the candidate total, F1 their harmonic mean. The
    * clipped numerators and candidate totals are [[pairClipPivot]] —
    * the IDENTICAL machinery as BLEU, so the two metrics can never
    * disagree on matching; reference totals come from the pairing
    * frame's lengths (|ref| unigrams, |ref|−1 bigrams — no second
    * gram pass).
    *
    * Scale shape: the bleu budget exactly — rankByRange pairing, one
    * (pair, n, gram) equi-join, output linear in pairs. P/R are
    * single IEEE divisions; F quantizes DECIMAL(18,9).
    *
    * Output: (pair_id, ref_doc_id, cand_doc_id, ref_len, cand_len,
    * r1, p1, f1, r2, p2, f2) ordered by pair_id. */
  def rougeNPairs(documents: DataFrame): DataFrame = {
    val (ref, cand) = rankedPairs(documents)
    ref.drop("toks").join(cand.drop("toks"), Seq("pair_id"))
      .join(pairClipPivot(ref, cand), Seq("pair_id"))
      .withColumn("r1", expr(BleuP("clip1", "ref_len")))
      .withColumn("p1", expr(BleuP("clip1", "tot1")))
      .withColumn("r2", expr(BleuP("clip2", "greatest(ref_len - 1, 0)")))
      .withColumn("p2", expr(BleuP("clip2", "tot2")))
      .select(col("pair_id"), col("ref_doc_id"), col("cand_doc_id"),
        col("ref_len"), col("cand_len"),
        col("r1"), col("p1"), expr(RougeNF("r1", "p1")).as("f1"),
        col("r2"), col("p2"), expr(RougeNF("r2", "p2")).as("f2"))
      .orderBy("pair_id")
  }

  // harmonic F over the two single-division components; 0 when either
  // side is 0 (no matched grams)
  private def RougeNF(r: String, p: String): String =
    s"""CASE WHEN $r > 0.0e0 AND $p > 0.0e0 THEN
       |  CAST(CAST(2.0e0 * $p * $r / ($p + $r)
       |  AS DECIMAL(18,9)) AS DOUBLE)
       |ELSE CAST(0.0 AS DOUBLE) END""".stripMargin

  /** DuckDB replay of [[rougeNPairs]]: the shared pairing/clip CTEs
    * and the identical P/R/F chains. */
  def rougeNPairsSql(): String =
    s"""WITH $PairClipCtes,
       |scored AS (
       |  SELECT ref.pair_id, ref_doc_id, cand_doc_id, ref_len, cand_len,
       |    ${BleuP("clip1", "ref_len")} AS r1,
       |    ${BleuP("clip1", "tot1")} AS p1,
       |    ${BleuP("clip2", "greatest(ref_len - 1, 0)")} AS r2,
       |    ${BleuP("clip2", "tot2")} AS p2
       |  FROM ref JOIN cand ON ref.pair_id = cand.pair_id
       |  JOIN prec ON prec.pair_id = ref.pair_id)
       |SELECT pair_id, ref_doc_id, cand_doc_id, ref_len, cand_len,
       |  r1, p1, ${RougeNF("r1", "p1")} AS f1,
       |  r2, p2, ${RougeNF("r2", "p2")} AS f2
       |FROM scored ORDER BY pair_id""".stripMargin

  // ---------------------------------------------------------------
  // ROUGE-L pair scoring
  // ---------------------------------------------------------------

  /** ROUGE-L between rank-paired documents — the LCS-based recall/
    * precision/F pair metric standing next to [[bleuPairs]]'s n-gram
    * precision (Lin, ACL 2004 Workshop §3.1: P = LCS/|cand|,
    * R = LCS/|ref|, F = 2PR/(P+R)). Pairing is the identical
    * [[Corpus.dpoPairs]] dense-rank half-split ([[bleuPairs]]'s —
    * rank r ↔ rank m+1−r over doc_id order), so the two metrics
    * score the same pairs.
    *
    * Both sides are truncated to their first `maxToks` tokens — the
    * face's contract is PREFIX ROUGE-L. This keeps the per-pair DP
    * bounded at maxToks² scan-side work on any corpus (the LCS DP is
    * quadratic; an unbounded document pair would make per-row cost
    * data-dependent), and bounds the oracle's RECURSIVE-CTE replay,
    * which carries the DP row as a LIST and pays an extra maxToks
    * factor for its prefix-max ([[rougePairsSql]]).
    *
    * Scale shape: one [[Analytics.rankByRange]] pairing (range-
    * partitioned rank), ONE pair_id equi-join, then a scan-side
    * codegen'd [[graft.functions.LcsLen]] call per pair — no shuffle
    * beyond the join, output linear in pairs. P and R are single IEEE
    * divisions of exact integers (the [[BleuP]] discipline — no
    * quantization needed); F quantizes through DECIMAL(18,9) (one
    * compound chain, engines agree on every IEEE step).
    *
    * Output: (pair_id, ref_doc_id, cand_doc_id, ref_len_t,
    * cand_len_t, lcs, rouge_p, rouge_r, rouge_f) ordered by pair_id;
    * pairs with an empty LCS score 0. */
  def rougePairs(documents: DataFrame, maxToks: Int = 24): DataFrame = {
    graft.functions.Registry.ensure(documents.sparkSession)
    // eager: rk splits into the ref and cand halves — two consumers
    // of the text-carrying window
    val (rk, m) = Analytics.rankByRange(
      documents.select(col("doc_id"), col("text")), Seq("doc_id"),
      eager = true)
    val half = m / 2
    val withToks = rk.withColumn("toks",
      expr(s"slice(split(text, ' '), 1, $maxToks)"))
    val ref = withToks.where(col("__rank") <= half).select(
      col("__rank").as("pair_id"), col("doc_id").as("ref_doc_id"),
      col("toks").as("rt"), size(col("toks")).cast("long").as("ref_len_t"))
    val cand = withToks.where(col("__rank") > m - half).select(
      (lit(m) + 1L - col("__rank")).as("pair_id"),
      col("doc_id").as("cand_doc_id"),
      col("toks").as("ct"), size(col("toks")).cast("long").as("cand_len_t"))
    ref.join(cand, Seq("pair_id"))
      .withColumn("lcs", expr("lcs_len(rt, ct)"))
      .withColumn("rouge_p", expr(RougeP))
      .withColumn("rouge_r", expr(RougeR))
      .withColumn("rouge_f", expr(RougeF))
      .select(col("pair_id"), col("ref_doc_id"), col("cand_doc_id"),
        col("ref_len_t"), col("cand_len_t"), col("lcs"),
        col("rouge_p"), col("rouge_r"), col("rouge_f"))
      .orderBy("pair_id")
  }

  // single-division precision/recall: exact IEEE, no quantization
  // (the BleuP discipline); lengths are ≥ 1 (split of any string
  // yields at least one token)
  private val RougeP =
    "CAST(lcs AS DOUBLE) / CAST(cand_len_t AS DOUBLE)"
  private val RougeR =
    "CAST(lcs AS DOUBLE) / CAST(ref_len_t AS DOUBLE)"
  private val RougeF =
    """CASE WHEN lcs > 0 THEN
      |  CAST(CAST(2.0e0 * rouge_p * rouge_r / (rouge_p + rouge_r)
      |  AS DECIMAL(18,9)) AS DOUBLE)
      |ELSE CAST(0.0 AS DOUBLE) END""".stripMargin

  /** DuckDB replay of [[rougePairs]]: the same row_number pairing as
    * [[bleuPairsSql]], then the LCS DP as a RECURSIVE CTE (the
    * `unigramSegmentPinnedSql` sliding-state precedent, with the DP
    * ROW as a LIST instead of a fixed-width window): iteration i
    * folds candidate token i into the row via
    * `t[j] = max(row[j], row[j-1] + eq(ct[i], rt[j]))`, then restores
    * the in-row dependency `dp[i][j] ≥ dp[i][j-1]` as a prefix max —
    * `max(dp[i-1][j], dp[i][j-1], dp[i-1][j-1]+eq)` unrolls along j
    * to exactly `max over j' ≤ j of t[j']`. All-integer state, so the
    * DP compares are exact in both engines. */
  def rougePairsSql(maxToks: Int = 24): String =
    s"""WITH RECURSIVE rk AS (
       |  SELECT doc_id, text,
       |    row_number() OVER (ORDER BY doc_id) AS r,
       |    count(*) OVER () AS m
       |  FROM documents),
       |ref AS (
       |  SELECT r AS pair_id, doc_id AS ref_doc_id,
       |    list_slice(string_split(text, ' '), 1, $maxToks) AS rt
       |  FROM rk WHERE r <= m // 2),
       |cand AS (
       |  SELECT m + 1 - r AS pair_id, doc_id AS cand_doc_id,
       |    list_slice(string_split(text, ' '), 1, $maxToks) AS ct
       |  FROM rk WHERE r > m - m // 2),
       |pr AS (
       |  SELECT ref.pair_id, ref_doc_id, cand_doc_id, rt, ct,
       |    CAST(len(rt) AS BIGINT) AS ref_len_t,
       |    CAST(len(ct) AS BIGINT) AS cand_len_t
       |  FROM ref JOIN cand ON ref.pair_id = cand.pair_id),
       |dp AS (
       |  SELECT pair_id, 0 AS i,
       |    list_transform(range(1, ref_len_t + 1), j -> 0::BIGINT) AS dprow
       |  FROM pr
       |  UNION ALL
       |  SELECT pair_id, i + 1,
       |    list_transform(range(1, rl + 1),
       |      j -> list_max(list_slice(t, 1, j))) AS dprow
       |  FROM (
       |    SELECT dp.pair_id, dp.i, pr.ref_len_t AS rl,
       |      list_transform(range(1, pr.ref_len_t + 1),
       |        j -> greatest(dp.dprow[j],
       |          (CASE WHEN j >= 2 THEN dp.dprow[j - 1] ELSE 0::BIGINT END)
       |          + (CASE WHEN pr.ct[dp.i + 1] = pr.rt[j]
       |             THEN 1::BIGINT ELSE 0::BIGINT END))) AS t
       |    FROM dp JOIN pr ON dp.pair_id = pr.pair_id
       |    WHERE dp.i < pr.cand_len_t) s),
       |scored AS (
       |  SELECT pr.pair_id, ref_doc_id, cand_doc_id, ref_len_t,
       |    cand_len_t, d.dprow[ref_len_t] AS lcs
       |  FROM pr JOIN dp d
       |    ON pr.pair_id = d.pair_id AND d.i = pr.cand_len_t),
       |withpr AS (
       |  SELECT *, $RougeP AS rouge_p, $RougeR AS rouge_r FROM scored)
       |SELECT pair_id, ref_doc_id, cand_doc_id, ref_len_t, cand_len_t,
       |  lcs, rouge_p, rouge_r, $RougeF AS rouge_f
       |FROM withpr ORDER BY pair_id""".stripMargin

  // ---------------------------------------------------------------
  // chrF pair scoring
  // ---------------------------------------------------------------

  /** chrF between the same rank-paired documents — the
    * CHARACTER-n-gram F-score (Popović, "chrF: character n-gram
    * F-score for automatic MT evaluation", WMT 2015): for each order
    * n = 1..`maxN`, clipped character-n-gram precision and recall;
    * chrF = (1+β²)·P̄·R̄ / (β²·P̄ + R̄) over the order-macro-averages
    * with β = 2 (recall-weighted). Tokenization-free, so it credits
    * morphological near-matches BLEU/ROUGE miss — the third leg of
    * the pair-metric family ([[bleuPairs]] word precision,
    * [[rougeNPairs]]/[[rougePairs]] word recall/LCS).
    *
    * Order semantics (deterministic contract, the sacrebleu
    * effective-order rule): an order where NEITHER side has any
    * n-gram is skipped; an order where only one side has grams
    * counts with P_n = R_n = 0. Identical texts therefore score
    * exactly 1 at any length. Both sides truncate to their first
    * `maxChars` characters (prefix chrF — the [[rougePairs]]
    * bounded-per-pair contract, keeping scan-side work and the
    * oracle's gram explode bounded at 100 TB).
    *
    * Scale shape: one rankByRange pairing, ONE (pair, n, gram)
    * equi-join of the two sides' character-gram counts (never a
    * cartesian), and a 6-row-per-pair order spine built from lengths
    * alone (no second gram pass). Per-order P/R are single IEEE
    * divisions quantized onto the 1e-9 floor lattice before the
    * order-mean DECIMAL sums; the final harmonic chain quantizes the
    * same way.
    *
    * Output: (pair_id, ref_doc_id, cand_doc_id, ref_chars,
    * cand_chars, n_orders, prec_avg, rec_avg, chrf) by pair_id. */
  def chrfPairs(documents: DataFrame, maxN: Int = 6,
      maxChars: Int = 1000): DataFrame = {
    // eager: rk splits into the ref and cand halves — two consumers
    // of the text-carrying window
    val (rk, m) = Analytics.rankByRange(
      documents.select(col("doc_id"), col("text")), Seq("doc_id"),
      eager = true)
    val half = m / 2
    val wc = rk.withColumn("chars",
      expr(s"substring(text, 1, $maxChars)"))
    val ref = wc.where(col("__rank") <= half).select(
      col("__rank").as("pair_id"), col("doc_id").as("ref_doc_id"),
      col("chars"), length(col("chars")).cast("long").as("ref_chars"))
    val cand = wc.where(col("__rank") > m - half).select(
      (lit(m) + 1L - col("__rank")).as("pair_id"),
      col("doc_id").as("cand_doc_id"),
      col("chars"), length(col("chars")).cast("long").as("cand_chars"))
    def grams(side: DataFrame): DataFrame = side
      .select(col("pair_id"), explode(expr(
        s"""flatten(transform(sequence(1, $maxN), n ->
           |  IF(length(chars) >= n,
           |    transform(sequence(1, length(chars) - n + 1), i ->
           |      struct(n AS n, substring(chars, i, n) AS gram)),
           |    array())))""".stripMargin)).as("g"))
      .select(col("pair_id"), col("g.n").as("n"), col("g.gram").as("gram"))
      .groupBy(col("pair_id"), col("n"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    val overlap = grams(cand)
      .join(grams(ref).withColumnRenamed("cnt", "cnt_ref"),
        Seq("pair_id", "n", "gram"), "left")
      .groupBy(col("pair_id"), col("n"))
      .agg(sum(least(col("cnt"), coalesce(col("cnt_ref"), lit(0L))))
        .as("clip"))
    // the order spine: every (pair, n) cell with totals derived from
    // lengths — orders the gram join never produced stay present
    val spine = ref.drop("chars").join(cand.drop("chars"), Seq("pair_id"))
      .select(col("*"), explode(expr(
        s"sequence(1, $maxN)")).as("n"))
      .withColumn("tot_ref", expr("greatest(ref_chars - n + 1, 0L)"))
      .withColumn("tot_cand", expr("greatest(cand_chars - n + 1, 0L)"))
    val perOrder = spine
      .join(overlap, Seq("pair_id", "n"), "left")
      .withColumn("clip", coalesce(col("clip"), lit(0L)))
      .where(col("tot_ref") + col("tot_cand") > 0)
      .withColumn("p_n", expr(ChrfDiv("clip", "tot_cand")))
      .withColumn("r_n", expr(ChrfDiv("clip", "tot_ref")))
    perOrder
      .groupBy(col("pair_id"), col("ref_doc_id"), col("cand_doc_id"),
        col("ref_chars"), col("cand_chars"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(p_n AS DECIMAL(18,9))")).as("sp"),
        sum(expr("CAST(r_n AS DECIMAL(18,9))")).as("sr"))
      .withColumn("prec_avg", expr(ChrfMean("sp")))
      .withColumn("rec_avg", expr(ChrfMean("sr")))
      .withColumn("chrf", expr(ChrfF))
      .select(col("pair_id"), col("ref_doc_id"), col("cand_doc_id"),
        col("ref_chars"), col("cand_chars"), col("n_orders"),
        col("prec_avg"), col("rec_avg"), col("chrf"))
      .orderBy("pair_id")
  }

  // chrF scalar chains, shared verbatim with the oracle: lattice
  // per-order divisions, DECIMAL order means, β² = 4 exact
  private def ChrfDiv(num: String, den: String): String =
    s"""CASE WHEN $den > 0 THEN
       |  (floor(CAST($num AS DOUBLE) / CAST($den AS DOUBLE)
       |    * 1e9 + 0.5e0) / 1e9)
       |ELSE CAST(0.0 AS DOUBLE) END""".stripMargin
  private def ChrfMean(s: String): String =
    s"""(floor(CAST($s AS DOUBLE) / CAST(n_orders AS DOUBLE)
       |  * 1e9 + 0.5e0) / 1e9)""".stripMargin
  private val ChrfF =
    """CASE WHEN 4.0e0 * prec_avg + rec_avg > 0 THEN
      |  (floor(5.0e0 * prec_avg * rec_avg
      |    / (4.0e0 * prec_avg + rec_avg) * 1e9 + 0.5e0) / 1e9)
      |ELSE CAST(0.0 AS DOUBLE) END""".stripMargin

  /** DuckDB replay of [[chrfPairs]]: row_number pairing, per-order
    * substr gram explodes, the same clip join, length-derived order
    * spine, and the identical lattice chains. */
  def chrfPairsSql(maxN: Int = 6, maxChars: Int = 1000): String =
    s"""WITH rk AS (
       |  SELECT doc_id, substr(text, 1, $maxChars) AS chars,
       |    row_number() OVER (ORDER BY doc_id) AS r,
       |    count(*) OVER () AS m
       |  FROM documents),
       |ref AS (
       |  SELECT r AS pair_id, doc_id AS ref_doc_id, chars,
       |    CAST(length(chars) AS BIGINT) AS ref_chars
       |  FROM rk WHERE r <= m // 2),
       |cand AS (
       |  SELECT m + 1 - r AS pair_id, doc_id AS cand_doc_id, chars,
       |    CAST(length(chars) AS BIGINT) AS cand_chars
       |  FROM rk WHERE r > m - m // 2),
       |rg AS (
       |  SELECT pair_id, n.n,
       |    unnest(list_transform(range(1, length(chars) - n.n + 2),
       |      i -> substr(chars, CAST(i AS INT), n.n))) AS gram
       |  FROM ref, (SELECT unnest(range(1, ${maxN + 1})) AS n) n
       |  WHERE length(chars) >= n.n),
       |cg AS (
       |  SELECT pair_id, n.n,
       |    unnest(list_transform(range(1, length(chars) - n.n + 2),
       |      i -> substr(chars, CAST(i AS INT), n.n))) AS gram
       |  FROM cand, (SELECT unnest(range(1, ${maxN + 1})) AS n) n
       |  WHERE length(chars) >= n.n),
       |rgc AS (
       |  SELECT pair_id, n, gram, count(*)::BIGINT AS cnt_ref
       |  FROM rg GROUP BY 1, 2, 3),
       |cgc AS (
       |  SELECT pair_id, n, gram, count(*)::BIGINT AS cnt
       |  FROM cg GROUP BY 1, 2, 3),
       |ov AS (
       |  SELECT c.pair_id, c.n,
       |    CAST(sum(least(c.cnt, coalesce(r.cnt_ref, 0))) AS BIGINT)
       |      AS clip
       |  FROM cgc c LEFT JOIN rgc r
       |    ON c.pair_id = r.pair_id AND c.n = r.n AND c.gram = r.gram
       |  GROUP BY 1, 2),
       |spine AS (
       |  SELECT ref.pair_id, ref_doc_id, cand_doc_id, ref_chars,
       |    cand_chars, n.n,
       |    greatest(ref_chars - n.n + 1, 0) AS tot_ref,
       |    greatest(cand_chars - n.n + 1, 0) AS tot_cand
       |  FROM ref JOIN cand ON ref.pair_id = cand.pair_id,
       |    (SELECT unnest(range(1, ${maxN + 1})) AS n) n),
       |po AS (
       |  SELECT s.*, coalesce(ov.clip, 0) AS clip,
       |    ${ChrfDiv("coalesce(ov.clip, 0)", "tot_cand")} AS p_n,
       |    ${ChrfDiv("coalesce(ov.clip, 0)", "tot_ref")} AS r_n
       |  FROM spine s LEFT JOIN ov
       |    ON s.pair_id = ov.pair_id AND s.n = ov.n
       |  WHERE tot_ref + tot_cand > 0),
       |agg AS (
       |  SELECT pair_id, ref_doc_id, cand_doc_id, ref_chars,
       |    cand_chars, count(*)::BIGINT AS n_orders,
       |    sum(CAST(p_n AS DECIMAL(18,9))) AS sp,
       |    sum(CAST(r_n AS DECIMAL(18,9))) AS sr
       |  FROM po GROUP BY 1, 2, 3, 4, 5),
       |av AS (
       |  SELECT pair_id, ref_doc_id, cand_doc_id, ref_chars,
       |    cand_chars, n_orders,
       |    ${ChrfMean("sp")} AS prec_avg,
       |    ${ChrfMean("sr")} AS rec_avg
       |  FROM agg)
       |SELECT pair_id, ref_doc_id, cand_doc_id, ref_chars, cand_chars,
       |  n_orders, prec_avg, rec_avg, $ChrfF AS chrf
       |FROM av ORDER BY pair_id""".stripMargin

  // ---------------------------------------------------------------
  // Krippendorff's alpha (nominal) — m-rater agreement
  // ---------------------------------------------------------------

  /** Krippendorff's alpha over the [[Corpus.labelMajority]] m-rater
    * vote table — the agreement coefficient that GENERALIZES
    * [[annotatorKappa]]'s two-rater Cohen's κ to any number of raters
    * (and, unlike κ, to missing ratings): α = 1 − D_o/D_e over the
    * coincidence matrix (Krippendorff, "Content analysis" 2004 §11;
    * nominal metric — disagreement is 0/1). Votes are the
    * deterministic hash-fabricated table [[Corpus.fabricatedVotes]]
    * shared with `label_majority`, so the whole face replays in SQL.
    *
    * Arithmetic: with n_uc = count of label c in unit u and
    * m_u = Σ_c n_uc, each unit contributes m_u² − Σ_c n_uc² ordered
    * disagreeing pairs weighted 1/(m_u − 1); D_o is their mean over
    * the n = Σ m_u pairable values, and D_e = (n² − Σ_c n_c²) /
    * (n(n−1)) from the pooled label totals. Everything is integer
    * until the per-unit 1/(m_u−1) division (quantized DECIMAL(18,9),
    * exact when m_u is constant) and three final IEEE divisions.
    * BIGINT bound: n² needs n < 3.0e9 ratings — narrow the audited
    * slice beyond that (the [[Analytics.visitsCusum]] overflow
    * convention; DuckDB would silently widen to HUGEINT and break the
    * twin contract, so the bound is the contract).
    *
    * Scale shape: one shuffle to the (unit, label) grain, then a
    * unit-grain and a label-grain aggregate — both bounded by the
    * corpus and label domain; the final frame is ONE row. Units with
    * fewer than 2 ratings are unpairable and drop (the canonical
    * rule; no-op under the fabricated all-m table).
    *
    * Output: (n_units, n_values, n_labels, d_obs, d_exp, alpha);
    * alpha is NULL when D_e = 0 (a single-label corpus has no chance
    * disagreement to normalize by). */
  def krippendorffAlpha(documents: DataFrame,
      annotators: Int = 5): DataFrame =
    krippendorffFromVotes(
      Corpus.fabricatedVotes(documents, annotators))

  /** The coefficient over an ARBITRARY votes frame
    * `(doc_id, annotator, label)` — split out so fixtures can feed
    * hand tables (perfect agreement, chance, the κ reconciliation). */
  private[graft] def krippendorffFromVotes(votes: DataFrame): DataFrame = {
    val nuc = votes
      .groupBy(col("doc_id"), col("label"))
      .agg(count(lit(1)).as("n_uc"))
    val units = nuc
      .groupBy(col("doc_id"))
      .agg(sum(col("n_uc")).as("m_u"),
        sum(col("n_uc") * col("n_uc")).as("ss_u"))
      .where(col("m_u") >= 2)
    val unitStats = units.agg(
      count(lit(1)).as("n_units"),
      sum(col("m_u")).as("n_values"),
      sum(expr(KaUnitTerm)).as("sum_terms"))
    val nc = nuc
      .join(units.select(col("doc_id")), Seq("doc_id"))
      .groupBy(col("label"))
      .agg(sum(col("n_uc")).as("n_c"))
    val lab = nc.agg(count(lit(1)).as("n_labels"),
      sum(col("n_c") * col("n_c")).as("ss_c"))
    unitStats.crossJoin(lab)
      .withColumn("d_obs", expr(KaDObs))
      .withColumn("d_exp", expr(KaDExp))
      .withColumn("alpha", expr(KaAlpha))
      .select(col("n_units"), col("n_values"), col("n_labels"),
        col("d_obs"), col("d_exp"), col("alpha"))
  }

  // the α scalar chains, shared verbatim with the oracle: per-unit
  // disagreement share quantized into an order-free DECIMAL sum, then
  // three IEEE divisions of exact integers
  private val KaUnitTerm =
    """CAST(CAST(
      |  CAST(m_u * m_u - ss_u AS DOUBLE) / CAST(m_u - 1 AS DOUBLE)
      |AS DECIMAL(18,9)) AS DECIMAL(18,9))""".stripMargin
  private val KaDObs =
    """CAST(CAST(
      |  CAST(sum_terms AS DOUBLE) / CAST(n_values AS DOUBLE)
      |AS DECIMAL(18,9)) AS DOUBLE)""".stripMargin
  private val KaDExp =
    """CAST(CAST(
      |  CAST(n_values * n_values - ss_c AS DOUBLE)
      |  / CAST(n_values * (n_values - 1) AS DOUBLE)
      |AS DECIMAL(18,9)) AS DOUBLE)""".stripMargin
  private val KaAlpha =
    """CASE WHEN d_exp > 0 THEN
      |  CAST(CAST(1.0e0 - d_obs / d_exp AS DECIMAL(18,9)) AS DOUBLE)
      |END""".stripMargin

  /** Krippendorff's alpha with the INTERVAL metric over the same vote
    * table — δ(c, k) = (c − k)² instead of nominal 0/1, the variant
    * for ordered numeric labels (quality scores, Likert ratings)
    * where disagreeing by 2 should cost more than disagreeing by 1
    * (Krippendorff 2004 §11.4). The coincidence sums collapse to
    * per-unit MOMENTS: Σ_{i≠j} (x_i − x_j)² = 2(m_u·Σx² − (Σx)²), so
    * the whole face is integer arithmetic until the per-unit
    * 1/(m_u − 1) share and three lattice divisions — and for BINARY
    * label domains interval α ≡ nominal α exactly (asserted in
    * PreferenceSpec). Same scale shape and n < 3e9 BIGINT bound as
    * the nominal face.
    *
    * Output: (n_units, n_values, d_obs, d_exp, alpha); alpha NULL
    * when D_e = 0 (all pooled values equal). */
  def krippendorffAlphaInterval(documents: DataFrame,
      annotators: Int = 5): DataFrame =
    krippendorffIntervalFromVotes(
      Corpus.fabricatedVotes(documents, annotators))

  /** Interval-metric core over an arbitrary votes frame. */
  private[graft] def krippendorffIntervalFromVotes(
      votes: DataFrame): DataFrame = {
    val units = votes
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("m_u"),
        sum(col("label")).as("s1_u"),
        sum(col("label") * col("label")).as("s2_u"))
      .where(col("m_u") >= 2)
    val us = units.agg(
      count(lit(1)).as("n_units"),
      sum(col("m_u")).as("n_values"),
      sum(col("s1_u")).as("s1"),
      sum(col("s2_u")).as("s2"),
      sum(expr(KaIntUnitTerm)).as("sum_terms"))
    us
      .withColumn("d_obs", expr(KaDObs))
      .withColumn("d_exp", expr(KaIntDExp))
      .withColumn("alpha", expr(KaAlpha))
      .select(col("n_units"), col("n_values"),
        col("d_obs"), col("d_exp"), col("alpha"))
  }

  // interval chains: the per-unit ordered-pair squared-difference sum
  // 2(m·Σx² − (Σx)²) shares [[KaDObs]]/[[KaAlpha]] downstream; D_e is
  // the pooled version of the same identity
  private val KaIntUnitTerm =
    """CAST(CAST(
      |  CAST(2 * (m_u * s2_u - s1_u * s1_u) AS DOUBLE)
      |  / CAST(m_u - 1 AS DOUBLE)
      |AS DECIMAL(18,9)) AS DECIMAL(18,9))""".stripMargin
  private val KaIntDExp =
    """CAST(CAST(
      |  CAST(2 * (n_values * s2 - s1 * s1) AS DOUBLE)
      |  / CAST(n_values * (n_values - 1) AS DOUBLE)
      |AS DECIMAL(18,9)) AS DOUBLE)""".stripMargin

  /** DuckDB replay of [[krippendorffAlphaInterval]]. */
  def krippendorffAlphaIntervalSql(annotators: Int = 5): String =
    s"""WITH ${Corpus.fabricatedVotesCtes(annotators)},
       |units AS (
       |  SELECT doc_id, count(*)::BIGINT AS m_u,
       |    sum(label)::BIGINT AS s1_u,
       |    sum(label * label)::BIGINT AS s2_u
       |  FROM votes GROUP BY 1
       |  HAVING count(*) >= 2),
       |us AS (
       |  SELECT count(*)::BIGINT AS n_units,
       |    sum(m_u)::BIGINT AS n_values,
       |    sum(s1_u)::BIGINT AS s1, sum(s2_u)::BIGINT AS s2,
       |    sum($KaIntUnitTerm) AS sum_terms
       |  FROM units),
       |d AS (
       |  SELECT n_units, n_values,
       |    $KaDObs AS d_obs, $KaIntDExp AS d_exp
       |  FROM us)
       |SELECT n_units, n_values, d_obs, d_exp, $KaAlpha AS alpha
       |FROM d""".stripMargin

  /** Fleiss' kappa over the same m-rater vote table — the FIXED-PANEL
    * multi-rater agreement coefficient (Fleiss, "Measuring nominal
    * scale agreement among many raters", Psych. Bull. 1971): requires
    * every unit rated by exactly m raters (units that aren't drop —
    * a no-op under the fabricated table), where [[krippendorffAlpha]]
    * handles ragged panels. κ = (P̄_o − P̄_e)/(1 − P̄_e) with
    * P̄_o = Σ_u Σ_c n_uc(n_uc−1) / (N·m·(m−1)) and
    * P̄_e = Σ_c n_c² / (N·m)². Two-rater case = Scott's π (asserted
    * against the α fixture in PreferenceSpec). All-integer until three
    * final divisions on the 1e-9 lattice; same n < 3e9 BIGINT bound
    * note as α. Scale shape: identical to α — one (unit, label)
    * shuffle, bounded rollups, one output row.
    *
    * Output: (n_units, n_raters, n_labels, p_o, p_e, kappa); kappa
    * NULL when P̄_e = 1 (single-label corpus). */
  def fleissKappa(documents: DataFrame, annotators: Int = 5): DataFrame =
    fleissFromVotes(Corpus.fabricatedVotes(documents, annotators),
      annotators)

  /** The coefficient over an arbitrary votes frame (fixture entry
    * point, the [[krippendorffFromVotes]] pattern). */
  private[graft] def fleissFromVotes(votes: DataFrame,
      m: Int): DataFrame = {
    val nuc = votes
      .groupBy(col("doc_id"), col("label"))
      .agg(count(lit(1)).as("n_uc"))
    val units = nuc
      .groupBy(col("doc_id"))
      .agg(sum(col("n_uc")).as("m_u"),
        sum(col("n_uc") * (col("n_uc") - 1)).as("so_u"))
      .where(col("m_u") === m)
    val us = units.agg(count(lit(1)).as("n_units"),
      sum(col("so_u")).as("so"))
    val nc = nuc
      .join(units.select(col("doc_id")), Seq("doc_id"))
      .groupBy(col("label"))
      .agg(sum(col("n_uc")).as("n_c"))
    val lab = nc.agg(count(lit(1)).as("n_labels"),
      sum(col("n_c") * col("n_c")).as("ss_c"))
    us.crossJoin(lab)
      .withColumn("n_raters", lit(m.toLong))
      .withColumn("p_o", expr(FleissPo(m)))
      .withColumn("p_e", expr(FleissPe(m)))
      .withColumn("kappa", expr(FleissK))
      .select(col("n_units"), col("n_raters"), col("n_labels"),
        col("p_o"), col("p_e"), col("kappa"))
  }

  // Fleiss scalar chains, shared verbatim with the oracle
  private def FleissPo(m: Int): String =
    s"""CAST(CAST(
       |  CAST(so AS DOUBLE) / CAST(n_units * $m * ${m - 1} AS DOUBLE)
       |AS DECIMAL(18,9)) AS DOUBLE)""".stripMargin
  private def FleissPe(m: Int): String =
    s"""CAST(CAST(
       |  CAST(ss_c AS DOUBLE)
       |  / CAST((n_units * $m) * (n_units * $m) AS DOUBLE)
       |AS DECIMAL(18,9)) AS DOUBLE)""".stripMargin
  private val FleissK =
    """CASE WHEN p_e < 1.0e0 THEN
      |  CAST(CAST((p_o - p_e) / (1.0e0 - p_e)
      |  AS DECIMAL(18,9)) AS DOUBLE)
      |END""".stripMargin

  /** DuckDB replay of [[fleissKappa]]: shared votes CTE, identical
    * integer rollups and quantized chains. */
  def fleissKappaSql(annotators: Int = 5): String = {
    val m = annotators
    s"""WITH ${Corpus.fabricatedVotesCtes(m)},
       |nuc AS (
       |  SELECT doc_id, label, count(*)::BIGINT AS n_uc
       |  FROM votes GROUP BY 1, 2),
       |units AS (
       |  SELECT doc_id, sum(n_uc)::BIGINT AS m_u,
       |    sum(n_uc * (n_uc - 1))::BIGINT AS so_u
       |  FROM nuc GROUP BY 1
       |  HAVING sum(n_uc) = $m),
       |us AS (
       |  SELECT count(*)::BIGINT AS n_units, sum(so_u)::BIGINT AS so
       |  FROM units),
       |nc AS (
       |  SELECT label, sum(n_uc)::BIGINT AS n_c
       |  FROM nuc JOIN units USING (doc_id)
       |  GROUP BY 1),
       |lab AS (
       |  SELECT count(*)::BIGINT AS n_labels,
       |    sum(n_c * n_c)::BIGINT AS ss_c
       |  FROM nc),
       |j AS (SELECT * FROM us CROSS JOIN lab),
       |d AS (
       |  SELECT n_units, CAST($m AS BIGINT) AS n_raters, n_labels,
       |    ${FleissPo(m)} AS p_o, ${FleissPe(m)} AS p_e
       |  FROM j)
       |SELECT n_units, n_raters, n_labels, p_o, p_e, $FleissK AS kappa
       |FROM d""".stripMargin
  }

  /** DuckDB replay of [[krippendorffAlpha]]: the shared fabricated-
    * votes CTE, the identical integer coincidence rollups and the
    * identical quantized chains. */
  def krippendorffAlphaSql(annotators: Int = 5): String =
    s"""WITH ${Corpus.fabricatedVotesCtes(annotators)},
       |nuc AS (
       |  SELECT doc_id, label, count(*)::BIGINT AS n_uc
       |  FROM votes GROUP BY 1, 2),
       |units AS (
       |  SELECT doc_id, sum(n_uc)::BIGINT AS m_u,
       |    sum(n_uc * n_uc)::BIGINT AS ss_u
       |  FROM nuc GROUP BY 1
       |  HAVING sum(n_uc) >= 2),
       |us AS (
       |  SELECT count(*)::BIGINT AS n_units,
       |    sum(m_u)::BIGINT AS n_values,
       |    sum($KaUnitTerm) AS sum_terms
       |  FROM units),
       |nc AS (
       |  SELECT label, sum(n_uc)::BIGINT AS n_c
       |  FROM nuc JOIN units USING (doc_id)
       |  GROUP BY 1),
       |lab AS (
       |  SELECT count(*)::BIGINT AS n_labels,
       |    sum(n_c * n_c)::BIGINT AS ss_c
       |  FROM nc),
       |j AS (SELECT * FROM us CROSS JOIN lab),
       |d AS (
       |  SELECT n_units, n_values, n_labels,
       |    $KaDObs AS d_obs, $KaDExp AS d_exp
       |  FROM j)
       |SELECT n_units, n_values, n_labels, d_obs, d_exp,
       |  $KaAlpha AS alpha
       |FROM d""".stripMargin
}
