package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (plus the large-scale
  * training-data extensions) is exposed as a named query over the
  * driver's parquet tables; exact queries carry a DuckDB oracle twin in
  * [[oracleSql]]. Approx/sketch operators are rows-only here and
  * bound-checked in ScalaTest (SURVEY.md §5.1).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Metrics.visitsPerMinute(Tables.logEvents(spark, "/root/testdata/sf0.001"))

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.logEvents(s, dir, fanOut = true)

  /** Base-image group modulus of the fabricated media corpus. The
    * default (25) keeps ~200-doc dup groups at sf0.1; scaling sweeps
    * over a `ScaleGen` blow-up set `SPARK_GRAFT_MEDIA_GROUPMOD` to
    * 25×factor so group SIZE stays constant and pair output grows
    * linearly with the corpus (a fixed modulus would grow every group
    * with the factor and the pair mass quadratically — fixture
    * blow-up, not operator cost; SCALE.md §7.3). Read by both the
    * Spark queries and their DuckDB oracles, so the two stay in
    * lockstep whatever the knob. */
  private def mediaGroupMod: Int =
    sys.env.get("SPARK_GRAFT_MEDIA_GROUPMOD").map(_.toInt).getOrElse(25)

  /** Fan a small-file scan out to all cores before CPU-heavy per-row
    * work (JSON parse, shingling, hashing, vector math). The driver's
    * tables are single parquet files → single input partition, so the
    * ~MB shuffle buys full parallelism for the expensive stage — but
    * ONLY when the scan actually arrives under-split: on a real
    * cluster the input is pre-split and a blind repartition would
    * shuffle the whole corpus for nothing (the r18 verdict's item 6),
    * so the fan-out is CONDITIONED on the scan's split count
    * (`df.rdd.getNumPartitions` plans the scan — file listing only,
    * no job) versus half the core count. */
  private def par(df: DataFrame): DataFrame =
    if (Tables.underSplit(df))
      df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    else df

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- reference parity: pipeline aggregates (SURVEY.md §2.3) ----
    "visits_per_minute" -> ((s, d) => Metrics.visitsPerMinute(ev(s, d))),
    "visits_incremental" -> ((s, d) => Metrics.visitsIncremental(ev(s, d))),
    "visits_sliding" -> ((s, d) => Metrics.visitsSliding(ev(s, d))),
    "rolling_active_users" -> ((s, d) => Metrics.rollingActiveUsers(ev(s, d))),
    "cohort_retention" -> ((s, d) => Metrics.cohortRetention(ev(s, d))),
    "unique_users_per_minute" -> ((s, d) => Metrics.uniqueUsersPerMinute(ev(s, d))),
    "unique_users_per_minute_approx" -> ((s, d) => Metrics.uniqueUsersPerMinuteApprox(ev(s, d))),
    "unique_users_per_minute_salted" -> ((s, d) => Metrics.uniqueUsersPerMinuteSalted(ev(s, d))),
    "users_per_experiment_variant_minute" -> ((s, d) => Metrics.usersPerExperimentVariantMinute(ev(s, d))),
    "unique_users_per_variant" -> ((s, d) => Metrics.uniqueUsersPerVariant(ev(s, d))),
    "unique_users_per_variant_approx" -> ((s, d) => Metrics.uniqueUsersPerVariantApprox(ev(s, d))),
    "unique_users_per_experiment" -> ((s, d) => Metrics.uniqueUsersPerExperiment(ev(s, d))),
    "active_experiments_per_minute" -> ((s, d) => Metrics.activeExperimentsPerMinute(ev(s, d))),
    "active_variants_per_minute" -> ((s, d) => Metrics.activeVariantsPerMinute(ev(s, d))),
    "variant_overlap" -> ((s, d) => Metrics.variantOverlap(ev(s, d))),
    "variant_overlap_approx" -> ((s, d) => Metrics.variantOverlapApprox(ev(s, d))),
    // ---- reference parity: dashboard read shapes (SURVEY.md §2.4) ----
    "visits_timeseries" -> ((s, d) => Metrics.visitsTimeseries(ev(s, d))),
    "users_timeseries" -> ((s, d) => Metrics.usersTimeseries(ev(s, d))),
    "experiments_timeseries" -> ((s, d) => Metrics.experimentsTimeseries(ev(s, d))),
    "times_spine" -> ((s, d) => Metrics.timesSpine(ev(s, d))),
    // spine zero-fill across a UTC day boundary: cutting the stream at
    // 00:04 pins "now" just past midnight, so the 10-minute window
    // spans two calendar days and the minute_key's DATE part flips
    // mid-series (hardens the yyyy_MM_dd'T'HH_mm rendering + zero-fill
    // against day-edge off-by-ones; at sf0.01 max(ts) lands 00:01)
    "visits_timeseries_dayedge" -> ((s, d) => Metrics.visitsTimeseries(
      ev(s, d).where(col(graft.LogEvent.Ts) <
        lit("2024-01-15 00:04:00").cast("timestamp")))),
    // ---- reference parity: JSON parse path (SURVEY.md §2.2 P1) ----
    "parse_events_json" -> ((s, d) => {
      // par() before the JSON build: the string construction is as
      // CPU-heavy as the parse and must not run on the single scan task
      val raw = par(Tables.events(s, d)).select(to_json(struct(
        col("user_id").cast("string").as("uid"),
        get_json_object(col("props"), "$.k").as("experiment_id"),
        col("event_type").as("variant"),
        // reference wire format: second-precision ISO string
        // (loggen/message_generator.py:88)
        date_format(col("ts"), graft.LogEvent.WireTsFormat).as("timestamp"))).as("value"))
      Tables.parseJsonEvents(raw)
        .groupBy(col("variant")).agg(count(lit(1)).as("n_events"))
        .orderBy("variant")
    }),
    // ---- relational extensions (SURVEY.md §2.5 / §7.2.6) ----
    "pricing_summary" -> ((s, d) => Relational.pricingSummary(Tables.lineitem(s, d))),
    "top_orders_by_revenue" -> ((s, d) =>
      Relational.topOrdersByRevenue(Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "revenue_by_nation" -> ((s, d) => Relational.revenueByNation(s, d)),
    "orders_without_lineitems" -> ((s, d) =>
      Relational.ordersWithoutLineitems(Tables.orders(s, d), Tables.lineitem(s, d))),
    "order_fill_by_priority" -> ((s, d) =>
      Relational.orderFillByPriority(Tables.orders(s, d), Tables.lineitem(s, d))),
    "late_shipment_priority" -> ((s, d) =>
      Relational.lateShipmentPriority(Tables.orders(s, d), Tables.lineitem(s, d))),
    "pricing_rollup" -> ((s, d) => Relational.pricingRollup(Tables.lineitem(s, d))),
    "lineitem_running_window" -> ((s, d) => Relational.lineitemRunningWindow(Tables.lineitem(s, d))),
    "segment_nation_balance" -> ((s, d) =>
      Relational.segmentNationBalance(Tables.customer(s, d), Tables.nation(s, d))),
    "top_parts_per_brand" -> ((s, d) => Relational.topPartsPerBrand(Tables.part(s, d))),
    "orders_cube" -> ((s, d) => Relational.ordersCube(Tables.orders(s, d))),
    // custom whole-operator plan (bounded heaps, no sort) — same
    // semantics and oracle as the window-function formulation above
    "top_parts_per_brand_custom" -> ((s, d) =>
      graft.plans.TopK.topKPerGroup(Tables.part(s, d), Seq("p_brand"),
        Seq("p_retailprice" -> true, "p_partkey" -> false), 3, "price_rank")
        .select(col("p_brand"), col("price_rank"), col("p_partkey"), col("p_name"))
        .orderBy("p_brand", "price_rank")),
    "event_gaps" -> ((s, d) => Analytics.eventGaps(Tables.events(s, d))),
    "funnel_setops" -> ((s, d) => Analytics.funnelSetOps(Tables.events(s, d))),
    "bag_setops" -> ((s, d) => Analytics.bagSetOps(Tables.events(s, d))),
    "order_deciles" -> ((s, d) => Analytics.orderDeciles(Tables.orders(s, d))),
    "order_price_ranks" -> ((s, d) => Analytics.orderPriceRanks(Tables.orders(s, d))),
    "orders_by_month" -> ((s, d) => Analytics.ordersByMonth(Tables.orders(s, d))),
    "revenue_mom_change" -> ((s, d) => Analytics.revenueMomChange(Tables.orders(s, d))),
    "top_customers_concat" -> ((s, d) =>
      Analytics.topCustomersConcat(Tables.customer(s, d), Tables.nation(s, d))),
    "nation_accounts_full" -> ((s, d) =>
      Analytics.nationAccountsFull(Tables.customer(s, d), Tables.supplier(s, d))),
    "part_color_stats" -> ((s, d) => Analytics.partColorStats(Tables.part(s, d))),
    "value_stats_by_type" -> ((s, d) => Analytics.valueStatsByType(Tables.events(s, d))),
    "value_winsorized" -> ((s, d) => Analytics.valueWinsorized(Tables.events(s, d))),
    "user_enriched_salted" -> ((s, d) => Skew.userEnrichedSalted(Tables.events(s, d))),
    // join-key distribution diagnostics: exact max-share/skew-factor/
    // percentiles/Gini over per-key counts, ranked via rankByRange
    "key_skew_profile" -> ((s, d) => Skew.keySkewProfile(Tables.events(s, d))),
    "first_event_per_user_minute" -> ((s, d) =>
      Analytics.firstEventPerUserMinute(Tables.events(s, d))),
    "value_percentiles" -> ((s, d) => Relational.valuePercentiles(Tables.events(s, d))),
    // numeric drift: PSI over reference-half decile bins (exact
    // NTILEs via range-partitioned ranks; 9 edges fold back as one
    // array literal - zero-join bin assignment)
    "value_psi" -> ((s, d) => Analytics.valuePsi(Tables.events(s, d))),
    "value_band_counts" -> ((s, d) => Relational.valueBandCounts(Tables.events(s, d))),
    "props_variant_stats" -> ((s, d) => Relational.propsVariantStats(Tables.events(s, d))),
    "event_type_pivot" -> ((s, d) => Relational.eventTypePivot(Tables.events(s, d))),
    "event_type_unpivot" -> ((s, d) => Relational.eventTypeUnpivot(Tables.events(s, d))),
    "value_percentiles_approx" -> ((s, d) =>
      Relational.valuePercentilesApprox(Tables.events(s, d))),
    "value_quantiles_hourly_sketch" -> ((s, d) =>
      Relational.valueQuantileHourlyFromMinuteSketches(Tables.events(s, d))),
    "user_sessions" -> ((s, d) => Metrics.userSessions(par(Tables.events(s, d)))),
    // native session_window formulation, same semantics + oracle
    "user_sessions_window" -> ((s, d) =>
      Metrics.userSessionsViaSessionWindow(par(Tables.events(s, d)))),
    "min_price_part_per_type" -> ((s, d) => Relational.minPricePartPerType(Tables.part(s, d))),
    "asof_purchase_after_click" -> ((s, d) => AsOf.purchaseAfterClick(par(Tables.events(s, d)))),
    "asof_purchase_after_click_custom" -> ((s, d) =>
      AsOf.purchaseAfterClickNative(par(Tables.events(s, d)))),
    "pricing_summary_sql" -> ((s, d) => Relational.pricingSummaryViaSql(s, d)),
    "pricing_grouping_sets" -> ((s, d) => Relational.groupingSetsViaSql(s, d)),
    "snapshot_upsert" -> ((s, d) => Maintenance.snapshotUpsert(Tables.orders(s, d))),
    "snapshot_diff" -> ((s, d) => Maintenance.snapshotDiffOrders(Tables.orders(s, d))),
    "table_profile" -> ((s, d) => Maintenance.tableProfile(Tables.orders(s, d))),
    // Morton-interleave data layout: oracle pins the codegen'd zvalue
    // expression + min/max code scaling (layout effect in MaintenanceSpec)
    "zorder_value" -> ((s, d) => Maintenance.zorderValue(Tables.events(s, d))),
    "urgent_customers_exists" -> ((s, d) => Relational.urgentCustomersViaSql(s, d)),
    "null_safe_join" -> ((s, d) => Relational.nullSafeJoin(Tables.events(s, d))),
    "top_customer_lateral" -> ((s, d) => Relational.topCustomerLateralViaSql(s, d)),
    "order_value_extremes" -> ((s, d) => Relational.orderValueExtremes(Tables.orders(s, d))),
    "user_peak_burst" -> ((s, d) => Analytics.userPeakBurst(Tables.events(s, d))),
    "forward_fill" -> ((s, d) => Analytics.forwardFill(Tables.events(s, d))),
    "unique_users_hourly_sketch" -> ((s, d) =>
      Metrics.uniqueUsersHourlyFromMinuteSketches(ev(s, d))),
    "unique_users_bitmap" -> ((s, d) => Metrics.uniqueUsersBitmap(ev(s, d))),
    // ---- change-data / SCD maintenance shapes ----
    "scd2_history" -> ((s, d) => Changes.scd2History(Tables.events(s, d))),
    "cdc_apply" -> ((s, d) => Changes.cdcApply(Tables.events(s, d))),
    "orders_in_flight_by_month" -> ((s, d) =>
      Changes.ordersInFlightByMonth(Tables.orders(s, d))),
    // ---- sequence / distribution analytics ----
    "event_transitions" -> ((s, d) => Analytics.eventTransitions(Tables.events(s, d))),
    "ordered_funnel" -> ((s, d) => Analytics.orderedFunnel(Tables.events(s, d))),
    "qty_price_correlation" -> ((s, d) =>
      Analytics.qtyPriceCorrelation(Tables.lineitem(s, d))),
    "value_histogram" -> ((s, d) => Analytics.valueHistogram(Tables.events(s, d))),
    "experiment_entropy" -> ((s, d) => Analytics.experimentEntropy(Tables.events(s, d))),
    "modal_event_type" -> ((s, d) => Analytics.modalEventType(Tables.events(s, d))),
    // trailing z-score anomaly flag over the per-minute visit series
    // (exact integer moments -> cross-engine-identical float z)
    "visits_zscore" -> ((s, d) => Analytics.visitsZscore(Tables.events(s, d))),
    // EWMA smoothing of the minute series — sequential fold over the
    // calendar-bounded aggregate, bit-exact by identical IEEE op order
    "visits_ewma" -> ((s, d) => Analytics.visitsEwma(Tables.events(s, d))),
    // CUSUM level-shift detector over the minute series: the
    // recurrence rewritten as integer prefix-extremum windows
    "visits_cusum" -> ((s, d) => Analytics.visitsCusum(Tables.events(s, d))),
    // per-(experiment, variant) value lift + Welch t vs the control
    // arm — the statistical readout layer over the reference's
    // experiment bookkeeping
    "variant_lift" -> ((s, d) => Analytics.variantLift(Tables.events(s, d))),
    // Bradley–Terry strength fit from per-user pairwise value
    // comparisons — MM iterations over the T²-bounded wins table
    "bt_strength" -> ((s, d) => Preference.btStrength(par(Tables.events(s, d)))),
    // pairwise win-rate per (experiment, variant pair) with a 95%
    // Poisson-bootstrap CI — the uncertainty readout next to BT's
    // ranking; order-statistic bounds, integer-exact indices
    "winrate_bootstrap_ci" -> ((s, d) =>
      Preference.winrateBootstrapCi(Tables.events(s, d))),
    // Cohen's kappa between two deterministic rule annotators, per
    // source — scan-side rules, one aggregate, quantized κ chain
    "annotator_kappa" -> ((s, d) =>
      Preference.annotatorKappa(par(Tables.documents(s, d)))),
    // GRPO group-relative advantages: one window on the group key,
    // decimal two-sums, per-row quantized normalization
    "group_advantages" -> ((s, d) =>
      Preference.groupAdvantages(Tables.events(s, d))),
    // best-of-n rejection sampling per prompt group: one window
    // (rank + lead + count), margin to the runner-up
    "best_of_n" -> ((s, d) => Preference.bestOfN(Tables.events(s, d))),
    // unbiased pass@k estimator per task: one aggregate, fixed-order
    // product chain
    "pass_at_k" -> ((s, d) => Preference.passAtK(Tables.events(s, d))),
    // BLEU-2 over rank-paired documents: clipped n-gram precision via
    // one (pair, n, gram) equi-join, brevity penalty, geometric mean
    "bleu_pairs" -> ((s, d) =>
      Preference.bleuPairs(par(Tables.documents(s, d)))),
    // reliability diagram + ECE over the pinned scorer's sigmoid
    // confidence: scan-side scoring, one 10-bin aggregate
    "calibration_bins" -> ((s, d) =>
      Classifier.calibrationBins(par(Tables.documents(s, d)))),
    // length-bias audit over the DPO pair set: one-row integer-sum
    // rollup + point-biserial r — preference-data QA
    "dpo_length_bias" -> ((s, d) =>
      Preference.dpoLengthBias(par(Tables.documents(s, d)))),
    // Chao1 + Good-Turing vocabulary-richness rollup: one word-count
    // shuffle to a single row — the crawl-diversity diagnostic
    "vocab_richness" -> ((s, d) =>
      TextAnalysis.vocabRichness(par(Tables.documents(s, d)))),
    // A/B conversion proportions + 2x2 chi-square vs the control arm —
    // the proportion-testing sibling of variant_lift
    "variant_conversion" -> ((s, d) =>
      Analytics.variantConversion(Tables.events(s, d))),
    // Wald SPRT over the per-minute conversion series: cumulative LLR
    // + decision bounds, calendar-bounded windows
    "sprt_conversion" -> ((s, d) =>
      Analytics.sprtConversion(Tables.events(s, d))),
    // Benjamini–Hochberg FDR across the whole experiment battery
    // (Welch-t + chi-square rows, erfc p-values, step-up q-values)
    "fdr_experiments" -> ((s, d) =>
      Analytics.fdrExperiments(Tables.events(s, d))),
    // Holm–Bonferroni step-down over the SAME battery — the FWER
    // sibling of fdr_experiments
    "holm_experiments" -> ((s, d) =>
      Analytics.holmExperiments(Tables.events(s, d))),
    // Mann–Whitney U rank-sum battery — the nonparametric sibling
    // for heavy-tailed value metrics, through the same BH tail
    "mwu_experiments" -> ((s, d) =>
      Analytics.mwuExperiments(par(Tables.events(s, d)))),
    // Kruskal–Wallis k-sample rank test per experiment — "do ANY
    // arms differ"; Wilson–Hilferty chi-square tail on the erfc
    // lattice, variant-ordered arm fold (no unordered double sums)
    "kruskal_experiments" -> ((s, d) =>
      Analytics.kruskalExperiments(par(Tables.events(s, d)))),
    // CUPED variance-reduced arm means (Deng et al. WSDM'13):
    // pre-period covariate, pooled theta, adjusted means + r²
    "cuped_lift" -> ((s, d) =>
      Analytics.cupedLift(par(Tables.events(s, d)))),
    // Krippendorff's alpha over the m-rater fabricated vote table —
    // the multi-rater generalization of annotator_kappa
    "krippendorff_alpha" -> ((s, d) =>
      Preference.krippendorffAlpha(par(Tables.documents(s, d)))),
    // Fleiss' kappa over the same vote table — the fixed-panel
    // multi-rater coefficient (2-rater case = Scott's pi)
    "fleiss_kappa" -> ((s, d) =>
      Preference.fleissKappa(par(Tables.documents(s, d)))),
    // interval-metric Krippendorff: (c-k)^2 disagreement over the
    // same votes — per-unit moment identity, integer-exact
    "krippendorff_alpha_interval" -> ((s, d) =>
      Preference.krippendorffAlphaInterval(par(Tables.documents(s, d)))),
    // temperature-scaled calibration: 8-point grid NLL + ECE in one
    // fused pass over the pinned scorer, argmin flagged
    "temperature_fit" -> ((s, d) =>
      Classifier.temperatureFit(par(Tables.documents(s, d)))),
    // prefix ROUGE-L over the bleu_pairs pairing: codegen'd LCS DP
    // per pair, P/R/F chains
    "rouge_pairs" -> ((s, d) =>
      Preference.rougePairs(par(Tables.documents(s, d)))),
    // ROUGE-1/2 recall/precision/F over the same pairing — shares
    // bleu's clipped-count machinery
    "rouge_n_pairs" -> ((s, d) =>
      Preference.rougeNPairs(par(Tables.documents(s, d)))),
    // chrF: character n-gram F2 (orders 1..6, effective-order rule)
    // over the same pairing — the tokenization-free pair metric
    "chrf_pairs" -> ((s, d) =>
      Preference.chrfPairs(par(Tables.documents(s, d)))),
    // distinct-n generation-diversity ratios for n=1..3: one gram
    // explode, one (n, gram) count shuffle, 3-row rollup
    "distinct_ngrams" -> ((s, d) =>
      TextAnalysis.distinctNgrams(par(Tables.documents(s, d)))),
    // DoReMi-style domain reweighting: per-source excess unigram NLL
    // -> multiplicative-weights softmax over the source-bounded table
    "doremi_weights" -> ((s, d) =>
      Corpus.doremiWeights(par(Tables.documents(s, d)))),
    // Poisson bootstrap: B hash-drawn resample means in one pass —
    // the distributed-uncertainty classic (explode ×B, one B-row shuffle)
    "value_bootstrap_ci" -> ((s, d) =>
      Analytics.valueBootstrapCi(par(Tables.events(s, d)))),
    // U-shaped multi-touch attribution: windowed user-key join, credit
    // decimals summed per channel — the as-of join's credit-spreading
    // sibling
    "multi_touch_attribution" -> ((s, d) =>
      Analytics.multiTouchAttribution(par(Tables.events(s, d)))),
    // median/MAD Hampel outlier screen: exact per-type medians, 5-row
    // broadcasts, zero event shuffles in the flagging pass
    "value_mad" -> ((s, d) => Analytics.valueMad(Tables.events(s, d))),
    "fuzzy_name_matches" -> ((s, d) => Relational.fuzzyNameMatches(Tables.part(s, d))),
    // ---- text analysis (training-data pipeline ops) ----
    "doc_fingerprint" -> ((s, d) => TextAnalysis.docFingerprint(par(Tables.documents(s, d)))),
    "token_count" -> ((s, d) => TextAnalysis.tokenCount(par(Tables.documents(s, d)))),
    // hashing-trick featurization: vocabulary-free signed-count
    // projection into a fixed dim (sparse nonzero cells)
    "feature_hashing" -> ((s, d) =>
      TextAnalysis.featureHashing(par(Tables.documents(s, d)))),
    // OOV-rate curve: corpus-token coverage of top-K vocabularies
    // (vocab-bounded rank + 1-row total broadcast)
    "vocab_coverage" -> ((s, d) =>
      TextAnalysis.vocabCoverage(par(Tables.documents(s, d)))),
    // CCNet canonical-form normalization (pre-dedup): per-row regex
    // chain fused into the scan, zero shuffle
    "text_normalize" -> ((s, d) =>
      TextAnalysis.textNormalize(par(Tables.documents(s, d)))),
    "token_stats_udaf" -> ((s, d) => TextAnalysis.tokenStats(par(Tables.documents(s, d)))),
    "text_quality" -> ((s, d) => TextAnalysis.textQuality(par(Tables.documents(s, d)))),
    "lang_id" -> ((s, d) => TextAnalysis.langId(s, par(Tables.documents(s, d)))),
    "doc_winnowing" -> ((s, d) => TextAnalysis.winnowingSummary(par(Tables.documents(s, d)))),
    // MOSS pairing face: df-capped fingerprint postings join, pair
    // fan-out bounded per fingerprint
    "winnow_pairs" -> ((s, d) =>
      TextAnalysis.winnowPairs(par(Tables.documents(s, d)), k = 16, w = 8)),
    "top_tokens" -> ((s, d) => TextAnalysis.topTokens(par(Tables.documents(s, d)))),
    "unigram_familiarity" -> ((s, d) =>
      TextAnalysis.unigramFamiliarity(par(Tables.documents(s, d)))),
    "ngram_repetition" -> ((s, d) =>
      TextAnalysis.ngramRepetition(par(Tables.documents(s, d)))),
    "collocations" -> ((s, d) => TextAnalysis.collocations(par(Tables.documents(s, d)))),
    // TextRank word centrality: FIXED-POINT PageRank over the
    // adjacent-token graph — integer arithmetic is bit-exact across
    // engines, so this carries a full hash-exact oracle (unrolled CTE
    // chain); AnalyticsSpec holds ring/star/dangling closed forms
    "word_pagerank" -> ((s, d) =>
      TextAnalysis.wordPagerank(par(Tables.documents(s, d)))),
    // CCNet-shape LM quality filter: corpus-trained bigram model,
    // per-doc mean negative log-prob (low = fluent, high = garbage)
    "lm_bigram_score" -> ((s, d) => TextAnalysis.lmBigramScore(par(Tables.documents(s, d)))),
    // interpolated Kneser-Ney bigram scoring: absolute discount +
    // continuation-probability backoff, one exact integer ratio per
    // scored bigram on the add-one face's plan shape
    "lm_kneser_ney_score" -> ((s, d) =>
      TextAnalysis.lmKneserNeyScore(par(Tables.documents(s, d)))),
    // held-out stupid-backoff trigram LM (Brants 2007 / CCNet
    // deployment shape): train on src1..n, score src0 — the backoff
    // tiers genuinely fire, and the per-tier hit counts are the
    // domain-shift signal; integer count ratios -> hash-exact
    "lm_trigram_score" -> ((s, d) => {
      val docs = par(Tables.documents(s, d))
      TextAnalysis.lmTrigramScore(docs.where(col("source") =!= "src0"),
        docs.where(col("source") === "src0"))
    }),
    // CCNet's head/middle/tail perplexity tertiles over the trigram-LM
    // scores — range-partitioned exact ntile, no global window
    "perplexity_buckets" -> ((s, d) => {
      val docs = par(Tables.documents(s, d))
      TextAnalysis.perplexityBuckets(docs.where(col("source") =!= "src0"),
        docs.where(col("source") === "src0"))
    }),
    // Gopher rule battery (word count / mean len / symbols / alpha /
    // stop words), one verdict column per rule for ablation
    "gopher_quality" -> ((s, d) => TextAnalysis.gopherQuality(par(Tables.documents(s, d)))),
    // Gopher REPETITION battery (top-n-gram / dup-n-gram char
    // fractions + pass flag) — integer masses, one IEEE division per
    // fraction, integer-compare flags: fully hash-exact
    "gopher_repetition" -> ((s, d) =>
      TextAnalysis.gopherRepetition(par(Tables.documents(s, d)))),
    // C4 line-level cleaning battery (terminal punct / min words /
    // javascript / lorem ipsum / curly brace) over deterministically
    // rendered lines — pure scan-side folds, zero shuffles
    "c4_line_filter" -> ((s, d) =>
      TextAnalysis.c4LineFilter(par(Tables.documents(s, d)))),
    // HTML boilerplate extraction (the crawl stage upstream of C4
    // cleaning): head/script/style span drops, tag strip, integer
    // link-density keep rule over deterministically rendered markup —
    // one scan-side projection, zero shuffles
    "html_extract" -> ((s, d) =>
      TextAnalysis.htmlExtract(par(Tables.documents(s, d)))),
    // BPE tokenizer training: iterative argmax over the word-frequency
    // table — deterministic given rounds, so BOTH faces carry full
    // hash-exact oracles (unrolled merge rounds; the wrapped-symbol
    // string encoding makes SQL replace ≡ the greedy merge fold);
    // reference-impl parity stays in AnalyticsSpec
    "bpe_merges" -> ((s, d) => TextAnalysis.bpeTrain(par(Tables.documents(s, d)))),
    "bpe_encode" -> ((s, d) => TextAnalysis.bpeEncode(par(Tables.documents(s, d)))),
    // WordPiece (likelihood-scored merges, integer-lattice argmax):
    // the BERT-vocab sibling of bpe_merges, hash-exact like it
    "wordpiece_merges" -> ((s, d) =>
      TextAnalysis.wordpieceTrain(par(Tables.documents(s, d)))),
    "wordpiece_encode" -> ((s, d) =>
      TextAnalysis.wordpieceEncode(par(Tables.documents(s, d)))),
    // unigram-LM tokenizer (Kudo/SentencePiece family, hard-EM): vocab
    // shrinks top-down by likelihood; rows-only like bpe_merges
    "unigram_vocab" -> ((s, d) => Unigram.unigramVocab(par(Tables.documents(s, d)))),
    "unigram_encode" -> ((s, d) => Unigram.unigramEncode(par(Tables.documents(s, d)))),
    // the Viterbi DP itself under a pinned hash-cost model — the
    // segmentation half of the unigram tokenizer with a hash-exact
    // recursive-CTE oracle (training stays rows-only above)
    "unigram_segment_pinned" -> ((s, d) =>
      Unigram.unigramSegmentPinned(par(Tables.documents(s, d)))),
    // distilled linear quality classifier (hashed features, logistic
    // GD) — rows-only (iterative FP training isn't SQL-expressible);
    // learnability floors + analytic gradient check in ClassifierSpec
    "quality_classifier" -> ((s, d) =>
      Classifier.qualityClassifier(par(Tables.documents(s, d)))),
    // the SCORING half of the classifier under pinned md5-derived
    // integer weights — hash-exact oracle for the deployment-path
    // arithmetic (training stays rows-only above)
    "quality_score_pinned" -> ((s, d) =>
      Classifier.qualityScorePinned(par(Tables.documents(s, d)))),
    "length_buckets" -> ((s, d) => Corpus.lengthBuckets(Tables.documents(s, d))),
    // rank-normalized multi-signal quality blend (four range-
    // partitioned global ranks, never a single-partition window)
    "quality_ensemble" -> ((s, d) => Corpus.qualityEnsemble(par(Tables.documents(s, d)))),
    "tfidf_top_terms" -> ((s, d) =>
      TextAnalysis.tfidfTopTerms(par(Tables.documents(s, d)))),
    "char_ngram_explode" -> ((s, d) =>
      TextAnalysis.charNgramExplode(s, par(Tables.documents(s, d)))),
    // ---- corpus preparation (training-data pipeline ops) ----
    "hash_split" -> ((s, d) => Corpus.hashSplit(Tables.documents(s, d))),
    // exact per-stratum proportions (eval-stratum splitting)
    "stratified_split" -> ((s, d) => Corpus.stratifiedSplit(Tables.documents(s, d))),
    // budget-driven mixture assembly: per-source token budgets spent in
    // content-stable hash order (the way training mixes are specified)
    "token_budget_mix" -> ((s, d) => Corpus.tokenBudgetMix(Tables.documents(s, d))),
    // epoch-seeded deterministic shuffle into shards (training-order
    // randomization without a global sort)
    "corpus_shuffle" -> ((s, d) => Corpus.corpusShuffle(Tables.documents(s, d))),
    // BM25 probe-query retrieval over the corpus (top-k per query)
    "bm25_search" -> ((s, d) => Retrieval.bm25Search(par(Tables.documents(s, d)))),
    // positions-aware phrase-ish retrieval: min token gap per
    // (term-pair probe, doc), in-row fold over two position arrays
    "proximity_search" -> ((s, d) =>
      Retrieval.proximitySearch(par(Tables.documents(s, d)))),
    // query-likelihood LM retrieval with Dirichlet smoothing (the
    // sparse matched-terms + per-doc-constant decomposition)
    "ql_dirichlet_search" -> ((s, d) =>
      Retrieval.qlDirichletSearch(par(Tables.documents(s, d)))),
    // hybrid lexical->dense: BM25 recall + PRF-vector cosine re-rank
    "hybrid_search" -> ((s, d) => Retrieval.hybridSearch(
      par(Tables.documents(s, d)), Tables.embeddings(s, d))),
    // rank-space fusion of the same two rankers (RRF, c=60)
    "rrf_fusion" -> ((s, d) => Retrieval.rrfFusion(
      par(Tables.documents(s, d)), Tables.embeddings(s, d))),
    // nDCG@k + MRR over the bm25 run against deterministic graded
    // qrels (distinct query terms matched) — the retrieval-evals face
    "retrieval_ndcg" -> ((s, d) =>
      Retrieval.retrievalNdcg(par(Tables.documents(s, d)))),
    // MMR diversification re-rank: greedy λ·rel − (1−λ)·max-sim over
    // the bounded bm25 shortlist, k unrolled rounds
    "mmr_rerank" -> ((s, d) => Retrieval.mmrRerank(
      par(Tables.documents(s, d)), Tables.embeddings(s, d))),
    // DSIR importance weights: hashed-unigram target/raw log-ratio
    "dsir_weights" -> ((s, d) => Corpus.dsirWeights(par(Tables.documents(s, d)))),
    // group-relative quality gate: most fluent half per source by LM NLL
    "quality_filter_by_source" -> ((s, d) =>
      Corpus.qualityFilterBySource(par(Tables.documents(s, d)))),
    "cap_per_source" -> ((s, d) => Corpus.capPerSource(Tables.documents(s, d))),
    "mixture_sample" -> ((s, d) =>
      Corpus.mixtureSample(Tables.documents(s, d), Corpus.DemoRates)),
    "doc_chunks" -> ((s, d) => Corpus.docChunks(Tables.documents(s, d), chunkLen = 64)),
    "chunk_dedup" -> ((s, d) => Corpus.chunkDedup(par(Tables.documents(s, d)))),
    "sequence_packing" -> ((s, d) => Corpus.packSequences(par(Tables.documents(s, d)), budget = 512)),
    // length-bucketed dynamic batching: banded range-rank cuts with
    // per-batch padding efficiency
    "length_batching" -> ((s, d) =>
      Corpus.lengthBatching(par(Tables.documents(s, d)))),
    // T5 span corruption: denoising (input, target) pair generation —
    // poly_hash62-seeded spans, sentinel rendering, ZERO shuffles (one
    // per-row fold); byte-identical across engines -> hash-exact
    "span_corruption" -> ((s, d) => Corpus.spanCorruption(par(Tables.documents(s, d)))),
    // BERT MLM example construction (15% select, 80/10/10): the
    // encoder-objective sibling of span_corruption, zero-shuffle
    "mlm_masking" -> ((s, d) => Corpus.mlmMasking(par(Tables.documents(s, d)))),
    // instruction-tuning face: prompt/completion split + chat-template
    // render + completion-only loss mask (zero-shuffle projection)
    "sft_examples" -> ((s, d) => Corpus.sftExamples(par(Tables.documents(s, d)))),
    // DPO preference pairs: quality-ensemble rank extremes paired by
    // one half-vs-half equi-join on the dense pair index
    "dpo_pairs" -> ((s, d) => Corpus.dpoPairs(par(Tables.documents(s, d)))),
    // SimCSE-style dual-view construction: zero-shuffle projection,
    // every drop decision a poly_hash62 of (view, doc, position)
    "contrastive_views" -> ((s, d) =>
      Corpus.contrastiveViews(par(Tables.documents(s, d)))),
    // distant-supervision lexicon tagging: corpus-mined per-source
    // lexicons broadcast into the token stream, integer-hit argmax
    "lexicon_tags" -> ((s, d) =>
      TextAnalysis.lexiconTags(par(Tables.documents(s, d)))),
    // BERT NSP pair construction: positives per-row, negatives via one
    // equi-join on the hash-drawn source doc
    "nsp_pairs" -> ((s, d) => Corpus.nspPairs(par(Tables.documents(s, d)))),
    // Efraimidis–Spirakis weighted sampling without replacement:
    // dyadic source weights, TakeOrdered top-k — no corpus shuffle
    "weighted_sample" -> ((s, d) => Corpus.weightedSample(Tables.documents(s, d))),
    // annotation consensus: majority vote + agreement + Fleiss P_o per
    // doc over a fabricated m-rater vote table (one doc-keyed shuffle)
    "label_majority" -> ((s, d) => Corpus.labelMajority(par(Tables.documents(s, d)))),
    // thread root/depth by pointer doubling — O(log depth) equi-join
    // rounds; oracle replays the walk as a recursive CTE
    "thread_assembly" -> ((s, d) => Corpus.threadAssembly(par(Tables.documents(s, d)))),
    "pii_redaction" -> ((s, d) => Corpus.redactionReport(par(Tables.documents(s, d)))),
    "corpus_pipeline" -> ((s, d) => Corpus.corpusPipeline(par(Tables.documents(s, d)))),
    // per-source data card published alongside each training mix
    "corpus_profile" -> ((s, d) => Corpus.corpusProfile(Tables.documents(s, d))),
    // temperature mixture weights (w_i ∝ n_i^α; α=0.5 because IEEE
    // sqrt is correctly rounded everywhere -> hash-exact oracle)
    "mixture_weights" -> ((s, d) => Corpus.mixtureWeights(Tables.documents(s, d))),
    // language temperature resampling (share^alpha, dyadic alpha via
    // correctly-rounded sqrt compositions), with effective boosts
    "lang_temperature_mix" -> ((s, d) =>
      Corpus.langTemperatureMix(Tables.documents(s, d))),
    // rank-frequency OLS: the distributional health check of a corpus
    "zipf_fit" -> ((s, d) => TextAnalysis.zipfFit(par(Tables.documents(s, d)))),
    // count-min sketch as relational algebra (oracle-checked, portable hash)
    "cms_word_freq" -> ((s, d) => TextAnalysis.cmsWordFreq(par(Tables.documents(s, d)))),
    // per-doc token-distribution entropy (repetition-sensitive quality)
    "doc_entropy" -> ((s, d) => TextAnalysis.docEntropy(par(Tables.documents(s, d)))),
    "contamination" -> ((s, d) => Corpus.contamination(par(Tables.documents(s, d)))),
    // cross-source shingle overlap matrix (A9's pair-overlap plan at
    // corpus scale; integers + one IEEE division -> hash-exact)
    "source_overlap" -> ((s, d) => Corpus.sourceOverlap(par(Tables.documents(s, d)))),
    // per-source unigram KL vs the corpus mixture — one (source, word)
    // count shuffle, everything downstream vocab-bounded
    "source_kl" -> ((s, d) => Corpus.sourceKlDivergence(par(Tables.documents(s, d)))),
    // the same KL lattice over exact-NTILE ingestion windows: the
    // crawl-drift diagnostic (bucket for source, same plan shape)
    "corpus_drift" -> ((s, d) =>
      Corpus.corpusDrift(par(Tables.documents(s, d)))),
    // easy-first curriculum position + phase split — range-partitioned
    // global rank (no single-task sort), entropy as difficulty
    "curriculum_order" -> ((s, d) => Corpus.curriculumOrder(par(Tables.documents(s, d)))),
    // ---- deduplication ----
    "dedup_exact" -> ((s, d) => Dedup.dedupExact(par(Tables.documents(s, d)))),
    "dedup_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccardPairs(par(Tables.documents(s, d)))),
    // exact token-set similarity join via prefix filtering (AllPairs/
    // PPJoin family) — no false negatives, candidates keyed on each
    // doc's rarest tokens
    "dedup_prefix_jaccard" -> ((s, d) => Dedup.prefixJaccardPairs(par(Tables.documents(s, d)))),
    // sorted-neighborhood blocking (SNM): O(n·window) candidates by
    // construction — deterministic, so hash-exact despite heuristic
    // recall
    "dedup_sorted_neighborhood" -> ((s, d) =>
      Dedup.sortedNeighborhoodPairs(par(Tables.documents(s, d)))),
    "dedup_minhash_lsh" -> ((s, d) => Dedup.minhashLshPairs(par(Tables.documents(s, d)))),
    "dedup_incremental" -> ((s, d) => {
      val docs = par(Tables.documents(s, d))
      Dedup.incrementalLshPairs(docs.where(col("doc_id") % 5 =!= 0),
        docs.where(col("doc_id") % 5 === 0))
    }),
    "dedup_clusters" -> ((s, d) => Dedup.dedupClusters(par(Tables.documents(s, d)))),
    // substring-level dup signal: share of each doc's word 4-grams
    // that occur in at least one other document (Lee et al. shape)
    "cross_doc_ngram_dup" -> ((s, d) => Dedup.crossDocNgramDup(par(Tables.documents(s, d)))),
    // ingestion-order novelty curve: first-owner min(doc_id) join,
    // no ordering dependency materializes
    "ngram_novelty" -> ((s, d) => Dedup.ngramNovelty(par(Tables.documents(s, d)))),
    // split-leakage audit: exact near-dup pairs per (split, split)
    // cell of the hash split - the memorization canary
    "split_leakage" -> ((s, d) => Dedup.splitLeakage(par(Tables.documents(s, d)))),
    // near-dup clusters keep their best member, not their smallest id
    "dedup_keep_best" -> ((s, d) => Dedup.dedupKeepBest(par(Tables.documents(s, d)))),
    // containment pairs: short-inside-long duplication Jaccard misses
    "dedup_containment" -> ((s, d) => Dedup.containmentPairs(par(Tables.documents(s, d)))),
    "dedup_simhash_pairs" -> ((s, d) => Dedup.simhashPairs(par(Tables.documents(s, d)))),
    // exact substring-span removal (Lee et al. ExactSubstr): duplicated
    // k-token spans cut from every doc, cleaned text reconstructed
    "dedup_span_removal" -> ((s, d) => Dedup.spanRemoval(par(Tables.documents(s, d)))),
    // corpus-level exact line dedup (RefinedWeb line-wise rule): first
    // occurrence of each rendered line survives, docs rebuilt
    "line_dedup" -> ((s, d) => Dedup.lineDedup(par(Tables.documents(s, d)))),
    // within-doc boilerplate cleaner: first occurrence per repeated
    // line INSIDE each document — zero-shuffle per-row fold
    "within_doc_line_dedup" -> ((s, d) =>
      Dedup.withinDocLineDedup(par(Tables.documents(s, d)))),
    // ExactSubstr (Lee et al. ACL'22): maximal corpus-wide duplicated
    // token spans via the O(chars) prefix-hash shingle kernel — the
    // region-level cut the doc-level dedup faces can't make
    "dedup_exact_substr" -> ((s, d) =>
      Dedup.exactSubstrSpans(par(Tables.documents(s, d)))),
    // incremental ExactSubstr: a batch's spans against corpus∪batch
    // with the corpus touched only as its (sh, df) aggregate — the
    // never-re-pair-the-corpus production shape; oracle = the full
    // replay filtered to batch docs
    "dedup_exact_substr_incremental" -> ((s, d) => {
      val docs = par(Tables.documents(s, d))
      Dedup.exactSubstrIncremental(docs.where(col("doc_id") % 5 =!= 0),
        docs.where(col("doc_id") % 5 === 0))
    }),
    // bloom membership gate: exact is-this-key-already-known — the
    // 1996+ cohort's customers probed against a filter built from the
    // pre-1996 order history (~20% genuinely first-time); the bloom
    // layer is performance-only (oracle-invisible)
    "dedup_bloom_gate" -> ((s, d) => {
      val orders = par(Tables.orders(s, d))
      Dedup.bloomGate(
        orders.where(col("o_orderdate") < "1996-01-01"),
        orders.where(col("o_orderdate") >= "1996-01-01")
          .select(col("o_custkey")).distinct(),
        "o_custkey")
    }),
    // ---- similarity search ----
    "knn_bruteforce" -> ((s, d) => Similarity.knnBruteForce(par(Tables.embeddings(s, d)))),
    // contrastive hard-negative mining (nearest different-label vectors)
    "hard_negatives" -> ((s, d) => Similarity.hardNegatives(par(Tables.embeddings(s, d)))),
    // centroid-distance z-score screen for mislabeled/corrupt vectors
    "embedding_outliers" -> ((s, d) => Similarity.embeddingOutliers(par(Tables.embeddings(s, d)))),
    // per-dim corpus standardization (feature scaling, summary output)
    "embedding_standardize" -> ((s, d) => Similarity.embeddingStandardize(par(Tables.embeddings(s, d)))),
    // distributed PCA: one Gram pass + driver eigen; per-row projection
    "embedding_pca" -> ((s, d) => Similarity.embeddingPca(par(Tables.embeddings(s, d)))),
    "knn_pca" -> ((s, d) => Similarity.knnPca(par(Tables.embeddings(s, d)))),
    "knn_pca_recall" -> ((s, d) => Similarity.knnPcaRecall(par(Tables.embeddings(s, d)))),
    // pinned-basis recall twin: the shared projected-search/re-rank
    // path with deterministic parameters -> the recall number itself
    // is hash-exact (knn_ivf_trained_pinned convention)
    "knn_pca_recall_pinned" -> ((s, d) =>
      Similarity.knnPcaRecallPinned(par(Tables.embeddings(s, d)))),
    // Matryoshka truncated-prefix search: model-free dimensionality
    // reduction (slice), exact re-rank — BOTH faces fully oracle-able
    "knn_mrl" -> ((s, d) => Similarity.knnMrl(par(Tables.embeddings(s, d)))),
    "knn_mrl_recall" -> ((s, d) =>
      Similarity.knnMrlRecall(par(Tables.embeddings(s, d)))),
    // NN-descent all-nodes k-NN graph (local joins on shared
    // neighbors, fixed rounds) + its measured recall face — rows-only
    // by the trained-twin convention (FP state accumulates across
    // rounds); floors in ContractSpec
    "knn_graph_nnd" -> ((s, d) =>
      Similarity.nnDescentGraph(par(Tables.embeddings(s, d)))),
    "knn_graph_nnd_recall" -> ((s, d) =>
      Similarity.nnDescentRecall(par(Tables.embeddings(s, d)))),
    "embedding_near_dup" -> ((s, d) => Similarity.embeddingNearDup(par(Tables.embeddings(s, d)))),
    // SemDeDup: connected components over embedding-cosine near-dup
    // pairs, keep-smallest-id (exact pair stage -> exact oracle)
    "semantic_dedup" -> ((s, d) => Similarity.semanticDedup(par(Tables.embeddings(s, d)))),
    "embedding_near_dup_lsh" -> ((s, d) => Similarity.embeddingNearDupLsh(par(Tables.embeddings(s, d)))),
    "knn_lsh" -> ((s, d) => Similarity.knnLsh(par(Tables.embeddings(s, d)))),
    "knn_ivf" -> ((s, d) => Similarity.knnIvf(par(Tables.embeddings(s, d)))),
    "knn_lsh_recall" -> ((s, d) => Similarity.knnLshRecall(par(Tables.embeddings(s, d)))),
    "cosine_sim_histogram" -> ((s, d) => Similarity.cosineSimHistogram(par(Tables.embeddings(s, d)))),
    // rows-only: trained-centroid IVF (kmeansFit is deterministic, but
    // the index is approximate like knn_ivf)
    "knn_ivf_trained" -> ((s, d) => Similarity.knnIvfTrained(par(Tables.embeddings(s, d)))),
    // the trained path's pinned-centroid twin: same assign/probe code,
    // unequal-norm pinned centroids, hash-exact oracle
    "knn_ivf_trained_pinned" -> ((s, d) =>
      Similarity.knnIvfTrainedPinned(par(Tables.embeddings(s, d)))),
    // trained k-means corpus clustering (size + majority-label purity
    // per cluster) — rows-only; invariants in SimilaritySpec
    "embedding_clusters" -> ((s, d) => Similarity.embeddingClusters(par(Tables.embeddings(s, d)))),
    // pinned-centroid face: deterministic ±1 stand-ins make the whole
    // cluster/label summary hash-exact (knn_pq default-codebook
    // precedent); the trained face above stays the k-means measurement
    "embedding_clusters_pinned" -> ((s, d) =>
      Similarity.embeddingClustersPinned(par(Tables.embeddings(s, d)))),
    // cluster-balanced mixture sampling over the pinned assignment —
    // per-cluster picks via the bounded-heap TopKPerGroup plan
    "cluster_balanced_sample" -> ((s, d) =>
      Similarity.clusterBalancedSample(par(Tables.embeddings(s, d)))),
    "knn_ivf_recall" -> ((s, d) => Similarity.knnIvfRecall(par(Tables.embeddings(s, d)))),
    // int8 vector-store compression: exact integer-summary oracle row,
    // plus the quantized-search twin and its recall-as-data row
    "embedding_quantization" -> ((s, d) =>
      Similarity.embeddingQuantization(par(Tables.embeddings(s, d)))),
    "knn_int8" -> ((s, d) => Similarity.knnBruteForceInt8(par(Tables.embeddings(s, d)))),
    "knn_int8_recall" -> ((s, d) => Similarity.knnInt8Recall(par(Tables.embeddings(s, d)))),
    // product quantization: 64-bit codes (16x compression), ADC search;
    // rows-only like every approximate index, trained-recall as data
    "knn_pq" -> ((s, d) => Similarity.knnPq(par(Tables.embeddings(s, d)))),
    "knn_pq_recall" -> ((s, d) => Similarity.knnPqRecall(par(Tables.embeddings(s, d)))),
    // pinned-codebook recall twin: same encode/ADC/re-rank functions
    // at the deterministic defaults -> hash-exact recall oracle
    "knn_pq_recall_pinned" -> ((s, d) =>
      Similarity.knnPqRecallPinned(par(Tables.embeddings(s, d)))),
    // IVF-PQ: coarse list pruning x product codes + exact re-rank —
    // the production compressed-index composition (rows-only)
    "knn_ivfpq" -> ((s, d) => Similarity.knnIvfPq(par(Tables.embeddings(s, d)))),
    "knn_ivfpq_recall" -> ((s, d) =>
      Similarity.knnIvfPqRecall(par(Tables.embeddings(s, d)))),
    // pinned twin of the full IVF-PQ path (stand-in lists + pinned
    // codebooks): a code-path oracle, not the fidelity claim
    "knn_ivfpq_recall_pinned" -> ((s, d) =>
      Similarity.knnIvfPqRecallPinned(par(Tables.embeddings(s, d)))),
    // ---- multimodal binary-column plumbing (decode stubbed) ----
    "multimodal_feature_summary" -> ((s, d) =>
      Multimodal.featureSummary(s, par(Tables.documents(s, d)))),
    "multimodal_frame_sample" -> ((s, d) =>
      Multimodal.frameSampleStats(s, par(Tables.documents(s, d)))),
    // real container-header decode (BMP/WAV/PNG byte layout) over
    // fabricated-but-real payload files — see MediaCodecs
    "media_metadata" -> ((s, d) =>
      MediaCodecs.mediaMetadata(s, par(Tables.documents(s, d)))),
    // perceptual image near-dup: real BMP pixel decode -> integer aHash
    // -> banded pair join; DuckDB regenerates the portable mix24
    // pixels and every hash bit, so the pair set is hash-exact
    // (ImageIO cross-check stays in the spec)
    "media_ahash_dedup" -> ((s, d) =>
      MediaCodecs.mediaAhashDedup(s, par(Tables.documents(s, d)),
        groupMod = mediaGroupMod)),
    // gradient-hash sibling: local adjacent-block relations instead of
    // the global-mean threshold (same fixture, plan, and full oracle)
    "media_dhash_dedup" -> ((s, d) =>
      MediaCodecs.mediaDhashDedup(s, par(Tables.documents(s, d)),
        groupMod = mediaGroupMod)),
    // temporal sibling: per-frame dHash over REAL animated-GIF
    // encode/decode, frame-level band join, shorter-side frame vote
    "media_video_dedup" -> ((s, d) =>
      MediaCodecs.mediaVideoDedup(s, par(Tables.documents(s, d)),
        groupMod = mediaGroupMod)),
    // real PCM sample decode -> integer audio features; DuckDB replays
    // the closed-form sample stream, so the decode is hash-exact
    "audio_features" -> ((s, d) =>
      MediaCodecs.audioFeatures(s, par(Tables.documents(s, d)))),
    // real BMP pixel-array + PNG inflate/unfilter decode -> integer
    // stats; DuckDB replays the closed-form pixel generator exactly
    "image_pixel_stats" -> ((s, d) =>
      MediaCodecs.imagePixelStats(s, par(Tables.documents(s, d))))
  )

  // Shared oracle-SQL fragments (DuckDB dialect).
  private val MinuteFmt = "%Y_%m_%dT%H_%M"
  private def spineCte(lastMinutes: Int = 10): String =
    s"""WITH now_m AS (SELECT date_trunc('minute', max(ts)) AS m FROM events),
       |spine AS (SELECT unnest(generate_series(
       |  (SELECT m FROM now_m) - INTERVAL $lastMinutes MINUTE,
       |  (SELECT m FROM now_m) - INTERVAL 1 MINUTE,
       |  INTERVAL 1 MINUTE)) AS minute_start)""".stripMargin
  /** events normalized to the LogEvent view (FIXTURES.md §2 mapping). */
  private val evCte =
    """ev AS (SELECT cast(user_id AS varchar) AS uid,
      |  json_extract_string(props, '$.k') AS experiment_id,
      |  event_type AS variant, ts AS "timestamp" FROM events)""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "visits_per_minute" ->
      s"""WITH $evCte
         |SELECT strftime(date_trunc('minute', "timestamp"), '$MinuteFmt') AS minute_key,
         |  count(*) AS visits FROM ev GROUP BY 1 ORDER BY 1""".stripMargin,
    // fold-merged arrival batches ≡ the one-shot aggregate (algebraic
    // merge law) — deliberately the SAME oracle as visits_per_minute
    "visits_incremental" ->
      s"""WITH $evCte
         |SELECT strftime(date_trunc('minute', "timestamp"), '$MinuteFmt') AS minute_key,
         |  count(*) AS visits FROM ev GROUP BY 1 ORDER BY 1""".stripMargin,
    // each event replays into its 5 covering 1-minute-slide windows:
    // window starts trunc(ts)-k for k=0..4 (mirrors Spark's
    // epoch-aligned window(ts, '5 minutes', '1 minute') assignment)
    "visits_sliding" ->
      s"""WITH $evCte,
         |w AS (SELECT date_trunc('minute', "timestamp") - to_minutes(t.k) AS ws
         |      FROM ev, range(5) AS t(k))
         |SELECT strftime(ws, '$MinuteFmt') AS window_start, count(*) AS visits
         |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
    "rolling_active_users" ->
      s"""WITH $evCte,
         |w AS (SELECT date_trunc('minute', "timestamp") - to_minutes(t.k) AS ws,
         |        uid
         |      FROM ev, range(5) AS t(k))
         |SELECT strftime(ws, '$MinuteFmt') AS window_start,
         |  count(DISTINCT uid) AS active_users
         |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
    "cohort_retention" ->
      s"""WITH $evCte,
         |fs AS (SELECT uid, min(date_trunc('minute', "timestamp")) AS cohort_m
         |       FROM ev GROUP BY 1),
         |o AS (SELECT e.uid, fs.cohort_m,
         |        (floor(epoch(date_trunc('minute', e."timestamp")))::BIGINT -
         |         floor(epoch(fs.cohort_m))::BIGINT) // 60 AS offset_min
         |      FROM ev e JOIN fs USING (uid))
         |SELECT strftime(cohort_m, '$MinuteFmt') AS cohort_minute,
         |  offset_min::BIGINT AS offset_min,
         |  count(DISTINCT uid) AS active_users
         |FROM o GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "unique_users_per_minute" ->
      s"""WITH $evCte
         |SELECT strftime(date_trunc('minute', "timestamp"), '$MinuteFmt') AS minute_key,
         |  count(DISTINCT uid) AS unique_users FROM ev GROUP BY 1 ORDER BY 1""".stripMargin,
    "unique_users_per_minute_salted" ->
      s"""WITH $evCte
         |SELECT strftime(date_trunc('minute', "timestamp"), '$MinuteFmt') AS minute_key,
         |  count(DISTINCT uid) AS unique_users FROM ev GROUP BY 1 ORDER BY 1""".stripMargin,
    "users_per_experiment_variant_minute" ->
      s"""WITH $evCte
         |SELECT experiment_id, variant,
         |  strftime(date_trunc('minute', "timestamp"), '$MinuteFmt') AS minute_key,
         |  count(DISTINCT uid) AS unique_users
         |FROM ev GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "unique_users_per_variant" ->
      s"""WITH $evCte
         |SELECT variant, count(DISTINCT uid) AS unique_users
         |FROM ev GROUP BY 1 ORDER BY 1""".stripMargin,
    "unique_users_per_experiment" ->
      s"""WITH $evCte
         |SELECT experiment_id, count(DISTINCT uid) AS unique_users
         |FROM ev GROUP BY 1 ORDER BY 1""".stripMargin,
    "active_experiments_per_minute" ->
      s"""WITH $evCte
         |SELECT strftime(date_trunc('minute', "timestamp"), '$MinuteFmt') AS minute_key,
         |  count(DISTINCT experiment_id) AS active_experiments
         |FROM ev GROUP BY 1 ORDER BY 1""".stripMargin,
    "active_variants_per_minute" ->
      s"""WITH $evCte
         |SELECT strftime(date_trunc('minute', "timestamp"), '$MinuteFmt') AS minute_key,
         |  count(DISTINCT variant) AS active_variants
         |FROM ev GROUP BY 1 ORDER BY 1""".stripMargin,
    "variant_overlap" ->
      """WITH uv AS (SELECT DISTINCT event_type AS variant, user_id FROM events)
        |SELECT a.variant AS variant_a, b.variant AS variant_b,
        |  count(*) AS overlap_users
        |FROM uv a JOIN uv b ON a.user_id = b.user_id AND a.variant < b.variant
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "visits_timeseries" ->
      s"""${spineCte()},
         |agg AS (SELECT date_trunc('minute', ts) AS minute_start, count(*) AS visits
         |  FROM events GROUP BY 1)
         |SELECT strftime(spine.minute_start, '$MinuteFmt') AS minute_key,
         |  coalesce(agg.visits, 0) AS visits
         |FROM spine LEFT JOIN agg USING (minute_start) ORDER BY minute_key""".stripMargin,
    "visits_timeseries_dayedge" ->
      s"""WITH evf AS (SELECT ts FROM events
         |  WHERE ts < TIMESTAMP '2024-01-15 00:04:00'),
         |now_m AS (SELECT date_trunc('minute', max(ts)) AS m FROM evf),
         |spine AS (SELECT unnest(generate_series(
         |  (SELECT m FROM now_m) - INTERVAL 10 MINUTE,
         |  (SELECT m FROM now_m) - INTERVAL 1 MINUTE,
         |  INTERVAL 1 MINUTE)) AS minute_start),
         |agg AS (SELECT date_trunc('minute', ts) AS minute_start, count(*) AS visits
         |  FROM evf GROUP BY 1)
         |SELECT strftime(spine.minute_start, '$MinuteFmt') AS minute_key,
         |  coalesce(agg.visits, 0) AS visits
         |FROM spine LEFT JOIN agg USING (minute_start) ORDER BY minute_key""".stripMargin,
    "users_timeseries" ->
      s"""${spineCte()},
         |agg AS (SELECT date_trunc('minute', ts) AS minute_start,
         |  count(DISTINCT user_id) AS unique_users FROM events GROUP BY 1)
         |SELECT strftime(spine.minute_start, '$MinuteFmt') AS minute_key,
         |  coalesce(agg.unique_users, 0) AS unique_users
         |FROM spine LEFT JOIN agg USING (minute_start) ORDER BY minute_key""".stripMargin,
    "experiments_timeseries" ->
      s"""${spineCte()},
         |agg AS (SELECT date_trunc('minute', ts) AS minute_start,
         |  count(DISTINCT json_extract_string(props, '$$.k')) AS active_experiments
         |  FROM events GROUP BY 1)
         |SELECT strftime(spine.minute_start, '$MinuteFmt') AS minute_key,
         |  coalesce(agg.active_experiments, 0) AS active_experiments
         |FROM spine LEFT JOIN agg USING (minute_start) ORDER BY minute_key""".stripMargin,
    "times_spine" ->
      s"""${spineCte()}
         |SELECT strftime(minute_start, '$MinuteFmt') AS minute_key
         |FROM spine ORDER BY 1""".stripMargin,
    "parse_events_json" ->
      """SELECT event_type AS variant, count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "pricing_summary" -> Relational.pricingSummarySql,
    "top_orders_by_revenue" -> Relational.topOrdersByRevenueSql,
    "revenue_by_nation" -> Relational.revenueByNationSql,
    "orders_without_lineitems" -> Relational.ordersWithoutLineitemsSql,
    "order_fill_by_priority" -> Relational.orderFillByPrioritySql,
    "late_shipment_priority" -> Relational.lateShipmentPrioritySql,
    "pricing_rollup" -> Relational.pricingRollupSql,
    "lineitem_running_window" -> Relational.lineitemRunningWindowSql,
    "segment_nation_balance" -> Relational.segmentNationBalanceSql,
    "top_parts_per_brand" -> Relational.topPartsPerBrandSql(),
    "orders_cube" -> Relational.ordersCubeSql,
    "top_parts_per_brand_custom" -> Relational.topPartsPerBrandSql(),
    "top_tokens" -> TextAnalysis.topTokensSql(),
    "event_gaps" -> Analytics.eventGapsSql,
    "funnel_setops" -> Analytics.funnelSetOpsSql,
    "bag_setops" -> Analytics.bagSetOpsSql,
    "order_deciles" -> Analytics.orderDecilesSql,
    "order_price_ranks" -> Analytics.orderPriceRanksSql,
    "orders_by_month" -> Analytics.ordersByMonthSql,
    "revenue_mom_change" -> Analytics.revenueMomChangeSql,
    "top_customers_concat" -> Analytics.topCustomersConcatSql,
    "nation_accounts_full" -> Analytics.nationAccountsFullSql,
    "part_color_stats" -> Analytics.partColorStatsSql,
    "value_stats_by_type" -> Analytics.valueStatsByTypeSql,
    "value_winsorized" -> Analytics.valueWinsorizedSql,
    "user_enriched_salted" -> Skew.userEnrichedSaltedSql,
    "key_skew_profile" -> Skew.keySkewProfileSql(),
    "first_event_per_user_minute" -> Analytics.firstEventPerUserMinuteSql,
    "value_percentiles" -> Relational.valuePercentilesSql,
    "value_psi" -> Analytics.valuePsiSql(),
    "value_band_counts" -> Relational.valueBandCountsSql(),
    "props_variant_stats" -> Relational.propsVariantStatsSql,
    "event_type_pivot" -> Relational.eventTypePivotSql(),
    "event_type_unpivot" -> Relational.eventTypeUnpivotSql(),
    "user_sessions" -> Metrics.userSessionsSql(),
    "user_sessions_window" -> Metrics.userSessionsSql(),
    "min_price_part_per_type" -> Relational.minPricePartPerTypeSql,
    "asof_purchase_after_click" -> AsOf.purchaseAfterClickSql,
    "asof_purchase_after_click_custom" -> AsOf.purchaseAfterClickSql,
    "pricing_summary_sql" -> Relational.pricingSummarySql,
    "pricing_grouping_sets" -> Relational.groupingSetsSql,
    "snapshot_upsert" -> Maintenance.snapshotUpsertSql,
    "snapshot_diff" -> Maintenance.snapshotDiffOrdersSql,
    "table_profile" -> Maintenance.tableProfileSql,
    "zorder_value" -> Maintenance.zorderValueSql(),
    "urgent_customers_exists" -> Relational.urgentCustomersSql,
    "null_safe_join" -> Relational.nullSafeJoinSql,
    "top_customer_lateral" -> Relational.topCustomerLateralSql,
    "order_value_extremes" -> Relational.orderValueExtremesSql,
    "user_peak_burst" -> Analytics.userPeakBurstSql(),
    "forward_fill" -> Analytics.forwardFillSql,
    // bitmap distinct is EXACT — the plain count-distinct SQL is its oracle
    "unique_users_bitmap" ->
      s"""WITH $evCte
         |SELECT strftime(date_trunc('minute', "timestamp"), '$MinuteFmt') AS minute_key,
         |  count(DISTINCT uid) AS unique_users FROM ev GROUP BY 1 ORDER BY 1""".stripMargin,
    "scd2_history" -> Changes.scd2HistorySql,
    "cdc_apply" -> Changes.cdcApplySql,
    "orders_in_flight_by_month" -> Changes.ordersInFlightByMonthSql,
    "event_transitions" -> Analytics.eventTransitionsSql,
    "ordered_funnel" -> Analytics.orderedFunnelSql,
    "qty_price_correlation" -> Analytics.qtyPriceCorrelationSql,
    "value_histogram" -> Analytics.valueHistogramSql(),
    "experiment_entropy" -> Analytics.experimentEntropySql,
    "collocations" -> TextAnalysis.collocationsSql(),
    "lm_bigram_score" -> TextAnalysis.lmBigramScoreSql,
    "lm_kneser_ney_score" -> TextAnalysis.lmKneserNeyScoreSql,
    "lm_trigram_score" -> TextAnalysis.lmTrigramScoreSql(),
    "perplexity_buckets" -> TextAnalysis.perplexityBucketsSql(),
    "gopher_quality" -> TextAnalysis.gopherQualitySql(),
    "gopher_repetition" -> TextAnalysis.gopherRepetitionSql(),
    "c4_line_filter" -> TextAnalysis.c4LineFilterSql(),
    "html_extract" -> TextAnalysis.htmlExtractSql(),
    "bpe_merges" -> TextAnalysis.bpeTrainSql(),
    "bpe_encode" -> TextAnalysis.bpeEncodeSql(),
    "wordpiece_merges" -> TextAnalysis.wordpieceTrainSql(),
    "wordpiece_encode" -> TextAnalysis.wordpieceEncodeSql(),
    "length_buckets" -> Corpus.lengthBucketsSql,
    "modal_event_type" -> Analytics.modalEventTypeSql,
    "visits_zscore" -> Analytics.visitsZscoreSql(),
    "visits_ewma" -> Analytics.visitsEwmaSql(),
    "visits_cusum" -> Analytics.visitsCusumSql(),
    "variant_lift" -> Analytics.variantLiftSql,
    "value_bootstrap_ci" -> Analytics.valueBootstrapCiSql(),
    "multi_touch_attribution" -> Analytics.multiTouchAttributionSql(),
    "value_mad" -> Analytics.valueMadSql,
    "knn_mrl" -> Similarity.knnMrlSql(),
    "knn_mrl_recall" -> Similarity.knnMrlRecallSql(),
    "cosine_sim_histogram" -> Similarity.cosineSimHistogramSql(),
    "fuzzy_name_matches" -> Relational.fuzzyNameMatchesSql(),
    "tfidf_top_terms" -> TextAnalysis.tfidfTopTermsSql(),
    "char_ngram_explode" -> TextAnalysis.charNgramExplodeSql(),
    "doc_fingerprint" -> TextAnalysis.docFingerprintSql,
    "token_count" -> TextAnalysis.tokenCountSql,
    "feature_hashing" -> TextAnalysis.featureHashingSql(),
    "vocab_coverage" -> TextAnalysis.vocabCoverageSql(),
    "text_normalize" -> TextAnalysis.textNormalizeSql,
    "token_stats_udaf" -> TextAnalysis.tokenStatsSql,
    "text_quality" -> TextAnalysis.textQualitySql,
    "lang_id" -> TextAnalysis.langIdSql,
    "unigram_familiarity" -> TextAnalysis.unigramFamiliaritySql(),
    "ngram_repetition" -> TextAnalysis.ngramRepetitionSql(),
    "hash_split" -> Corpus.hashSplitSql(),
    "stratified_split" -> Corpus.stratifiedSplitSql(),
    "token_budget_mix" -> Corpus.tokenBudgetMixSql(),
    "corpus_shuffle" -> Corpus.corpusShuffleSql(),
    "bm25_search" -> Retrieval.bm25SearchSql(),
    "ql_dirichlet_search" -> Retrieval.qlDirichletSearchSql(),
    "proximity_search" -> Retrieval.proximitySearchSql(),
    "hybrid_search" -> Retrieval.hybridSearchSql(),
    "rrf_fusion" -> Retrieval.rrfFusionSql(),
    "retrieval_ndcg" -> Retrieval.retrievalNdcgSql(),
    "mmr_rerank" -> Retrieval.mmrRerankSql(),
    "dsir_weights" -> Corpus.dsirWeightsSql(),
    "quality_filter_by_source" -> Corpus.qualityFilterBySourceSql,
    "cap_per_source" -> Corpus.capPerSourceSql(),
    "mixture_sample" -> Corpus.mixtureSampleSql(Corpus.DemoRates),
    "doc_chunks" -> Corpus.docChunksSql(chunkLen = 64),
    "chunk_dedup" -> Corpus.chunkDedupSql(),
    "corpus_pipeline" -> Corpus.corpusPipelineSql(),
    "corpus_profile" -> Corpus.corpusProfileSql(),
    "mixture_weights" -> Corpus.mixtureWeightsSql(),
    "lang_temperature_mix" -> Corpus.langTemperatureMixSql(),
    "zipf_fit" -> TextAnalysis.zipfFitSql(),
    "word_pagerank" -> TextAnalysis.wordPagerankSql(),
    "cms_word_freq" -> TextAnalysis.cmsWordFreqSql(),
    "doc_entropy" -> TextAnalysis.docEntropySql(),
    "dedup_containment" -> Dedup.containmentPairsSql(),
    "embedding_standardize" -> Similarity.embeddingStandardizeSql(),
    "contamination" -> Corpus.contaminationSql(),
    "source_overlap" -> Corpus.sourceOverlapSql(),
    "source_kl" -> Corpus.sourceKlDivergenceSql,
    "corpus_drift" -> Corpus.corpusDriftSql(),
    "curriculum_order" -> Corpus.curriculumOrderSql(),
    "dedup_exact" -> Dedup.dedupExactSql,
    "dedup_ngram_jaccard" -> Dedup.ngramJaccardPairsSql(),
    "dedup_prefix_jaccard" -> Dedup.prefixJaccardPairsSql(),
    "dedup_sorted_neighborhood" -> Dedup.sortedNeighborhoodPairsSql(),
    "dedup_clusters" -> Dedup.dedupClustersSql(),
    "dedup_bloom_gate" -> Dedup.bloomGateSql,
    "cross_doc_ngram_dup" -> Dedup.crossDocNgramDupSql(),
    "ngram_novelty" -> Dedup.ngramNoveltySql(),
    "split_leakage" -> Dedup.splitLeakageSql(),
    "dedup_keep_best" -> Dedup.dedupKeepBestSql(),
    "dedup_simhash_pairs" -> Dedup.simhashPairsSql(),
    "dedup_span_removal" -> Dedup.spanRemovalSql(),
    "line_dedup" -> Dedup.lineDedupSql(),
    "within_doc_line_dedup" -> Dedup.withinDocLineDedupSql(),
    "dedup_exact_substr" -> Dedup.exactSubstrSpansSql(),
    "dedup_exact_substr_incremental" -> Dedup.exactSubstrIncrementalSql(),
    "doc_winnowing" -> TextAnalysis.winnowingSummarySql(),
    "winnow_pairs" -> TextAnalysis.winnowPairsSql(k = 16, w = 8),
    "sequence_packing" -> Corpus.packSequencesSql(budget = 512),
    "length_batching" -> Corpus.lengthBatchingSql(),
    "span_corruption" -> Corpus.spanCorruptionSql(),
    "mlm_masking" -> Corpus.mlmMaskingSql(),
    "unigram_segment_pinned" -> Unigram.unigramSegmentPinnedSql(),
    "quality_ensemble" -> Corpus.qualityEnsembleSql(),
    "sft_examples" -> Corpus.sftExamplesSql(),
    "dpo_pairs" -> Corpus.dpoPairsSql(),
    "bt_strength" -> Preference.btStrengthSql(),
    "winrate_bootstrap_ci" -> Preference.winrateBootstrapCiSql(),
    "annotator_kappa" -> Preference.annotatorKappaSql(),
    "group_advantages" -> Preference.groupAdvantagesSql(),
    "best_of_n" -> Preference.bestOfNSql(),
    "pass_at_k" -> Preference.passAtKSql(),
    "bleu_pairs" -> Preference.bleuPairsSql(),
    "calibration_bins" -> Classifier.calibrationBinsSql(),
    "dpo_length_bias" -> Preference.dpoLengthBiasSql(),
    "vocab_richness" -> TextAnalysis.vocabRichnessSql(),
    "variant_conversion" -> Analytics.variantConversionSql(),
    "sprt_conversion" -> Analytics.sprtConversionSql(),
    "fdr_experiments" -> Analytics.fdrExperimentsSql(),
    "holm_experiments" -> Analytics.holmExperimentsSql(),
    "mwu_experiments" -> Analytics.mwuExperimentsSql(),
    "kruskal_experiments" -> Analytics.kruskalExperimentsSql(),
    "cuped_lift" -> Analytics.cupedLiftSql(),
    "rouge_n_pairs" -> Preference.rougeNPairsSql(),
    "chrf_pairs" -> Preference.chrfPairsSql(),
    "distinct_ngrams" -> TextAnalysis.distinctNgramsSql(),
    "krippendorff_alpha" -> Preference.krippendorffAlphaSql(),
    "fleiss_kappa" -> Preference.fleissKappaSql(),
    "krippendorff_alpha_interval" ->
      Preference.krippendorffAlphaIntervalSql(),
    "temperature_fit" -> Classifier.temperatureFitSql(),
    "rouge_pairs" -> Preference.rougePairsSql(),
    "doremi_weights" -> Corpus.doremiWeightsSql(),
    "contrastive_views" -> Corpus.contrastiveViewsSql(),
    "lexicon_tags" -> TextAnalysis.lexiconTagsSql(),
    "nsp_pairs" -> Corpus.nspPairsSql(),
    "weighted_sample" -> Corpus.weightedSampleSql(),
    "label_majority" -> Corpus.labelMajoritySql(),
    "thread_assembly" -> Corpus.threadAssemblySql(),
    "pii_redaction" -> Corpus.redactionReportSql,
    // LSH is deterministic and, on the bimodal corpus, finds exactly the
    // exact-Jaccard pair set (candidate recall ≈ 1 at j ≥ 0.8, and the
    // verification stage recomputes the same jaccard) — so the exact
    // pipeline's SQL doubles as its oracle. DedupSpec asserts the same
    // equivalence in-process.
    "dedup_minhash_lsh" -> Dedup.ngramJaccardPairsSql(),
    "dedup_incremental" -> Dedup.incrementalLshPairsSql(),
    "multimodal_feature_summary" -> Multimodal.featureSummarySql,
    "multimodal_frame_sample" -> Multimodal.frameSampleStatsSql,
    "media_metadata" -> MediaCodecs.mediaMetadataSql,
    "audio_features" -> MediaCodecs.audioFeaturesSql,
    "image_pixel_stats" -> MediaCodecs.imagePixelStatsSql,
    "media_ahash_dedup" ->
      MediaCodecs.mediaAhashDedupSql(groupMod = mediaGroupMod),
    "media_dhash_dedup" ->
      MediaCodecs.mediaDhashDedupSql(groupMod = mediaGroupMod),
    "media_video_dedup" ->
      MediaCodecs.mediaVideoDedupSql(groupMod = mediaGroupMod),
    "embedding_quantization" -> Similarity.embeddingQuantizationSql,
    "knn_bruteforce" -> Similarity.knnBruteForceSql(),
    "knn_lsh" -> Similarity.knnLshSql(),
    "knn_ivf" -> Similarity.knnIvfSql(),
    "knn_ivf_trained_pinned" -> Similarity.knnIvfTrainedPinnedSql(),
    "quality_score_pinned" -> Classifier.qualityScorePinnedSql(),
    "knn_lsh_recall" -> Similarity.knnLshRecallSql(),
    "knn_ivf_recall" -> Similarity.knnIvfRecallSql(),
    "knn_pq" -> Similarity.knnPqSql(),
    "knn_pq_recall_pinned" -> Similarity.knnPqRecallPinnedSql(),
    "knn_pca" -> Similarity.knnPcaSql(),
    "knn_pca_recall_pinned" -> Similarity.knnPcaRecallPinnedSql(),
    "knn_ivfpq_recall_pinned" -> Similarity.knnIvfPqRecallPinnedSql(),
    "embedding_clusters_pinned" -> Similarity.embeddingClustersPinnedSql(),
    "cluster_balanced_sample" -> Similarity.clusterBalancedSampleSql(),
    "embedding_pca" -> Similarity.embeddingPcaSql(),
    "knn_ivfpq" -> Similarity.knnIvfPqSql(),
    "knn_int8" -> Similarity.knnInt8Sql(),
    "knn_int8_recall" -> Similarity.knnInt8RecallSql(),
    "hard_negatives" -> Similarity.hardNegativesSql(),
    "embedding_outliers" -> Similarity.embeddingOutliersSql(),
    "embedding_near_dup" -> Similarity.embeddingNearDupSql(),
    "embedding_near_dup_lsh" -> Similarity.embeddingNearDupLshSql(),
    "semantic_dedup" -> Similarity.semanticDedupSql()
  )
}
