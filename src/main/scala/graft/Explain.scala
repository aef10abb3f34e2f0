package graft
/** Plan-audit dump: `explain("formatted")` for a representative query
  * set. With `-o <path>` writes a markdown artifact (PLANS.md is the
  * committed copy — the "is this the plan you'd want" evidence the
  * plan-shape tests in PlanSpec assert mechanically). */
object Explain {
  def main(args: Array[String]): Unit = {
    // the shared factory (timezone, AQE, aggregate threshold) so dumped
    // plans reflect the bench session
    val spark = EngineSession.local("8")
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.01"
    val (outPath, rest) = args.toSeq match {
      case "-o" +: p +: tail => (Some(p), tail)
      case other if other.contains("-o") =>
        // -o in any other position means a forgotten/misplaced path —
        // fail with usage BEFORE it gets looked up as a query name
        System.err.println(
          "usage: runMain graft.Explain [-o <out.md>] [query ...]")
        spark.stop(); sys.exit(2)
      case other => (None, other)
    }
    // args override the default audit set: `runMain graft.Explain q1 q2`
    val defaults = Seq("pricing_summary", "revenue_by_nation", "visits_per_minute",
      "dedup_ngram_jaccard", "knn_bruteforce", "visits_sliding",
      "sequence_packing", "pii_redaction", "user_peak_burst",
      "pricing_grouping_sets", "snapshot_upsert",
      "snapshot_diff", "dedup_incremental", "cosine_sim_histogram",
      "collocations", "visits_incremental",
      "line_dedup", "mlm_masking", "nsp_pairs", "feature_hashing",
      "length_batching", "wordpiece_encode", "dedup_minhash_lsh",
      "bm25_search", "knn_ivf",
      "dedup_prefix_jaccard", "dedup_sorted_neighborhood",
      "sft_examples", "knn_ivf_trained_pinned", "quality_score_pinned",
      "cluster_balanced_sample", "media_dhash_dedup", "proximity_search",
      "unigram_segment_pinned", "quality_ensemble",
      "within_doc_line_dedup",
      "key_skew_profile", "lang_temperature_mix", "ql_dirichlet_search",
      "dpo_pairs", "contrastive_views", "lexicon_tags",
      "media_video_dedup", "winnow_pairs", "ngram_novelty",
      "corpus_drift", "lm_kneser_ney_score", "value_psi",
      "split_leakage",
      "visits_cusum", "variant_lift", "weighted_sample",
      "label_majority", "thread_assembly", "value_bootstrap_ci",
      "multi_touch_attribution", "value_mad", "knn_mrl",
      "html_extract",
      // bt_strength is deliberately absent: its formatted plan prints
      // every persisted MM level's full cache-build subtree (~400 KB
      // of repeated InMemoryRelation bodies — unreadable as an eyeball
      // artifact); its shape is asserted mechanically in PlanSpec and
      // its scale story lives in SCALE.md §7.9
      "annotator_kappa", "group_advantages",
      "best_of_n", "pass_at_k", "bleu_pairs", "calibration_bins",
      "retrieval_ndcg", "dpo_length_bias", "vocab_richness",
      "mmr_rerank", "variant_conversion", "sprt_conversion",
      "doremi_weights",
      // round 15 (knn_graph_nnd absent for the bt_strength reason:
      // per-round persisted local-join subtrees; PlanSpec/SCALE.md
      // carry its shape)
      "fdr_experiments", "krippendorff_alpha", "fleiss_kappa",
      "temperature_fit", "rouge_pairs", "vocab_coverage", "zipf_fit",
      "holm_experiments", "rouge_n_pairs", "distinct_ngrams",
      "krippendorff_alpha_interval", "chrf_pairs",
      // round 16
      "mwu_experiments", "winrate_bootstrap_ci",
      "kruskal_experiments", "cuped_lift",
      // round 18: pinned-parameter recall twins (each embeds the
      // declared knn_bruteforce baseline cross join — whitelisted in
      // PlanSpec with the same justification as knn_bruteforce)
      "knn_pq_recall_pinned", "knn_ivfpq_recall_pinned",
      "knn_pca_recall_pinned", "dedup_exact_substr",
      "dedup_exact_substr_incremental")
    val sb = new StringBuilder
    sb ++= "# PLANS — formatted physical plans of representative queries\n\n"
    sb ++= "Generated by `sbt \"runMain graft.Explain -o PLANS.md\"` at sf0.01.\n"
    sb ++= "What to look for per query: `PushedFilters`/`ReadSchema` at the\n"
    sb ++= "scan (pushdown + pruning), partial `HashAggregate` before each\n"
    sb ++= "`Exchange` (map-side combine), `BroadcastHashJoin` on dimension\n"
    sb ++= "sides, no `SinglePartition`/`CartesianProduct` outside the\n"
    sb ++= "whitelisted 1-row broadcasts (PlanSpec/ContractSpec assert these\n"
    sb ++= "mechanically; this file is the eyeball copy).\n"
    for (q <- if (rest.nonEmpty) rest else defaults) {
      val header = s"===== $q ====="
      println(header)
      val df = SparkEntry.queries(q)(spark, d)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(plan)
      sb ++= s"\n## $q\n\n```\n$plan```\n"
    }
    outPath.foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"EXPLAIN wrote $p")
    }
    spark.stop()
  }
}
