package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.sources.Tables
import graft.operators.{Analytics, Relational, Metrics, Dedup}

/** Plan-shape assertions: the scale properties each operator is
  * designed around (broadcasts of small sides, map-side partial
  * aggregation, column pruning at the scan) — so a refactor that
  * silently loses one fails a test, not a 100 TB run. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.Sf0001

  private def plan(df: DataFrame): String = {
    df.collect() // materialize so AQE finalizes (codegen stages appear)
    df.queryExecution.executedPlan.toString
  }

  test("revenue_by_nation broadcasts every dimension side") {
    val p = plan(Relational.revenueByNation(spark, d))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    // the fact table is never on a broadcast side: no shuffle-hash or
    // sort-merge join should remain
    assert(!p.contains("SortMergeJoin"), "dimension join degenerated to SMJ")
  }

  test("pricing_summary aggregates partially before the shuffle") {
    val p = plan(Relational.pricingSummary(Tables.lineitem(spark, d)))
    // two HashAggregates (partial + final) around one exchange
    assert("HashAggregate".r.findAllIn(p).length >= 2, p.take(800))
    // codegen stages render as "*(n) HashAggregate" in the final plan
    assert("\\*\\(\\d+\\) HashAggregate".r.findFirstIn(p).isDefined,
      "agg not codegen'd: " + p.take(400))
  }

  test("pricing_summary scan prunes to the referenced columns only") {
    val qe = Relational.pricingSummary(Tables.lineitem(spark, d))
      .queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: [^\n]+".r.findFirstIn(qe).getOrElse("")
    // 7 columns feed the aggregate; the 16-column table must not be
    // read whole
    assert(readSchema.nonEmpty, "no parquet scan in plan?")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_partkey"),
      s"scan reads unused columns: $readSchema")
  }

  test("gopher_repetition prunes the documents scan and partially aggregates") {
    val qe = graft.operators.TextAnalysis
      .gopherRepetition(Tables.documents(spark, d))
      .queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: [^\n]+".r.findFirstIn(qe).getOrElse("")
    assert(readSchema.nonEmpty, "no parquet scan in plan?")
    // only doc_id and text feed the operator; source/lang must not be read
    assert(!readSchema.contains("source") && !readSchema.contains("lang"),
      s"scan reads unused columns: $readSchema")
    // the (doc, n, gram) count combines map-side before its shuffle
    assert("HashAggregate".r.findAllIn(qe).length >= 2, qe.take(800))
  }

  test("selective predicates reach the parquet scan as PushedFilters") {
    import org.apache.spark.sql.functions._
    val q = Tables.orders(spark, d)
      .where(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 1000.0)
      .groupBy("o_orderpriority").count()
    val p = plan(q)
    val pushed = "PushedFilters: \\[[^\\]]+\\]".r.findFirstIn(p).getOrElse("")
    assert(pushed.contains("o_orderpriority") && pushed.contains("o_totalprice"),
      s"filters not pushed to scan: '$pushed'\n${p.take(800)}")
  }

  test("metric queries push the minute filter into partial aggregation") {
    val p = plan(Metrics.visitsPerMinute(Tables.logEvents(spark, d)))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p.take(800))
  }

  test("exact-Jaccard postings build is a single shuffle of the shingle stream") {
    val p = plan(Dedup.ngramJaccardPairs(Tables.documents(spark, d)))
    // shingle stream is shuffled once (groupBy shingle); downstream
    // exchanges operate on the much smaller postings/pairs frames. The
    // plan must not contain a shingle-keyed sort-merge self-join.
    assert(!p.contains("SortMergeJoin"), p.take(1200))
  }

  test("source_overlap shingles the corpus ONCE — all three consumers read the checkpoint") {
    // the distinct (source, shingle) set is localCheckpoint()ed, so the
    // dominant explode+join+distinct subtree must be absent from the
    // downstream plan (totals + both join sides read the materialized
    // RDD); a regression to lazy persist would resurface the Generate.
    val p = plan(graft.operators.Corpus.sourceOverlap(
      Tables.documents(spark, d)))
    assert(!p.contains("Generate"),
      "shingle explode recomputed downstream of the checkpoint:\n" + p.take(1200))
    assert(p.contains("ExistingRDD"), p.take(1200))
  }

  // AQE's toString prints "== Final Plan ==" then "== Initial Plan ==";
  // exchange-counting assertions must look at the final section only
  private def finalPlan(df: DataFrame): String =
    plan(df).split("== Initial Plan ==")(0)

  test("event_gaps: the groupBy reuses the window's user_id clustering — one shuffle") {
    val p = finalPlan(Analytics.eventGaps(Tables.events(spark, d)))
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1, p.take(1200))
  }

  test("value_stats_by_type shuffles bounded partial-agg state, not rows") {
    val p = finalPlan(Analytics.valueStatsByType(Tables.events(spark, d)))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p.take(800))
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1, p.take(1200))
  }

  test("line_dedup: the dup-group window is line-keyed, never a single partition") {
    val docs = Tables.documents(spark, d)
    val p = finalPlan(Dedup.lineDedup(docs))
    assert(!p.contains("SinglePartition"), p.take(1200))
    // one line-keyed exchange for the window, one doc-keyed regroup
    assert(p.contains("Window"), p.take(800))
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 2,
      p.take(1600))
  }

  test("length_batching: within-band order is range-partitioned, no per-band window funnel") {
    val docs = Tables.documents(spark, d)
    val p = plan(graft.operators.Corpus.lengthBatching(docs))
    assert(!p.contains("SinglePartition"), p.take(1200))
    // band starts broadcast back — no shuffled join against the ranked set
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    // NOTE: the rank's own range exchange is hidden behind the
    // localCheckpoint boundary (Scan ExistingRDD) — it is asserted
    // directly on the staging frame in the rankByRange test below.
  }

  test("nsp_pairs: negative draws resolve through a keyed equi-join, not a nested loop") {
    val docs = Tables.documents(spark, d)
    val p = finalPlan(graft.operators.Corpus.nspPairs(docs))
    // the first-line join must be hash/merge keyed on the dense index;
    // no nested loop remains (the old 1-row max-id broadcast was
    // replaced by a driver-side count from rankByRange)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), p.take(1600))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1600))
  }

  test("order_deciles never concentrates the sort on a single partition") {
    val p = plan(Analytics.orderDeciles(Tables.orders(spark, d)))
    assert(!p.contains("SinglePartition"), p.take(1200))
  }

  test("rankByRange stages a real range exchange (checkpoint hides it from callers' plans)") {
    // callers (order_deciles, curriculum_order, length_batching, nsp_pairs)
    // see only Scan ExistingRDD past the localCheckpoint — the range
    // repartition that makes the rank parallel must be asserted on the
    // pre-checkpoint staging frame, or a regression there is invisible
    val p = plan(Analytics.rankByRangeStaging(
      Tables.orders(spark, d), Seq("o_totalprice", "o_orderkey")))
    assert(p.contains("rangepartitioning") || p.contains("REPARTITION_BY_RANGE"),
      p.take(1200))
    assert(!p.contains("SinglePartition"), p.take(1200))
  }

  test("top_customers_concat broadcasts the nation dimension") {
    val p = plan(Analytics.topCustomersConcat(
      Tables.customer(spark, d), Tables.nation(spark, d)))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("native as-of plans as a two-sided merge: no union, no window") {
    val p = finalPlan(graft.operators.AsOf.purchaseAfterClickNative(
      Tables.events(spark, d)))
    assert(p.contains("AsOfJoin"), p.take(800))
    assert(!p.contains("Union"), "native as-of should not materialize a union")
    assert(!p.contains("Window"), "native as-of should not use a window operator")
    // both sides exchanged onto the key and sorted — exactly two of each
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 2, p.take(1500))
  }

  test("prefix-filter jaccard: candidates via keyed equi-joins, no nested loop") {
    val p = finalPlan(Dedup.prefixJaccardPairs(Tables.documents(spark, d)))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1600))
  }

  test("sorted-neighborhood: window resolves through a rank equi-join; no single-partition sort") {
    val p = finalPlan(Dedup.sortedNeighborhoodPairs(Tables.documents(spark, d)))
    assert(!p.contains("SinglePartition"), p.take(1200))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(1200))
  }

  test("cluster_balanced_sample picks per cluster through the bounded-heap TopK plan") {
    val p = finalPlan(graft.operators.Similarity.clusterBalancedSample(
      Tables.embeddings(spark, d)))
    assert(p.contains("TopKPerGroup"), p.take(1200))
    // the pick is never a per-cluster full sort feeding a window
    assert(!p.contains("Window"), p.take(1200))
  }

  test("lexicon_tags: the lexicon joins the token stream by broadcast; the corpus side never shuffles for it") {
    val p = finalPlan(graft.operators.TextAnalysis.lexiconTags(
      Tables.documents(spark, d)))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
  }

  test("media_video_dedup: frame candidates via band equi-join, never an all-pairs comparison") {
    val p = finalPlan(graft.operators.MediaCodecs.mediaVideoDedup(
      spark, Tables.documents(spark, d)))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1600))
  }

  test("dpo_pairs: the half-vs-half pairing is an equi-join on the dense pair index") {
    val p = finalPlan(graft.operators.Corpus.dpoPairs(
      Tables.documents(spark, d)))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1600))
  }

  test("weighted_sample: the top-k is a TakeOrdered over the scan, never a global sort") {
    val p = finalPlan(graft.operators.Corpus.weightedSample(
      Tables.documents(spark, d), k = 50))
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
    // no corpus shuffle before the TakeOrdered (the post-limit rank
    // window runs on k rows — driver-sized by construction)
    assert(!p.contains("Exchange hashpartitioning"), p.take(1200))
  }

  test("value_mad: medians broadcast back — the flagging pass never shuffles events") {
    val p = finalPlan(Analytics.valueMad(Tables.events(spark, d)))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(1600))
  }

  test("multi_touch_attribution: the touch window rides a user equi-join, never an all-pairs") {
    val p = finalPlan(Analytics.multiTouchAttribution(
      Tables.events(spark, d)))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1600))
  }

  test("thread_assembly: doubling rounds are hash equi-joins; sizes fold back by broadcast") {
    val p = finalPlan(graft.operators.Corpus.threadAssembly(
      Tables.documents(spark, d)))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1600))
  }

  test("value_bootstrap_ci: replicate means partial-aggregate map-side before the B-row shuffle") {
    val p = finalPlan(Analytics.valueBootstrapCi(Tables.events(spark, d)))
    assert(p.contains("Generate explode"), p.take(1200))
    // partial + final HashAggregate around one exchange: the ×B blowup
    // collapses to B rows per input partition before it moves
    assert("HashAggregate".r.findAllIn(p).length >= 2, p.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1,
      p.take(1200))
  }

  test("html_extract: render + extraction fuse into the scan — zero hash shuffles") {
    val p = finalPlan(graft.operators.TextAnalysis.htmlExtract(
      Tables.documents(spark, d)))
    // only the presentation orderBy exchanges (range); the rendering
    // and extraction folds are scan-fused per-row work
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 0,
      p.take(1200))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      p.take(1600))
  }

  test("pii_redaction: per-row regex chain adds no hash shuffle") {
    val p = finalPlan(graft.operators.Corpus.redactionReport(
      Tables.documents(spark, d)))
    // only the presentation orderBy exchanges (range); the scrub work
    // itself is scan-fused
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 0, p.take(1200))
  }

  test("bt_strength: comparisons via a user-keyed equi-join; MM rounds never nest loops") {
    val p = finalPlan(graft.operators.Preference.btStrength(
      Tables.events(spark, d)))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1600))
  }

  test("annotator_kappa: scan-side rules, one partial-agg shuffle, pruned scan") {
    val df = graft.operators.Preference.annotatorKappa(
      Tables.documents(spark, d))
    val p = finalPlan(df)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1,
      p.take(1200))
    val readSchema = "ReadSchema: [^\n]+".r
      .findFirstIn(df.queryExecution.executedPlan.toString).getOrElse("")
    assert(!readSchema.contains("lang") && !readSchema.contains("n_chars"),
      s"scan reads unused columns: $readSchema")
  }

  test("group_advantages: exactly one hash shuffle — the group window") {
    val p = finalPlan(graft.operators.Preference.groupAdvantages(
      Tables.events(spark, d)))
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1,
      p.take(1200))
    assert(!p.contains("SinglePartition"), p.take(1200))
  }

  test("best_of_n: rank, lead and count share the one group-key window shuffle") {
    val p = finalPlan(graft.operators.Preference.bestOfN(
      Tables.events(spark, d)))
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1,
      p.take(1200))
    assert(!p.contains("SinglePartition"), p.take(1200))
  }

  test("pass_at_k: one partial-agg shuffle, scalar chain downstream") {
    val p = finalPlan(graft.operators.Preference.passAtK(
      Tables.events(spark, d)))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1,
      p.take(1200))
  }

  test("retrieval_ndcg: qrels ride broadcast term joins; no nested loop beyond bm25's 1-row stats") {
    val p = finalPlan(graft.operators.Retrieval.retrievalNdcg(
      Tables.documents(spark, d)))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1600))
  }

  test("mmr_rerank: pairwise sims stay a qid equi-join over the bounded shortlist") {
    val p = finalPlan(graft.operators.Retrieval.mmrRerank(
      Tables.documents(spark, d), Tables.embeddings(spark, d)))
    assert(!p.contains("CartesianProduct"), p.take(1600))
  }

  test("vocab_richness: one word-count shuffle to a single-row rollup") {
    val p = finalPlan(graft.operators.TextAnalysis.vocabRichness(
      Tables.documents(spark, d)))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p.take(1200))
    assert(!p.contains("Join"), p.take(1200))
  }

  test("variant_conversion: arm-grain + window-regroup shuffles only, no joins") {
    val p = finalPlan(graft.operators.Analytics.variantConversion(
      Tables.events(spark, d)))
    // exactly two: events → (experiment, variant) arm aggregate, then
    // the re-cluster to (experiment) for the control-fold window —
    // both over arm-table-sized data after the first partial agg
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 2,
      p.take(1200))
    assert(!p.contains("Join"), p.take(1200))
  }

  test("sprt_conversion: minute rollup partially aggregates before the series windows") {
    val p = finalPlan(graft.operators.Analytics.sprtConversion(
      Tables.events(spark, d)))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1600))
  }

  test("doremi_weights: the token-total broadcast is the only nested loop") {
    val p = finalPlan(graft.operators.Corpus.doremiWeights(
      Tables.documents(spark, d)))
    assert(!p.contains("CartesianProduct"), p.take(1600))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1,
      p.take(1600))
  }

  test("calibration_bins: scan-side scoring, one bin-grain shuffle, no joins") {
    val p = finalPlan(graft.operators.Classifier.calibrationBins(
      Tables.documents(spark, d)))
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1,
      p.take(1200))
    assert(!p.contains("Join"), p.take(1600))
  }

  test("bleu_pairs: clipping is a (pair, n, gram) equi-join, never all-pairs") {
    val p = finalPlan(graft.operators.Preference.bleuPairs(
      Tables.documents(spark, d)))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1600))
  }

  test("sequence_packing never concentrates the prefix sum on a single partition") {
    val p = plan(graft.operators.Corpus.packSequences(
      Tables.documents(spark, d), budget = 128, partitions = 4))
    assert(!p.contains("SinglePartition"), p.take(1200))
  }

  test("correlated EXISTS decorrelates to a semi-join, never a per-row subquery") {
    val p = plan(Relational.urgentCustomersViaSql(spark, d))
    assert(p.contains("LeftSemi"), p.take(1200))
    assert(!p.contains("InSubquery") && !p.contains("exists#"),
      "EXISTS survived to the physical plan: " + p.take(1200))
  }

  test("partition-column join prunes the fact scan dynamically from the dim filter") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    Tables.orders(spark, d).write.mode("overwrite")
      .partitionBy("o_orderpriority").parquet(dir)
    val fact = spark.read.parquet(dir)
    // the dim filter is on a NON-join column: the predicate cannot
    // transit to the fact side statically, so only runtime (dynamic)
    // pruning can skip fact partitions
    val dimDir = java.nio.file.Files.createTempDirectory("graft_dpp_dim").toString
    Tables.orders(spark, d).select(col("o_orderpriority").as("prio"))
      .distinct().withColumn("tag", substring(col("prio"), 1, 1))
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).where(col("tag") === "1")
    val q = fact.join(dim, fact("o_orderpriority") === dim("prio"))
      .groupBy("prio").count()
    val p = plan(q)
    val scanLine = p.linesIterator
      .find(l => l.contains("FileScan parquet") && l.contains(dir))
      .getOrElse("")
    assert(scanLine.contains("dynamicpruning"),
      s"fact scan not DPP-pruned:\n$scanLine\n${p.take(1500)}")
  }

  test("selective dim filter injects a runtime bloom filter into the fact scan") {
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
      .map(k => k -> conf.get(k)).toMap
    try {
      // force a shuffle join and drop the size gates so the tiny test
      // tables qualify — on a real cluster the defaults (10 GB scan /
      // 10 MB build) select the same plan for genuinely large facts
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      val li = Tables.lineitem(spark, d)
      val ord = Tables.orders(spark, d)
        .where(col("o_orderpriority") === "1-URGENT")
      val q = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy("o_orderpriority").agg(sum("l_quantity"))
      val p = plan(q)
      assert(p.contains("might_contain") || p.contains("bloom_filter"),
        "no runtime bloom filter in plan: " + p.take(1500))
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  // Catalog queries ALLOWED to carry an unpartitioned WindowExec: every
  // entry's window input is bounded by construction (a calendar-grain
  // minute series, a ≤arms×experiments readout table, a ≤10-row bin
  // table, a k-row shortlist, …) — never corpus- or vocab-sized. The
  // lint below keeps the class that motivated it fixed: the four
  // vocab-sized ranks (vocab_coverage, word_pagerank, zipf_fit,
  // cms_word_freq) were rewritten onto rankByRange/TakeOrdered and must
  // not regress, and any NEW query that funnels an unbounded table
  // through a single-partition window fails this test until it is
  // either re-planned or justified here.
  private val boundedWindowAllowlist: Set[String] = Set(
    "calibration_bins",     // ≤10-row confidence-bin table (ECE rollup)
    "doremi_weights",       // per-source NLL table (sources, not corpus)
    "fdr_experiments",      // battery table (2 rows per treated arm)
    "holm_experiments",     // same bounded battery, step-down windows
    "mwu_experiments",      // same bounded battery, BH tail windows
    "temperature_fit",      // 8-row grid argmin pick
    "lang_temperature_mix", // per-language share table
    "revenue_mom_change",   // calendar months (≤ 12·years rows)
    "split_leakage",        // split-pair cells (k_splits² rows)
    "sprt_conversion",      // per-minute series (calendar-bounded)
    "visits_cusum",         // per-minute series (calendar-bounded)
    "visits_zscore",        // per-minute series (calendar-bounded)
    "weighted_sample"       // k-row post-limit rank
  )

  test("no catalog query funnels an unbounded table through an unpartitioned window") {
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    val offenders = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val df = fn(spark, d)
      val ws = df.queryExecution.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty =>
          w.windowExpression.mkString(",").take(120)
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
          s"WindowGroupLimit(${w.rankLikeFunction})".take(120)
      }
      if (ws.nonEmpty) offenders += name -> ws.mkString("; ")
    }
    val unexpected = offenders.keySet -- boundedWindowAllowlist
    val stale = boundedWindowAllowlist -- offenders.keySet
    assert(unexpected.isEmpty,
      "catalog queries with a NEW unpartitioned WindowExec (re-plan via " +
        "rankByRange/TakeOrdered or justify in the allowlist):\n" +
        unexpected.toSeq.sorted.map(n => s"  $n: ${offenders(n)}").mkString("\n"))
    assert(stale.isEmpty,
      s"allowlist entries with no unpartitioned window left (remove them): $stale")
  }
}
