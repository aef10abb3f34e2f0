package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every declared driver-contract query must execute on the smallest
  * fixture — catches empty-input and tiny-group edge cases without
  * waiting for the oracle run. */
class ContractSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("every SparkEntry query runs at sf0.001 — and no plan degenerates to a cartesian product") {
    // deliberate all-pairs / nested-loop shapes, each with a documented
    // scale story:
    //  - variant_overlap*: C(n,2) over a domain-bounded handful of
    //    variants (reference Q4)
    //  - knn_bruteforce: the EXACT recall baseline the LSH/IVF variants
    //    are the scale path for (embedding_near_dup no longer needs an
    //    exception: its exact plan is now block-pair equi-joins)
    //  - value_band_counts: banded range join against a tiny broadcast
    //    band dim; bucketized equi-join is the documented scale path
    //  - tfidf_top_terms / collocations: crossJoin(broadcast(<1-row
    //    corpus-totals agg>)) — a 1-row broadcast nested loop is free
    //  - knn_*_recall: join the exact bruteforce baseline (so its
    //    declared cross join appears as a subplan by definition)
    // (knn_ivf needs no exception since its probe join became an
    // explode + equi-join on cluster_id; variant_overlap none since
    // its pair generation is an equi self-join on uid — only the
    // _approx twin joins its per-variant sketch rows all-pairs,
    // bounded by the variant domain)
    // knn_int8 / knn_int8_recall: same broadcast-queries-vs-collection
    // shape as knn_bruteforce (the int8 twin scores the same pair set)
    val cartesianOk = Set("variant_overlap_approx",
      // same broadcast-queries-vs-collection shape as knn_bruteforce,
      // with the label-mismatch predicate riding the join
      "hard_negatives",
      "knn_bruteforce", "knn_lsh_recall", "knn_ivf_recall",
      "knn_int8", "knn_int8_recall", "knn_pq", "knn_pq_recall",
      "knn_ivfpq_recall",
      // the r18 pinned recall twins embed the same knn_bruteforce
      // baseline (that's what a recall measurement is); their
      // approximate sides are the already-linted pq/ivfpq/pca plans
      "knn_pq_recall_pinned", "knn_ivfpq_recall_pinned",
      "knn_pca_recall_pinned",
      // embeds the knn_bruteforce exact baseline (that's what a
      // recall measurement is); the graph side is all equi-joins
      "knn_graph_nnd_recall",
      // brute-force scoring in the projected space (same declared
      // broadcast-queries shape; PCA only shrinks the vectors)
      "knn_pca", "knn_pca_recall",
      // same projected-space shape with a model-free prefix slice
      "knn_mrl", "knn_mrl_recall",
      "value_band_counts", "tfidf_top_terms", "collocations",
      // same 1-row corpus-totals broadcast as collocations (vocab size)
      "lm_bigram_score",
      // same pattern: 1-row distinct-bigram-type total broadcast
      "lm_kneser_ney_score",
      // same 1-row corpus-totals broadcast (trigram-LM vocab size);
      // perplexity_buckets embeds it
      "lm_trigram_score", "perplexity_buckets",
      // 1-row collection-stats broadcast (N, sumdl) into the postings
      // scan — the same free nested loop as tfidf_top_terms
      "bm25_search",
      // embed bm25_search (same 1-row collection-stats broadcast)
      "hybrid_search", "rrf_fusion", "retrieval_ndcg", "mmr_rerank",
      // 1-row target/raw-totals broadcast into the token stream
      "dsir_weights",
      // embeds lm_bigram_score (its 1-row vocab-size broadcast)
      "quality_filter_by_source",
      // 1-row corpus-totals broadcast (tot_tokens, tot_sqrt) into the
      // source-bounded weight table — the tfidf_top_terms pattern
      "mixture_weights",
      // 1-row corpus-token-total broadcast into the vocab-bounded
      // (source, word) count table — the same pattern
      "source_kl",
      // identical 1-row token-total broadcast (the source_kl count
      // CTEs feed the excess-loss softmax)
      "doremi_weights",
      // the identical plan with ingestion-window buckets for sources
      "corpus_drift",
      // (nsp_pairs left this list: its negative-draw modulus is now a
      // driver-side count from rankByRange, so the 1-row max-doc-id
      // broadcast is gone and the plan is pure equi-joins)
      // 1-row corpus-token-total broadcast into the K-bounded coverage
      // rollup — the tfidf_top_terms pattern
      "vocab_coverage",
      // 1-row max-minute broadcast bounding the trailing EWMA window
      "visits_ewma",
      // 1-row (n_min, total) series-totals broadcast into the
      // calendar-bounded minute series — the visits_ewma pattern
      "visits_cusum",
      // TWO 1-row broadcasts: the exact p50/p99 rank lookups joined
      // into the 1-row skew aggregate (Skew.keySkewProfile) — the
      // bm25_search collection-stats pattern, twice
      "key_skew_profile",
      // 1-row corpus-token-total broadcast into the lang-bounded
      // share table — the tfidf_top_terms / mixture_weights pattern
      "lang_temperature_mix",
      // 1-row collection-stats broadcast (N, sumdl, avg mu terms)
      // into the postings scan — identical shape to bm25_search,
      // whose index artifacts it shares
      "ql_dirichlet_search",
      // 1-row source-count broadcast into the vocab-bounded
      // (source, term) score table — the tfidf_top_terms pattern
      "lexicon_tags",
      // cross of TWO 1-row aggregates (unit-coincidence totals ×
      // label totals) into the single output row — the
      // key_skew_profile shape
      "krippendorff_alpha",
      // same two-1-row-aggregates cross as krippendorff_alpha
      "fleiss_kappa")
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val df = fn(spark, TestSpark.Sf0001)
          df.count()
          val plan = df.queryExecution.executedPlan.toString
          if (!cartesianOk(name) && (plan.contains("CartesianProduct") ||
              plan.contains("BroadcastNestedLoopJoin")))
            Some(s"$name: plan degenerated to an all-pairs join")
          else None
        }
        catch { case t: Throwable => Some(s"$name: ${t.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("repeated catalog queries compile their generated code once") {
    // the ten dashboard-shaped queries perfbench's `catalog` workload
    // asks round-robin; their ~200 generated classes overflow Spark's
    // default 100-entry code cache, so at the default every pass
    // recompiled ~150 of them, pass after pass
    val catalog = Seq("parse_events_json", "visits_per_minute",
      "unique_users_per_minute", "variant_overlap", "visits_timeseries",
      "pricing_summary", "revenue_by_nation", "order_fill_by_priority",
      "user_sessions", "dedup_minhash_lsh")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "1000")
    val compiles =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    def pass(): Long = {
      val before = compiles.getCount
      catalog.foreach { q =>
        SparkEntry.queries(q)(spark, TestSpark.Sf0001)
          .write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
      }
      compiles.getCount - before
    }
    // A rebuilt query can still emit a class not seen before: the
    // optimizer orders some rewrites (distinct-aggregate groups, for
    // one) by fresh expression ids, so a few stages come in 2+ code
    // variants, each compiled once. At sf0.001 on 4 cores later passes
    // compiled 0–8 classes and the 4th was always 0 (4 runs of 10
    // passes). A quiet pass within 8 is what a cache that holds the
    // working set gives.
    val perPass = scala.collection.mutable.ArrayBuffer(pass())
    while (perPass.length < 8 && (perPass.length < 2 || perPass.last > 0))
      perPass += pass()
    assert(compiles.getCount > 0, "the compile counter never moved")
    assert(perPass.last === 0L,
      s"compiles per pass $perPass: no pass ran without compiling")
  }

  test("driver-contract lint: oracle keys resolve, names are driver-safe") {
    // every oracle entry must name an implemented query (an orphan
    // oracle silently becomes a missing-dump row in the driver compare)
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
    // names are [a-z0-9_]: they become parquet directory names and JSON
    // keys in the driver pipeline
    val bad = (SparkEntry.queries.keySet ++ SparkEntry.oracleSql.keySet)
      .filterNot(_.matches("[a-z0-9_]+"))
    assert(bad.isEmpty, s"driver-unsafe query names: $bad")
  }

  test("Registry.ensure registers every function of its table, each callable from SQL") {
    import graft.functions.Registry
    Registry.ensure(spark)
    val names = Registry.table.map(_._1)
    assert(names.distinct === names, "a name in the table twice shadows a builder")
    val missing = names.filterNot(spark.catalog.functionExists)
    assert(missing.isEmpty, s"not registered: $missing")
    def one(sql: String) = spark.sql(sql).collect()(0)
    assert(one(
      """SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |               array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d"""
        .stripMargin).getDouble(0) === 11.0)
    assert(one("SELECT size(minhash_sig(split('a b c d e', ' '), 4, 64)) AS n")
      .getInt(0) === 64)
    assert(one("SELECT size(winnow_fingerprints('abcdefghijklmnop', 8, 4)) AS n")
      .getInt(0) >= 1)
    // poly_hash62 reference values: the portable definition is pinned —
    // h131("ab") = (97*131+98) = 12805, h137("ab") = (97*137+98) = 13387
    assert(one("SELECT poly_hash62('ab') AS h").getLong(0)
      === (12805L | (13387L << 31)))
    // the per-row kernel agrees with the aggregate formulation
    val pair = one(
      """SELECT simhash64(array('a', 'b')) AS d,
        |  (SELECT simhash_agg(poly_hash62(t), 1L) FROM VALUES ('a'), ('b') AS v(t)) AS a"""
        .stripMargin)
    assert(pair.getLong(1) !== 0L)
    assert(pair.getLong(0) === pair.getLong(1))
    assert(one(
      "SELECT map_keys(topk_sketch(t, 1, 8))[0] AS top FROM VALUES ('a'), ('b'), ('a') AS v(t)")
      .getString(0) === "a")
    val ng = one("SELECT ngram_stats(split('a b a b a b', ' '), 3) AS st").getStruct(0)
    assert((ng.getLong(0), ng.getLong(1)) === (4L, 2L))
    val vs = one(
      """SELECT vec_sum(v) AS s FROM VALUES
        |  (array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))),
        |  (array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS t(v)""".stripMargin)
      .getStruct(0)
    assert(vs.getSeq[Double](0) === Seq(4.0, 6.0))
    assert(vs.getLong(1) === 2L)
  }

  test("one way into a session: only EngineSession builds one, and nothing injects Catalyst extensions") {
    // src/main with comments blanked out (string literals kept), the way
    // tools/unreached.py reads it, so a doc that names an API is no use
    val tq = "\"\"\""
    val token = (tq + """[\s\S]*?""" + tq +
      """|"(?:\\.|[^"\\\n])*"|'(?:\\.|[^'\\\n])'|//[^\n]*|/\*[\s\S]*?\*/""").r
    def code(f: java.nio.file.Path): String = token.replaceAllIn(
      new String(java.nio.file.Files.readAllBytes(f), "UTF-8"), m =>
        scala.util.matching.Regex.quoteReplacement(
          if (m.matched.head == '"' || m.matched.head == '\'') m.matched
          else m.matched.replaceAll("[^\n]", " ")))
    val root = java.nio.file.Paths.get("src/main/scala")
    val src = {
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(f => root.relativize(f).toString -> code(f)).toMap
      finally walk.close()
    }
    assert(src.size > 50, s"scanned only ${src.keys} under ${root.toAbsolutePath}")
    def naming(s: String) = src.collect { case (f, t) if t.contains(s) => f }.toSet
    assert(naming("SparkSession.builder") === Set("graft/EngineSession.scala"))
    assert(naming("SparkSessionExtensions").isEmpty)
    assert(naming("Rule[LogicalPlan]").isEmpty)
  }

  test("the engine ships one streaming query: startPipeline is StreamingMetrics' only starter") {
    // public methods of the object (default-argument getters carry a '$')
    val starters = graft.streaming.StreamingMetrics.getClass.getMethods.toSeq
      .map(_.getName).filter(n => n.startsWith("start") && !n.contains("$")).distinct
    assert(starters === Seq("startPipeline"))
  }

  test("approximate ANN indexes clear their recall@10 floor") {
    import graft.operators.Similarity
    import graft.sources.Tables
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    // deterministic hyperplanes/centroids -> stable recall; floors are
    // the fixture-observed values with margin, guarding parameter drift
    // fixture-observed: lsh 0.62 (6-bit x 4-table buckets + 1-bit
    // multi-probe on a 500-vec near-uniform collection; 0.10 without
    // multi-probe), ivf 0.42 (4/16 lists probed)
    val lsh = Similarity.knnLshRecall(emb).collect()(0)
    assert(lsh.getAs[Double]("recall_at_k") >= 0.40,
      s"knn_lsh recall@10 ${lsh.getAs[Double]("recall_at_k")} below floor")
    val ivf = Similarity.knnIvfRecall(emb).collect()(0)
    assert(ivf.getAs[Double]("recall_at_k") >= 0.25,
      s"knn_ivf recall@10 ${ivf.getAs[Double]("recall_at_k")} below floor")
    // int8 quantization barely perturbs cosine rankings — near-perfect
    // recall is the point of the compression (sf0.01 observed 1.0)
    val int8 = Similarity.knnInt8Recall(emb).collect()(0)
    assert(int8.getAs[Double]("recall_at_k") >= 0.90,
      s"knn_int8 recall@10 ${int8.getAs[Double]("recall_at_k")} below floor")
    // PQ at 64-bit codes + exact re-rank of the top-8k ADC shortlist:
    // re-ranking recovers the recall code quantization loses (raw ADC
    // fixture-observed 0.42; with rerank=8: 0.90 here, 0.96 at sf0.01)
    val pq = Similarity.knnPqRecall(emb).collect()(0)
    assert(pq.getAs[Double]("recall_at_k") >= 0.70,
      s"knn_pq recall@10 ${pq.getAs[Double]("recall_at_k")} below floor")
    // IVF-PQ stacks list pruning on top — bounded by coarse-list
    // recall (a neighbor outside every probed list never reaches the
    // shortlist). The recall face measures the full production path:
    // trained coarse centroids + trained codebooks + 8/16 probes +
    // exact re-rank of the 160-row shortlist — fixture-observed 0.82
    // (RecallProbe's measured knee; nProbe=6 measured 0.70, stand-in
    // centroids at nProbe=4 measure 0.42)
    val ivfpq = Similarity.knnIvfPqRecall(emb).collect()(0)
    assert(ivfpq.getAs[Double]("recall_at_k") >= 0.75,
      s"knn_ivfpq recall@10 ${ivfpq.getAs[Double]("recall_at_k")} below floor")
    // NN-descent graph after 2 local-join rounds from the hash-random
    // init — fixture-observed 0.76 here (0.90 at sf0.01, where denser
    // neighborhoods help the shared-neighbor proposals)
    val nnd = Similarity.nnDescentRecall(emb).collect()(0)
    assert(nnd.getAs[Double]("recall_at_k") >= 0.60,
      s"nnd graph recall@10 ${nnd.getAs[Double]("recall_at_k")} below floor")
    // churn exit (Dong et al. §2.3): granted a deep rounds budget it
    // must respect the budget and hold the family's recall floor, and
    // a disabled exit must spend the full budget (the band-stable
    // catalog default). WHEN the exit fires is a property of the
    // FIXTURE's convergence, not of the operator — the measured
    // round counts live in SCALE.md §7.12 (4/6 at sf0.01, 6/10 at
    // sf0.1), and NndConvergenceProbe re-measures them; asserting
    // `roundsRun < 6` here would fail on a regenerated fixture with
    // no operator bug (r17 advisory). Likewise exit-vs-fixed recall
    // ordering is convergence-dependent noise at 500 vectors — the
    // contract is the absolute floor.
    val nndExit = Similarity
      .nnDescentRecall(emb, rounds = 6, churnExit = 0.05).collect()(0)
    val roundsRun = Similarity.lastDescentRounds.get()
    assert(roundsRun <= 6,
      s"descent overran its rounds budget: $roundsRun > 6")
    assert(nndExit.getAs[Double]("recall_at_k") >= 0.60,
      s"churn-exit recall ${nndExit.getAs[Double]("recall_at_k")} " +
        "below the family floor 0.60")
    Similarity.nnDescentGraph(emb, k = 10, rounds = 3).count()
    assert(Similarity.lastDescentRounds.get() === 3,
      "disabled exit must run the full fixed budget")
  }
}
