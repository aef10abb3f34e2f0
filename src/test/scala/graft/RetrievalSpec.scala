package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Retrieval
import graft.sources.Tables

class RetrievalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("bm25: rarer matching terms and higher tf rank a doc higher") {
    // 'zebra' appears in 2/6 docs, 'data' in all 6 → idf(zebra) ≫
    // idf(data); equal lengths so length-norm cancels
    val d = Seq(
      (1L, "zebra data data data"),
      (2L, "zebra zebra data data"),
      (3L, "data data data data"),
      (4L, "data data data data"),
      (5L, "data data data data"),
      (6L, "data data data data")
    ).toDF("doc_id", "text")
    val got = Retrieval.bm25Search(d, Seq("q" -> "zebra data"), k = 6)
      .as[(String, Long, Long, Double)].collect().toList
    // doc 2 (tf_zebra=2) above doc 1 (tf_zebra=1) above the zebra-less
    assert(got.map(_._3).take(2) === List(2L, 1L))
    assert(got.map(_._2) === (1L to got.length).toList, "dense ranks")
    assert(got(0)._4 > got(1)._4)
    assert(got(1)._4 > got(2)._4)
  }

  test("bm25: length normalization prefers the shorter doc at equal tf") {
    val d = Seq(
      (1L, "rare " + Seq.fill(9)("pad").mkString(" ")),
      (2L, "rare " + Seq.fill(49)("pad").mkString(" "))
    ).toDF("doc_id", "text")
    val got = Retrieval.bm25Search(d, Seq("q" -> "rare"), k = 2)
      .as[(String, Long, Long, Double)].collect().toList
    assert(got.map(_._3) === List(1L, 2L))
  }

  test("bm25 over the corpus: k bound, dense ranks, scores descend per query") {
    val got = Retrieval.bm25Search(Tables.documents(spark, TestSpark.Sf0001))
      .as[(String, Long, Long, Double)].collect()
    assert(got.nonEmpty)
    got.groupBy(_._1).foreach { case (qid, rows) =>
      assert(rows.length <= 10, qid)
      assert(rows.map(_._2).sorted.toSeq === (1L to rows.length).toSeq, qid)
      val scores = rows.sortBy(_._2).map(_._4)
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"$qid scores not descending")
    }
  }

  test("bm25: a query of unseen terms returns no rows, not an error") {
    val d = Seq((1L, "only these words")).toDF("doc_id", "text")
    val got = Retrieval.bm25Search(d, Seq("q" -> "absent vocabulary"), k = 5)
    assert(got.count() === 0)
  }

  test("hybrid search: candidates come from BM25 recall, re-ranked by PRF cosine") {
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val hybrid = Retrieval.hybridSearch(docs, emb, kCand = 30, nPrf = 5, k = 10)
      .as[(String, Long, Long, Double, Double)].collect()
    assert(hybrid.nonEmpty)
    val cands = Retrieval.bm25Search(docs, Retrieval.DemoQueries, k = 30)
      .as[(String, Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    hybrid.groupBy(_._1).foreach { case (qid, rows) =>
      assert(rows.map(_._2).sorted.toSeq === (1L to rows.length).toSeq, qid)
      // hybrid results are a re-ranking of the lexical candidates only
      rows.foreach(r => assert(cands(qid)(r._3), s"$qid doc ${r._3}"))
      // cosine descends; bm25 order is genuinely changed by the re-rank
      val cos = rows.sortBy(_._2).map(_._5)
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b }, qid)
    }
    // deterministic under repartitioning
    val again = Retrieval.hybridSearch(docs.repartition(7), emb,
      kCand = 30, nPrf = 5, k = 10)
      .as[(String, Long, Long, Double, Double)].collect()
    assert(hybrid.toSeq === again.toSeq)
  }

  test("rrf fusion: score is exactly 1/(60+r1)+1/(60+r2); both rankers influence the top") {
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val rrf = Retrieval.rrfFusion(docs, emb, kCand = 30, nPrf = 5, k = 10)
      .as[(String, Long, Long, Long, Long, Double)].collect()
    assert(rrf.nonEmpty)
    rrf.foreach { case (_, _, _, b, c, s) =>
      val expect = 1.0 / (60 + b) + 1.0 / (60 + c)
      assert(math.abs(s - expect) < 1e-9, s"score $s vs $expect")
    }
    rrf.groupBy(_._1).foreach { case (qid, rows) =>
      assert(rows.map(_._2).sorted.toSeq === (1L to rows.length).toSeq, qid)
      // fused scores descend with rank
      val sc = rows.sortBy(_._2).map(_._6)
      assert(sc.zip(sc.tail).forall { case (a, b) => a >= b }, qid)
      // the fused order is not just one ranker: the top fused doc is
      // top-10 in at least one ranker, and fusion differs from bm25
      val top = rows.minBy(_._2)
      assert(top._4 <= 10 || top._5 <= 10, qid)
    }
    // fused order genuinely differs from pure bm25 somewhere
    assert(rrf.exists(r => r._2 != r._4))
  }

  test("proximity search: min gap computed over ALL occurrence pairs, window excludes, rank by gap") {
    val d = Seq(
      (1L, "hash x x join"),                 // gap 3
      (2L, "hash join tail"),                // gap 1 -> ranks first
      (3L, "join y y y y hash y join"),      // min gap over pairs = 2
      (4L, "hash a a a a a a a a a join"),   // gap 10 > window -> out
      (5L, "hash only here"),                // missing term_b -> out
      (6L, "nothing relevant")
    ).toDF("doc_id", "text")
    val got = Retrieval.proximitySearch(d,
      Seq(("p", "hash", "join")), window = 8, k = 10)
      .as[(String, Long, Long, Long)].collect()
    assert(got.toSeq === Seq(
      ("p", 1L, 2L, 1L),
      ("p", 2L, 3L, 2L),
      ("p", 3L, 1L, 3L)))
  }

  test("ql dirichlet: rare-term match outranks common-term match; tf and brevity help") {
    // 'zebra' cf=2 vs 'data' cf=14: matching the rare term wins at
    // equal length; among zebra docs, higher tf wins; among data-only
    // docs, the absent-term constant m_q·ln(μ/(dl+μ)) prefers shorter
    val d = Seq(
      (1L, "zebra data data data"),
      (2L, "zebra zebra data data"),
      (3L, "data data data data"),
      (4L, "data data data data data data data data")
    ).toDF("doc_id", "text")
    val got = Retrieval.qlDirichletSearch(d, Seq("q" -> "zebra data"), k = 4)
      .as[(String, Long, Long, Double)].collect().toList
    assert(got.map(_._3) === List(2L, 1L, 3L, 4L))
    assert(got.map(_._2) === List(1L, 2L, 3L, 4L), "dense ranks")
    assert(got.sliding(2).forall(p => p(0)._4 >= p(1)._4), "scores descend")
  }

  test("ql dirichlet: sparse decomposition equals the dense log P(q|d) sum") {
    // replicate the full Σ_t ln((tf + μ·p_t)/(dl + μ)) with the SAME
    // integer-nanos quantization the operator uses, term by term, and
    // check the published score — the decomposition must be exact, not
    // just rank-preserving. μ=300, collection = 12 tokens.
    val d = Seq(
      (1L, "a a b c"),
      (2L, "b c c d"),
      (3L, "d d d a")
    ).toDF("doc_id", "text")
    val mu = 300.0
    val cf = Map("a" -> 3.0, "b" -> 2.0, "c" -> 3.0, "d" -> 4.0)
    val ctot = 12.0
    def q(x: Double): Long = math.floor(x * 1e9 + 0.5).toLong
    def dense(toks: Seq[String], qterms: Seq[String]): Double = {
      val dl = toks.size.toDouble
      val si = qterms.map { t =>
        val tf = toks.count(_ == t).toDouble
        val p = cf(t) / ctot
        // operator form: matched ln(1+tf/(μp)) + constant ln(μ/(dl+μ))
        (if (tf > 0) q(math.log(1.0 + tf / (mu * p))) else 0L) +
          q(math.log(mu / (dl + mu)))
      }.sum
      si.toDouble / 1e9
    }
    val got = Retrieval
      .qlDirichletSearch(d, Seq("q" -> "a d"), k = 3)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._3 -> r._4).toMap
    val docs = Map(
      1L -> Seq("a", "a", "b", "c"),
      2L -> Seq("b", "c", "c", "d"),
      3L -> Seq("d", "d", "d", "a"))
    docs.foreach { case (id, toks) =>
      assert(got(id) === dense(toks, Seq("a", "d")),
        s"doc $id: sparse decomposition must equal the dense sum")
    }
  }

  test("ql dirichlet: out-of-collection query terms drop out of m_q, not just the match") {
    // same corpus, one query with an unseen term: the unseen term must
    // contribute NOTHING (neither match nor absent-term constant), so
    // scores equal the single-term query's exactly
    val d = Seq((1L, "a a b"), (2L, "b b a")).toDF("doc_id", "text")
    val one = Retrieval.qlDirichletSearch(d, Seq("q" -> "a"), k = 2)
      .as[(String, Long, Long, Double)].collect().map(r => r._3 -> r._4).toMap
    val two = Retrieval.qlDirichletSearch(d, Seq("q" -> "a unseen"), k = 2)
      .as[(String, Long, Long, Double)].collect().map(r => r._3 -> r._4).toMap
    assert(one === two)
  }

  private def round9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("retrievalNdcg: ideal run scores nDCG 1 and MRR 1; qrels counts are exact") {
    // d1 matches both terms (rel 2) and BM25 ranks it first (rarer
    // coverage + equal lengths), d2 matches one (rel 1), d3 none
    val d = Seq((1L, "a b c c"), (2L, "a a c c"), (3L, "z z z z"))
      .toDF("doc_id", "text")
    val got = Retrieval.retrievalNdcg(d, Seq("q1" -> "a b")).collect()(0)
    assert(got.getAs[Long]("n_rel") === 2L)
    assert(got.getAs[Long]("n_full") === 1L)
    assert(got.getAs[Double]("ndcg") === 1.0)
    assert(got.getAs[Double]("mrr") === 1.0)
    // DCG = (2²−1)/log₂2 + (2¹−1)/log₂3 with per-term quantization
    val expected = round9(3.0 / (math.log(2.0) / math.log(2.0))) +
      round9(1.0 / (math.log(3.0) / math.log(2.0)))
    assert(math.abs(got.getAs[Double]("dcg") - expected) < 1e-9)
  }

  test("retrievalNdcg: no fully-relevant doc → MRR 0; uniform grades → nDCG 1") {
    val d = Seq((1L, "a c c"), (2L, "b c c"), (3L, "z z"))
      .toDF("doc_id", "text")
    val got = Retrieval.retrievalNdcg(d, Seq("q1" -> "a b")).collect()(0)
    assert(got.getAs[Long]("n_full") === 0L)
    assert(got.getAs[Double]("mrr") === 0.0)
    // both retrieved docs carry rel 1, so any order is ideal
    assert(got.getAs[Double]("ndcg") === 1.0)
  }

  test("mmrRerank: a near-duplicate of the first pick defers to a diverse doc") {
    // three candidates matching 'a': d1 best bm25; d2 embedding ≈ d1
    // (near-duplicate); d3 bm25-weaker than d2 but orthogonal. Pure
    // relevance would pick d1, d2, d3; MMR must swap d3 ahead of d2.
    val docs = Seq(
      (1L, "a a a a"), // strongest
      (2L, "a a a x"), // slightly weaker, same direction as d1
      (3L, "a a y y") // weaker still, orthogonal embedding
    ).toDF("doc_id", "text")
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.14f, 0.0f, 0.0f)), // cos ≈ 0.99 with d1
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)) // cos 0 with both
    ).toDF("vec_id", "embedding")
    val got = Retrieval.mmrRerank(docs, emb, Seq("q1" -> "a"), kCand = 3,
      k = 3).select("mmr_rank", "doc_id", "max_sim")
      .as[(Long, Long, Option[Double])].collect().toList
    assert(got.map(_._2) === List(1L, 3L, 2L),
      s"expected diversity order 1,3,2 got $got")
    // first pick has no similarity context; later picks carry it
    assert(got.head._3.isEmpty && got.tail.forall(_._3.isDefined))
  }

  test("mmrRerank: identical embeddings degrade to pure bm25 order") {
    val docs = Seq((1L, "a a a"), (2L, "a a x"), (3L, "a y y"))
      .toDF("doc_id", "text")
    val emb = (1L to 3L).map(i => (i, Array(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Retrieval.mmrRerank(docs, emb, Seq("q1" -> "a"), kCand = 3,
      k = 3).select("mmr_rank", "doc_id")
      .as[(Long, Long)].collect().toList
    // equal penalty on every candidate — relevance decides, bm25 order
    val bm = Retrieval.bm25Search(docs, Seq("q1" -> "a"), k = 3)
      .select("bm25_rank", "doc_id").as[(Long, Long)].collect().toList
    assert(got === bm)
  }

  test("retrievalNdcg: a full-match doc buried by length-norm drops nDCG below 1") {
    // d1 matches both terms but is LONG (length norm + tf saturation
    // push it under d2's short rare-term hit); ideal order puts d1
    // first, so nDCG < 1 and the first full match sits at rank > 1
    val filler = Seq.fill(60)("c").mkString(" ")
    val d = Seq(
      (1L, s"a b $filler"),
      (2L, "a a a"),
      (3L, "c c c c")).toDF("doc_id", "text")
    val got = Retrieval.retrievalNdcg(d, Seq("q1" -> "a b")).collect()(0)
    val bm = Retrieval.bm25Search(d, Seq("q1" -> "a b"))
      .as[(String, Long, Long, Double)].collect()
    // only meaningful if BM25 really inverted the ideal order
    assert(bm.head._3 === 2L, bm.mkString(","))
    assert(got.getAs[Double]("ndcg") < 1.0)
    assert(got.getAs[Double]("mrr") === 0.5)
  }
}
