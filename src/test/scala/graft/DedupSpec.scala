package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup
import graft.sources.Tables

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, TestSpark.Sf0001)

  test("sorted_inter_size: merge-intersect matches array_intersect on sorted unique arrays") {
    graft.functions.Registry.ensure(spark)
    // randomized sorted unique long arrays (fixed seed) + edge cases:
    // empty, disjoint, identical, subset — the kernel the prefix-
    // filtering verification stage runs per candidate pair
    val rnd = new scala.util.Random(42)
    val cases = Seq(
      (Seq.empty[Long], Seq(1L, 2L, 3L)),
      (Seq(1L, 5L, 9L), Seq(2L, 6L, 10L)),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)),
      (Seq(2L, 3L), Seq(1L, 2L, 3L, 4L))
    ) ++ (1 to 20).map { _ =>
      def arr = rnd.shuffle((0L to 400L).toList).take(rnd.nextInt(60))
        .distinct.sorted.toSeq
      (arr, arr)
    } ++ (1 to 20).map { _ =>
      def arr = rnd.shuffle((0L to 80L).toList).take(rnd.nextInt(50))
        .distinct.sorted.toSeq
      (arr, arr) // regenerated per call: two independent draws
    }
    val df = cases.toDF("a", "b")
    val got = df.selectExpr("sorted_inter_size(a, b) AS g",
      "CAST(size(array_intersect(a, b)) AS BIGINT) AS w").collect()
    got.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("exact dedup keeps the minimum doc_id per content hash") {
    val d = Seq(
      (10L, "a b c d e"), (3L, "a b c d e"), (7L, "x y z w q")
    ).toDF("doc_id", "text")
    val got = Dedup.dedupExact(d).collect()
    assert(got.length === 2)
    val dup = got.find(_.getLong(2) == 2L).get
    assert(dup.getLong(0) === 3L) // min doc_id is the representative
  }

  test("keep-best: the richest member of a near-dup cluster wins, not the smallest id") {
    // 1 and 2 are near-dups (one token changed); 2 has MORE distinct
    // tokens than the lower-id 1. Distinct doc 9 keeps itself.
    // jaccard(1,2) on word 4-grams = 7/11 >= 0.5 -> same cluster
    val d = Seq(
      (1L, "a b c d e f g h i j a a"),
      (2L, "a b c d e f g h i j k l"),
      (9L, "q r s t u v w x y z q r")
    ).toDF("doc_id", "text")
    val got = Dedup.dedupKeepBest(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got(1L)._1 === got(2L)._1, "1 and 2 cluster together")
    assert(got(1L)._3 === 0L && got(2L)._3 === 1L,
      "higher-quality 2 is kept over lower-id 1")
    assert(got(9L)._3 === 1L)
    // exactly one keeper per cluster
    val keepersPerCluster = got.values.groupBy(_._1)
      .map { case (_, vs) => vs.count(_._3 == 1L) }
    assert(keepersPerCluster.forall(_ == 1))
  }

  test("shingles: distinct word 4-grams, short docs excluded") {
    val d = Seq((1L, "a b c d e"), (2L, "too short")).toDF("doc_id", "text")
    val got = Dedup.shingles(d, 4).as[(Long, String)].collect().toSet
    assert(got === Set((1L, "a b c d"), (1L, "b c d e")))
  }

  test("connected components: path, star, and disjoint components get min-id labels (both paths)") {
    // path 1-2-3-4 (diameter 3: exercises multi-round propagation),
    // star 10-(11,12,13), disjoint pair 20-21
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (13L, 10L), (20L, 21L))
      .toDF("a", "b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 20L -> 20L, 21L -> 20L)
    val local = Dedup.connectedComponents(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    // threshold 0 forces the iterative distributed path
    val dist = Dedup.connectedComponents(edges, "a", "b",
      localEdgeThreshold = 0L).as[(Long, Long)].collect().toMap
    assert(local === want)
    assert(dist === want)
  }

  test("connected components (distributed path) converges on a long chain within the round cap") {
    val chain = (1L until 20L).map(i => (i, i + 1)).toDF("a", "b")
    val got = Dedup.connectedComponents(chain, "a", "b",
      localEdgeThreshold = 0L).as[(Long, Long)].collect()
    assert(got.length === 20)
    assert(got.forall(_._2 == 1L))
  }

  test("adversarial path graph: propagation budget trips the star fallback, result stays exact") {
    // diameter 256 ≫ the 15-round propagation budget — without the
    // fallback this would need 255 rounds (or abort); star contraction
    // must solve it in ≤ 32 log-rounds
    val n = 256L
    val chain = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    val got = Dedup.connectedComponents(chain, "a", "b",
      localEdgeThreshold = 0L).as[(Long, Long)].collect()
    assert(got.length === n)
    assert(got.forall(_._2 == 1L), "every chain node must label to the min id")
  }

  test("star contraction solves star/clique/disjoint shapes directly") {
    // star centered high (hooks go to min), a triangle, and an
    // isolated pair — mixed shapes in one edge list
    val edges = Seq((10L, 1L), (10L, 2L), (10L, 3L), // star
      (20L, 21L), (21L, 22L), (20L, 22L), // triangle
      (30L, 31L)) // pair
      .toDF("a", "b")
    val got = Dedup.connectedComponentsStar(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 30L -> 30L, 31L -> 30L))
  }

  test("connected components: local and distributed paths agree on the real near-dup graph") {
    val pairs = Dedup.ngramJaccardPairs(docs).select("doc_id_a", "doc_id_b")
    val local = Dedup.connectedComponents(pairs, "doc_id_a", "doc_id_b")
      .as[(Long, Long)].collect().toMap
    val dist = Dedup.connectedComponents(pairs, "doc_id_a", "doc_id_b",
      localEdgeThreshold = 0L).as[(Long, Long)].collect().toMap
    assert(local.nonEmpty)
    assert(dist === local)
  }

  test("dedupClusters: transitive near-dups share a cluster, singletons keep their own id") {
    val base = "the quick brown fox jumps over the lazy dog again and again ok"
    val d = Seq(
      (1L, base), (2L, base + " x"), // near-dups of each other
      (9L, "completely different words making an unrelated document here now")
    ).toDF("doc_id", "text")
    val got = Dedup.dedupClusters(d).as[(Long, Long, Long)].collect().toList
    assert(got === List((1L, 1L, 0L), (2L, 1L, 1L), (9L, 9L, 0L)))
  }

  test("dedupClusters on a dup-free corpus: every doc is its own singleton cluster") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "red green blue yellow purple orange")
    ).toDF("doc_id", "text")
    val got = Dedup.dedupClusters(d).as[(Long, Long, Long)].collect().toList
    assert(got === List((1L, 1L, 0L), (2L, 2L, 0L), (3L, 3L, 0L)))
  }

  test("minhash LSH pairs match exact n-gram Jaccard pairs on the bimodal corpus") {
    val exact = Dedup.ngramJaccardPairs(docs)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(docs)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture corpus should contain implanted near-dups")
    // identical verification threshold → LSH output ⊆ exact; recall 1.0
    // expected because implanted dups sit at Jaccard ≥ 0.97
    assert(lsh === exact,
      s"missed=${(exact -- lsh).take(5)} spurious=${(lsh -- exact).take(5)}")
  }

  test("band-bucket cap drops degenerate exact-dup buckets, keeps true near-dups") {
    val words = (1 to 30).map(i => s"w$i")
    val base = words.mkString(" ")
    val nearDup = words.updated(14, "CHANGED").mkString(" ") // J ≈ 23/31
    val boiler = "spam spam spam lorem ipsum dolor sit amet ad infinitum " * 3
    // 50 identical boilerplate docs (should have been exact-deduped) +
    // one genuine near-dup pair
    val d = (Seq((1L, base), (2L, nearDup)) ++
      (100L until 150L).map(i => (i, boiler))).toDF("doc_id", "text")
    val got = Dedup.minhashLshPairs(d, maxBucket = 10)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    // the 50-doc buckets (50 > cap) contribute no pairs; the near-dup
    // pair's buckets have 2 members and survive
    assert(got === Set((1L, 2L)))
    // uncapped control: the boilerplate block floods in quadratically
    val uncapped = Dedup.minhashLshPairs(d)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect()
    assert(uncapped.length === 1 + 50 * 49 / 2)
  }

  test("band-bucket cap is observable: dropped rows / capped buckets metrics") {
    val words = (1 to 30).map(i => s"w$i")
    val base = words.mkString(" ")
    val nearDup = words.updated(14, "CHANGED").mkString(" ")
    val boiler = "spam spam spam lorem ipsum dolor sit amet ad infinitum " * 3
    val d = (Seq((1L, base), (2L, nearDup)) ++
      (100L until 150L).map(i => (i, boiler))).toDF("doc_id", "text")
    @volatile var seen: Option[org.apache.spark.sql.Row] = None
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.get("dedup_lsh_band_cap")
          .foreach(r => seen = Some(r))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Dedup.minhashLshPairs(d, maxBucket = 10).count()
      // listener delivery is async — poll briefly
      val deadline = System.nanoTime() + 10e9.toLong
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      val row = seen.getOrElse(fail("cap metrics never surfaced"))
      // 50 identical docs × 16 bands = 800 dropped band rows, 16 buckets
      assert(row.getAs[Long]("dropped_band_rows") === 800L)
      assert(row.getAs[Long]("capped_buckets") === 16L)
    } finally spark.listenerManager.unregister(listener)
  }

  test("incremental LSH dedup ≡ batch-touching slice of the exact pairs") {
    import org.apache.spark.sql.functions._
    val batch = docs.where(col("doc_id") % 5 === 0)
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    val got = Dedup.incrementalLshPairs(corpus, batch)
      .select("new_id", "match_id", "src")
      .as[(Long, Long, String)].collect().toSet
    // expectation derived independently from the full exact pair set
    val exact = Dedup.ngramJaccardPairs(docs)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect()
    val want = exact.collect {
      case (a, b) if b % 5 == 0 =>
        (b, a, if (a % 5 == 0) "batch" else "corpus")
      case (a, b) if a % 5 == 0 => (a, b, "corpus")
    }.toSet
    assert(want.nonEmpty, "fixture should contain batch-touching near-dups")
    assert(got === want,
      s"missed=${(want -- got).take(5)} spurious=${(got -- want).take(5)}")
    // never re-pairs the corpus with itself
    assert(got.forall(_._1 % 5 == 0))
  }

  test("bloomGate: exact membership semantics; probe has no false negatives, bounded FPs") {
    import org.apache.spark.sql.functions._
    // string keys with implanted overlaps: corpus holds fingerprints
    // f0..f499, batch probes f250..f749 (half known, half new)
    val corpus = spark.range(0, 500).select(concat(lit("f"), col("id")).as("fp"))
    val batch = spark.range(250, 750).select(concat(lit("f"), col("id")).as("fp"))
    val got = Dedup.bloomGate(corpus, batch, "fp")
      .as[(String, Boolean)].collect()
    assert(got.length === 500)
    val want = (250 until 750).map(i => s"f$i" -> (i < 500)).toMap
    assert(got.toMap === want, "bloom layer must be output-invisible")
    // probe face: every true member is flagged maybe (no false
    // negatives), and false positives stay within a loose fpp multiple
    val probed = Dedup.bloomProbe(corpus, batch, "fp", fpp = 0.01)
      .select(col("fp"), col("maybe_known")).as[(String, Boolean)]
      .collect().toMap
    assert((250 until 500).forall(i => probed(s"f$i")),
      "bloom must never miss a true member")
    val fps = (500 until 750).count(i => probed(s"f$i"))
    assert(fps <= math.max(3, 0.05 * 250),
      s"false-positive rate too high: $fps of 250")
    // empty corpus: nothing can be known
    val none = Dedup.bloomGate(corpus.where(lit(false)), batch, "fp")
      .as[(String, Boolean)].collect()
    assert(none.length === 500 && none.forall(!_._2))
    // real-table fixture (long keys): the 1996+ cohort's customers
    // probed against the pre-1996 order history
    val orders = Tables.orders(spark, TestSpark.Sf0001)
    val corpusO = orders.where(col("o_orderdate") < "1996-01-01")
    val batchO = orders.where(col("o_orderdate") >= "1996-01-01")
      .select("o_custkey").distinct()
    val known = corpusO.select("o_custkey").as[Long].collect().toSet
    val gotC = Dedup.bloomGate(corpusO, batchO, "o_custkey")
      .as[(Long, Boolean)].collect()
    assert(gotC.length === batchO.count())
    assert(gotC.forall { case (k, v) => v === known.contains(k) })
    assert(gotC.exists(_._2) && gotC.exists(!_._2),
      "fixture should mix known and new keys")
  }

  test("crossDocNgramDup: hand-computed shared-shingle fractions; short docs excluded") {
    val d = Seq(
      (1L, "a b c d e"),       // shingles: "a b c d", "b c d e"
      (2L, "a b c d x"),       // shingles: "a b c d" (shared with 1)
      (3L, "p q r s t"),       // shingles all unique
      (4L, "x y"))             // too short -> excluded
      .toDF("doc_id", "text")
    val got = Dedup.crossDocNgramDup(d)
      .as[(Long, Long, Long, Double)].collect().toList
    assert(got === List(
      (1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5), (3L, 2L, 0L, 0.0)))
    // within-doc repetition alone is NOT cross-doc duplication
    val solo = Seq((9L, "m n o p m n o p")).toDF("doc_id", "text")
    val g2 = Dedup.crossDocNgramDup(solo)
      .as[(Long, Long, Long, Double)].collect().toList
    assert(g2.forall(_._3 == 0L))
  }

  test("simhash is a deterministic 64-bit fingerprint; near-identical docs collide") {
    val sh = Dedup.simhash(docs).as[(Long, Long)].collect().toMap
    val sh2 = Dedup.simhash(docs).as[(Long, Long)].collect().toMap
    assert(sh === sh2)
    // implanted near-dup pair (same corpus as Jaccard test) → small hamming
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
  }

  test("spanRemoval: duplicated spans cut everywhere, unique text survives byte-exact") {
    import org.apache.spark.sql.functions.{lit, md5}
    val boiler = (1 to 4).map(i => s"b$i").mkString(" ") // shared 4-gram
    val d = Seq(
      (1L, s"u1 u2 $boiler u3 u4"),       // boilerplate mid-doc
      (2L, s"$boiler v1 v2 v3 v4 v5"),    // boilerplate at head
      (3L, boiler),                       // nothing but the span
      (4L, "w1 w2 w3 w4 w5 w6"),          // clean doc, untouched
      (5L, "s1 s2"),                      // shorter than k: never cut
      (6L, s"r1 r2 r3 r4 r1 r2 r3 r4")    // WITHIN-doc repeat of r1..r4
    ).toDF("doc_id", "text")
    val got = Dedup.spanRemoval(d, k = 4)
      .as[(Long, Long, Long, String)].collect().toList
    def h(s: String) = spark.range(1).select(md5(lit(s))).as[String].head()
    // doc1: positions 3-6 covered -> kept "u1 u2 u3 u4"
    assert(got(0) === ((1L, 8L, 4L, h("u1 u2 u3 u4"))))
    assert(got(1) === ((2L, 9L, 4L, h("v1 v2 v3 v4 v5"))))
    assert(got(2) === ((3L, 4L, 4L, h(""))))
    assert(got(3) === ((4L, 6L, 0L, h("w1 w2 w3 w4 w5 w6"))))
    assert(got(4) === ((5L, 2L, 0L, h("s1 s2"))))
    // doc6: spans at pos 1 and 5 are identical (r1 r2 r3 r4) -> the
    // window count sees 2 occurrences, ALL 8 positions covered
    assert(got(5) === ((6L, 8L, 8L, h(""))))
  }

  test("lineDedup: identical docs collapse to first sighting; unique docs survive whole") {
    import org.apache.spark.sql.functions.{lit, md5}
    def h(s: String) = spark.range(1).select(md5(lit(s))).as[String].head()
    val d = Seq(
      (1L, "p q r s t u v w"),
      (2L, "p q r s t u v w"), // byte-identical to doc 1
      (3L, "aa bb cc dd ee")   // token-disjoint from both
    ).toDF("doc_id", "text")
    val got = Dedup.lineDedup(d)
      .as[(Long, Long, Long, Long, String)].collect().toList
    val (d1, d2, d3) = (got(0), got(1), got(2))
    // doc1 is the first occurrence of every one of its lines
    assert(d1._3 === d1._2 && d1._4 === 0L)
    // doc2 renders the same lines (content-keyed breaks), all dup
    assert(d2._2 === d1._2 && d2._3 === 0L && d2._4 === d2._2)
    assert(d2._5 === h(""))
    // doc3 shares no tokens, hence no lines, with anyone
    assert(d3._3 === d3._2 && d3._4 === 0L && d3._5 != h(""))
    // determinism under re-execution
    val again = Dedup.lineDedup(d)
      .as[(Long, Long, Long, Long, String)].collect().toList
    assert(again === got)
  }

  test("lineDedup on the fixture: every doc accounted, boilerplate lines collide") {
    val got = Dedup.lineDedup(docs)
      .as[(Long, Long, Long, Long, String)].collect()
    assert(got.length === docs.count())
    // per-doc bookkeeping is internally consistent
    assert(got.forall(r => r._3 + r._4 === r._2))
    // the small synthetic vocabulary makes short-line collisions
    // certain at fixture scale — some dup mass must exist
    assert(got.map(_._4).sum > 0)
  }

  test("prefix-filter jaccard join == direct all-pairs (completeness: no false negatives)") {
    val t = 0.7
    val got = Dedup.prefixJaccardPairs(docs, threshold = t)
      .select("doc_id_a", "doc_id_b", "inter", "union_sz", "jaccard")
      .as[(Long, Long, Long, Long, Double)].collect()
    // driver reference: exhaustive token-set jaccard over all pairs —
    // the ground truth the prefix filter must not prune a true pair from
    val sets = docs.select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, tx) =>
        id -> Option(tx).map(_.split(" ").filter(_.nonEmpty).toSet)
          .getOrElse(Set.empty[String])
      }.filter(_._2.nonEmpty).sortBy(_._1)
    val expected = (for {
      i <- sets.indices.iterator; j <- (i + 1) until sets.length
      (a, sa) = sets(i); (b, sb) = sets(j)
      inter = (sa & sb).size; uni = sa.size + sb.size - inter
      if inter.toDouble / uni >= t
    } yield (a, b, inter.toLong, uni.toLong)).toSet
    assert(got.map(r => (r._1, r._2, r._3, r._4)).toSet === expected)
    assert(got.nonEmpty, "fixture must contain near-dup pairs")
    got.foreach { case (_, _, _, _, j) => assert(j >= t && j <= 1.0) }
  }

  test("within-doc line dedup: repeated lines collapse to first occurrence, order kept") {
    val got = Dedup.withinDocLineDedup(docs)
      .as[(Long, Long, Long, String)].collect()
    assert(got.length === docs.count())
    // driver reference: replay the same deterministic line split and
    // first-occurrence fold per document
    val lineCounts = Dedup.lineDedup(docs)
      .select("doc_id", "n_lines").as[(Long, Long)].collect().toMap
    got.foreach { case (id, nLines, nKept, md) =>
      assert(nLines === lineCounts(id), s"doc $id line count")
      assert(nKept >= 1 && nKept <= nLines)
      assert(md.length === 32)
    }
    // the synthetic corpus's tiny vocabulary makes within-doc repeats
    // certain at fixture scale — some line must collapse somewhere
    assert(got.exists(r => r._3 < r._2), "no within-doc repeats found")
    // a doc with no repeated lines keeps everything
    val clean = Seq((1L, "aa bb cc dd ee ff gg hh")).toDF("doc_id", "text")
    val r = Dedup.withinDocLineDedup(clean)
      .as[(Long, Long, Long, String)].head()
    assert(r._2 === r._3)
  }

  test("sorted-neighborhood pairs: window-bounded candidates, finds adjacent near-dups") {
    // near-identical token sets sort adjacently on the (n, sorted-token
    // string) key; the distinct doc lands far away
    val d = Seq(
      (30L, "m n o p q r s t"),
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g x"),   // 7/9 with 1 — below 0.9, above 0.7
      (3L, "a b c d e f g h"),   // identical set to 1 -> J = 1
      (9L, "z z z z y y y y")
    ).toDF("doc_id", "text")
    val strict = Dedup.sortedNeighborhoodPairs(d, window = 3, threshold = 0.9)
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(strict.map(r => (r._1, r._2)).toSet === Set((1L, 3L)))
    val loose = Dedup.sortedNeighborhoodPairs(d, window = 3, threshold = 0.7)
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(loose.map(r => (r._1, r._2)).toSet ===
      Set((1L, 3L), (1L, 2L), (2L, 3L)))
    // fixture scale: every emitted pair's ranks are within the window
    // and the candidate count is O(n·window)
    val got = Dedup.sortedNeighborhoodPairs(docs, window = 5, threshold = 0.9)
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(got.length <= docs.count() * 5)
    got.foreach { case (a, b, _, _, j) =>
      assert(a < b); assert(j >= 0.9 && j <= 1.0)
    }
    // deterministic across runs (the sort is a total order)
    val again = Dedup.sortedNeighborhoodPairs(docs, window = 5, threshold = 0.9)
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(again.toSeq === got.toSeq)
  }

  test("ngram novelty: first doc fully novel, exact copy fully redundant, monotone semantics") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"),          // exact copy -> zero novelty
      (3L, "p q r s t u v w"),          // disjoint -> fully novel
      (4L, "a b c d p q r s"))          // half old, half spanning
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.ngramNovelty(docs)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L)._4 === 1.0, "first owner of all its shingles")
    assert(got(2L)._4 === 0.0, "exact copy adds nothing")
    assert(got(3L)._4 === 1.0, "disjoint vocabulary is fully novel")
    // doc 4: 5 shingles; 'a b c d' seen in doc 1; the 3 spanning
    // shingles (b c d p / c d p q / d p q r) and 'p q r s'... p q r s
    // is doc 3's first shingle -> owned by doc 3. Novel = 3.
    assert(got(4L)._2 === 5L && got(4L)._3 === 3L)
    // determinism under partitioning
    val again = graft.operators.Dedup.ngramNovelty(docs.repartition(3))
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(again === got)
  }

  test("split leakage: cells partition the pair set; leaked flags exactly the cross-split cells") {
    import spark.implicits._
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val pairs = graft.operators.Dedup.ngramJaccardPairs(docs).collect()
    val out = graft.operators.Dedup.splitLeakage(docs).collect()
    assert(out.map(_.getAs[Long]("n_pairs")).sum === pairs.length.toLong,
      "every near-dup pair lands in exactly one (split, split) cell")
    assert(math.abs(out.map(_.getAs[Double]("share")).sum - 1.0) < 1e-12)
    // hand-join the splits and compare each cell
    val splits = graft.operators.Corpus.hashSplit(docs)
      .as[(Long, String)].collect().toMap
    val expected = pairs.groupBy { r =>
      val sa = splits(r.getAs[Long]("doc_id_a"))
      val sb = splits(r.getAs[Long]("doc_id_b"))
      if (sa <= sb) (sa, sb) else (sb, sa)
    }.map { case (k, v) => k -> v.length.toLong }
    out.foreach { r =>
      val k = (r.getAs[String]("split_a"), r.getAs[String]("split_b"))
      assert(expected(k) === r.getAs[Long]("n_pairs"), k)
      assert(r.getAs[Long]("leaked") === (if (k._1 != k._2) 1L else 0L))
    }
  }

  test("token_shingle_hashes: prefix-hash spans ≡ direct poly_hash62 fold of the joined shingle") {
    graft.functions.Registry.ensure(spark)
    // ASCII, non-ASCII (multi-byte code points force the non-fast
    // path), consecutive spaces (empty tokens — split/join lossless),
    // exactly-l tokens, and fewer-than-l tokens (empty array)
    val texts = Seq("the quick brown fox jumps over the lazy dog",
      "héllo wörld ünïcode ţêst ẋ ϒ", "a  b c d", "p q r", "x y")
    val df = texts.toDF("text")
    val rows = df.select(
      org.apache.spark.sql.functions.expr("token_shingle_hashes(text, 3)").as("k"),
      org.apache.spark.sql.functions.expr(
        """IF(size(split(text, ' ')) < 3, array(),
          |   transform(sequence(0, size(split(text, ' ')) - 3),
          |     p -> poly_hash62(array_join(slice(split(text, ' '), p + 1, 3), ' '))))"""
          .stripMargin).as("direct")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    }
    // fewer than l tokens -> empty
    assert(rows.last.getSeq[Long](0).isEmpty)
  }

  test("exact-substr spans: planted cross-doc passage flagged as ONE maximal span per doc") {
    val shared = (0 until 12).map(i => s"s$i").mkString(" ")
    val d = Seq(
      (1L, ((0 until 10).map(i => s"a$i") ++ Seq(shared) ++
        (0 until 10).map(i => s"b$i")).mkString(" ")),
      (2L, ((0 until 8).map(i => s"c$i") ++ Seq(shared) ++
        (0 until 6).map(i => s"d$i")).mkString(" "))
    ).toDF("doc_id", "text")
    val got = Dedup.exactSubstrSpans(d, l = 4).collect()
    // only 4-grams fully inside the shared passage are duplicated;
    // their consecutive positions merge into exactly one span per doc
    // covering exactly the passage
    assert(got.length === 2)
    val byDoc = got.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(byDoc(1L) === ((10L, 22L, 12L, 9L)))
    assert(byDoc(2L) === ((8L, 20L, 12L, 9L)))
  }

  test("exact-substr spans: within-doc repeat yields two separate islands; boundary shingles stay clean") {
    val phrase = (0 until 5).map(i => s"s$i").mkString(" ")
    val d = Seq(
      (1L, (Seq(phrase) ++ (0 until 10).map(i => s"u$i") ++
        Seq(phrase)).mkString(" "))
    ).toDF("doc_id", "text")
    val got = Dedup.exactSubstrSpans(d, l = 4).collect()
    // duplicated 4-gram positions: 0,1 and 15,16 — gap 14 > l, so two
    // islands, each exactly the 5-token phrase
    assert(got.length === 2)
    assert(got.map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4))).toSeq === Seq((0L, 5L, 5L, 2L), (15L, 20L, 5L, 2L)))
  }

  test("incremental exact-substr ≡ full-corpus spans restricted to the batch") {
    val shared = (0 until 12).map(i => s"s$i").mkString(" ")
    val bpass = (0 until 9).map(i => s"p$i").mkString(" ")
    val corpus = Seq(
      (1L, ((0 until 6).map(i => s"a$i") ++ Seq(shared)).mkString(" ")),
      (2L, (0 until 20).map(i => s"k$i").mkString(" "))
    ).toDF("doc_id", "text")
    val batch = Seq(
      // cross-side dup: corpus df makes this batch shingle duplicated
      (5L, (Seq(shared) ++ (0 until 5).map(i => s"b$i")).mkString(" ")),
      // batch-internal dup: corpus df is NULL -> the coalesce path
      (10L, bpass), (15L, bpass),
      (20L, (0 until 9).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    val inc = Dedup.exactSubstrIncremental(corpus, batch, l = 4)
      .collect().map(_.toSeq).toSeq
    val full = Dedup.exactSubstrSpans(corpus.unionByName(batch), l = 4)
      .where($"doc_id".isin(5L, 10L, 15L, 20L))
      .collect().map(_.toSeq).toSeq
    assert(inc === full)
    // the fixture exercises both duplication sources: doc 5 via the
    // corpus df, docs 10/15 via the batch-only count
    assert(inc.map(_.head).toSet === Set(5L, 10L, 15L))
  }

  test("exact-substr spans: adjacent duplicated regions merge; unique docs emit nothing") {
    // two copies of a 9-token passage -> in each doc the whole passage
    // is one island (consecutive duplicated positions merge), and the
    // all-unique doc contributes no rows
    val passage = (0 until 9).map(i => s"p$i").mkString(" ")
    val d = Seq(
      (1L, passage), (2L, passage),
      (3L, (0 until 9).map(i => s"q$i").mkString(" "))
    ).toDF("doc_id", "text")
    val got = Dedup.exactSubstrSpans(d, l = 4).collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    got.foreach { r =>
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
        === ((0L, 9L, 9L, 6L)))
    }
  }
}
