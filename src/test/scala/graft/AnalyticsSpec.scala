package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Analytics

/** In-memory semantics of the Analytics batch (the DuckDB oracle is
  * the primary gate; these pin the edge cases the oracle data may not
  * hit). */
class AnalyticsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("eventGaps: max whole-second gap per user; single-event user gets 0") {
    val ev = Seq(
      (1L, 10L, "2026-01-01 00:00:00"),
      (2L, 10L, "2026-01-01 00:00:05"),
      (3L, 10L, "2026-01-01 00:01:05"), // 60 s gap — the max
      (4L, 20L, "2026-01-01 00:00:00")  // single event
    ).toDF("event_id", "user_id", "s")
      .select(col("event_id"), col("user_id"), col("s").cast("timestamp").as("ts"))
    val got = Analytics.eventGaps(ev)
      .as[(Long, Long, Long)].collect().toList
    assert(got === List((10L, 3L, 60L), (20L, 1L, 0L)))
  }

  test("userPeakBurst: rolling RANGE frame is inclusive at -600s and counts peers") {
    val ev = Seq(
      (1L, 10L, "2026-01-01 00:00:00"),
      (2L, 10L, "2026-01-01 00:10:00"), // exactly 600 s later — in frame
      (3L, 10L, "2026-01-01 00:30:00"), // isolated
      (4L, 20L, "2026-01-01 00:00:07"),
      (5L, 20L, "2026-01-01 00:00:07")  // same-second peer: counted together
    ).toDF("event_id", "user_id", "s")
      .select(col("event_id"), col("user_id"), col("s").cast("timestamp").as("ts"))
    val got = Analytics.userPeakBurst(ev)
      .as[(Long, Long, Long)].collect().toList
    assert(got === List((10L, 2L, 3L), (20L, 2L, 2L)))
  }

  test("forwardFill carries the last observation, stays null before the first") {
    val ev = Seq(
      (1L, 10L, "click", 0.0, "2026-01-01 00:00:01"),
      (2L, 10L, "purchase", 5.5, "2026-01-01 00:00:02"),
      (3L, 10L, "click", 0.0, "2026-01-01 00:00:03"),
      (4L, 10L, "purchase", 7.0, "2026-01-01 00:00:04"),
      (5L, 10L, "click", 0.0, "2026-01-01 00:00:05"),
      (6L, 20L, "click", 0.0, "2026-01-01 00:00:01") // user with no purchase
    ).toDF("event_id", "user_id", "event_type", "value", "s")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("s").cast("timestamp").as("ts"))
    val got = Analytics.forwardFill(ev)
      .as[(Long, Long, Option[Double])].collect().toList
    assert(got === List((10L, 1L, None), (10L, 2L, Some(5.5)),
      (10L, 3L, Some(5.5)), (10L, 4L, Some(7.0)), (10L, 5L, Some(7.0)),
      (20L, 6L, None)))
  }

  test("nullSafeJoin keeps the NULL-keyed group a plain = join would drop") {
    val ev = Seq((1L, "view"), (2L, "view"), (3L, "click"))
      .toDF("event_id", "event_type")
    val got = graft.operators.Relational.nullSafeJoin(ev)
      .as[(String, Long)].collect().toList
    assert(got === List(("(none)", 2L), ("click", 1L)))
    // the control: an = join on the same frames loses the NULL group
    val keyed = ev.select(nullif(col("event_type"), lit("view")).as("key"))
    val counts = keyed.groupBy("key").agg(count(lit(1)).as("n"))
    val dim = keyed.select(col("key")).distinct()
    assert(counts.join(dim, counts("key") === dim("key")).count() === 1L)
  }

  test("orderValueExtremes: full frame gives true last; second is null for singletons") {
    val orders = Seq(
      (100L, 1L, "1995-01-01", 10.0), (101L, 1L, "1995-02-01", 20.0),
      (102L, 1L, "1995-03-01", 30.0),
      (103L, 2L, "1995-01-01", 99.0) // single order: no second value
    ).toDF("o_orderkey", "o_custkey", "d", "o_totalprice")
      .select(col("o_orderkey"), col("o_custkey"),
        col("d").cast("date").as("o_orderdate"), col("o_totalprice"))
    val got = graft.operators.Relational.orderValueExtremes(orders)
      .as[(Long, Double, Option[Double], Double)].collect().toList
    assert(got === List((1L, 10.0, Some(20.0), 30.0), (2L, 99.0, None, 99.0)))
  }

  test("funnelSetOps: intersect/except segment counts, empty segments are 0") {
    val ev = Seq(
      (1L, "click"), (1L, "purchase"), // both
      (2L, "click"),                   // click only
      (3L, "purchase"), (3L, "purchase"), // purchase only (dup collapsed)
      (4L, "view")                     // neither
    ).toDF("user_id", "event_type")
    val got = Analytics.funnelSetOps(ev).as[(String, Long)].collect().toMap
    assert(got === Map(
      "click_and_purchase" -> 1L, "click_only" -> 1L, "purchase_only" -> 1L))
    val noPurchase = Analytics.funnelSetOps(ev.where(col("event_type") =!= "purchase"))
      .as[(String, Long)].collect().toMap
    assert(noPurchase("click_and_purchase") === 0L)
    assert(noPurchase("purchase_only") === 0L)
  }

  test("topCustomersConcat: rank-ordered names, acctbal desc with name tiebreak") {
    val cust = Seq(
      (1L, "b", 0, 50.0), (2L, "a", 0, 50.0), (3L, "c", 0, 99.0),
      (4L, "d", 0, 1.0), // rank 4 — excluded
      (5L, "e", 1, 10.0)
    ).toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal")
    val nation = Seq((0, "ZERO", 0), (1, "ONE", 0))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val got = Analytics.topCustomersConcat(cust, nation)
      .as[(String, String)].collect().toMap
    assert(got === Map("ZERO" -> "c,a,b", "ONE" -> "e"))
  }

  test("valueStatsByType: two-sums stddev matches the closed form") {
    // values 1.00, 2.00, 3.00 → mean 2, sample stddev 1
    val ev = Seq(("x", 1.00), ("x", 2.00), ("x", 3.00))
      .toDF("event_type", "value")
    val r = Analytics.valueStatsByType(ev).collect().head
    assert(r.getLong(1) === 3L)
    assert(math.abs(r.getDouble(2) - 2.0) < 1e-12)
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-12)
  }

  test("ntileByRange equals ntile().over for even/odd k and tiny inputs") {
    import org.apache.spark.sql.expressions.Window
    val orders = graft.sources.Tables.orders(spark, TestSpark.Sf0001)
    for (k <- Seq(10, 7)) {
      val w = Window.orderBy("o_totalprice", "o_orderkey")
      val expect = orders
        .withColumn("bucket", ntile(k).over(w).cast("long"))
        .select("o_orderkey", "bucket")
        .as[(Long, Long)].collect().toMap
      val got = graft.operators.Analytics
        .ntileByRange(orders, Seq("o_totalprice", "o_orderkey"), k, partitions = 8)
        .select("o_orderkey", "bucket")
        .as[(Long, Long)].collect().toMap
      assert(got === expect, s"k=$k")
    }
    // fewer rows than buckets: every row its own bucket in rank order
    val tiny = Seq((3L, 30.0), (1L, 10.0), (2L, 20.0)).toDF("o_orderkey", "o_totalprice")
    val gotTiny = graft.operators.Analytics
      .ntileByRange(tiny, Seq("o_totalprice", "o_orderkey"), 10, partitions = 4)
      .select("o_orderkey", "bucket").as[(Long, Long)].collect().toMap
    assert(gotTiny === Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("rankByRange: lazy literal-bounds rank equals the checkpointed rank and row_number") {
    import org.apache.spark.sql.expressions.Window
    // heavy first-key ties (the realized-min bounds must respect the
    // full tuple order), shuffled input across many partitions
    val rows = (1L to 500L).map(i => (i % 7, s"k${i % 13}", i))
    val df = rows.toDF("grp", "sub", "id").repartition(11)
    val sortCols = Seq("grp", "sub", "id")
    val expect = df.withColumn("__rank",
        row_number().over(Window.orderBy("grp", "sub", "id")).cast("long"))
      .select("id", "__rank").as[(Long, Long)].collect().toMap
    val (lazyR, nLazy) =
      Analytics.rankByRange(df, sortCols, partitions = 8, eager = false)
    assert(nLazy === 500L)
    assert(lazyR.select("id", "__rank").as[(Long, Long)].collect().toMap
      === expect)
    val (eagerR, nEager) =
      Analytics.rankByRange(df, sortCols, partitions = 8, eager = true)
    assert(nEager === 500L)
    assert(eagerR.select("id", "__rank").as[(Long, Long)].collect().toMap
      === expect)
    // the lazy frame is rebuilt from df lineage — no hidden checkpoint
    assert(!lazyR.queryExecution.optimizedPlan.toString
      .contains("LogicalRDD"), "lazy rank must not checkpoint")
    // null sort keys: the literal-bounds CASE cannot express NULLS
    // FIRST — must fall back to the checkpointed window path and
    // still rank nulls first like row_number over asc_nulls_first
    val withNulls = Seq((Some(2L), 1L), (None, 2L), (Some(1L), 3L))
      .toDF("v", "id")
    val (nr, nn) = Analytics.rankByRange(withNulls, Seq("v", "id"),
      partitions = 4, eager = false)
    assert(nn === 3L)
    assert(nr.select("id", "__rank").as[(Long, Long)].collect().toMap
      === Map(2L -> 1L, 3L -> 2L, 1L -> 3L))
  }

  test("rankByRange: a non-deterministic frame falls back to the checkpointed rank") {
    // rand() after a shuffle may draw different values each time the
    // lazy rank re-derives df; the guard materializes df once instead
    val df = spark.range(0, 400).repartition(6).withColumn("r", rand())
    val (ranked, total) =
      Analytics.rankByRange(df, Seq("r", "id"), partitions = 8, eager = false)
    assert(ranked.queryExecution.optimizedPlan.toString.contains("LogicalRDD"),
      "a non-deterministic frame must take the checkpointed path")
    val got = ranked.select("id", "__rank").as[(Long, Long)].collect()
    assert(total === 400L)
    assert(got.length.toLong === total)
    assert(got.map(_._2).sorted.toSeq === (1L to 400L))
    assert(got.map(_._1).distinct.length === 400)
  }

  test("ngramRepetition: dup fraction on a repeating doc; short docs excluded") {
    val docs = Seq(
      (1L, "a b a b a b"),   // trigrams: aba,bab,aba,bab → 4 total, 2 distinct
      (2L, "w x y z"),       // all distinct → frac 0
      (3L, "too short")      // < 3 tokens → excluded
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.ngramRepetition(docs)
      .as[(Long, Long, Long, Double, Boolean)].collect().toList
    assert(got === List(
      (1L, 4L, 2L, 0.5, false),
      (2L, 2L, 2L, 0.0, true)))
  }

  test("valueWinsorized: outliers clip to the percentile bounds, mean stays robust") {
    import org.apache.spark.sql.functions.col
    // 999 tame values + one absurd outlier: p99's interpolation index
    // (0.99*999 = 989.01) stays inside the tame range
    val rows = (1 to 999).map(i => ("view", (i % 100).toDouble + 1)) :+ ("view", 1e9)
    val ev = rows.toDF("event_type", "value")
      .withColumn("ts", org.apache.spark.sql.functions.lit("2026-01-01 00:00:00").cast("timestamp"))
    val r = Analytics.valueWinsorized(ev).collect()(0)
    val (n, lo, hi, mean, sd) = (r.getLong(1), r.getDouble(2),
      r.getDouble(3), r.getDouble(4), r.getDouble(5))
    assert(n === 1000L) // clipping keeps every row
    // p99 with interpolation sits inside the tame range — the 1e9
    // outlier must be clipped to it, so the mean stays near 50
    assert(hi < 1000.0 && lo >= 1.0)
    assert(mean > 40.0 && mean < 60.0,
      s"winsorized mean $mean should shrug off the 1e9 outlier")
    assert(sd > 0.0 && sd < 60.0)
    // degenerate: raw mean would be ~1e7 — assert we actually beat it
    assert(mean < 1e6)
  }

  test("moment stats: degenerate groups yield NULL, never NaN/Inf (oracle-divergence guard)") {
    import org.apache.spark.sql.functions.{col, lit}
    // constant-value group (true variance 0, FP cancellation can go
    // epsilon-negative) and a singleton group (n-1 = 0)
    val ev = (Seq.fill(50)(("view", 7.25)) :+ ("click", 3.0))
      .toDF("event_type", "value")
      .withColumn("ts", lit("2026-01-01 00:00:00").cast("timestamp"))
    val stats = Analytics.valueStatsByType(ev).collect()
    val view = stats.find(_.getString(0) == "view").get
    val click = stats.find(_.getString(0) == "click").get
    assert(view.getDouble(2) === 7.25)
    assert(view.isNullAt(3) || view.getDouble(3) == 0.0,
      "constant group stddev must be 0 or NULL, never NaN")
    assert(!view.isNullAt(3) && !view.getDouble(3).isNaN)
    assert(click.isNullAt(3), "singleton group stddev must be NULL")
    // winsorized face: same guards
    val win = Analytics.valueWinsorized(ev).collect()
    val wView = win.find(_.getString(0) == "view").get
    assert(!wView.getDouble(4).isNaN && !wView.isNullAt(4))
    val wClick = win.find(_.getString(0) == "click").get
    assert(wClick.isNullAt(5), "singleton winsorized stddev must be NULL")
    // correlation: constant quantity -> zero x-variance -> NULL, not NaN
    val li = Seq.fill(10)(("R", 5.0, 100.0))
      .toDF("l_returnflag", "l_quantity", "l_extendedprice")
    val corr = Analytics.qtyPriceCorrelation(li).collect()(0)
    assert(corr.isNullAt(2) && corr.isNullAt(3),
      "zero-variance correlation/slope must be NULL on both engines")
  }

  test("revenueMomChange: first month NULL, relative deltas exact") {
    val o = Seq(("1995-01-15", 100.0), ("1995-02-10", 150.0),
      ("1995-02-20", 50.0), ("1995-03-05", 100.0))
      .toDF("d", "o_totalprice")
      .select(to_date(col("d")).as("o_orderdate"), col("o_totalprice"))
    val got = Analytics.revenueMomChange(o)
      .as[(Long, Long, Double, Option[Double])].collect().toList
    assert(got === List(
      (1995L, 1L, 100.0, None),          // no predecessor
      (1995L, 2L, 200.0, Some(1.0)),     // doubled
      (1995L, 3L, 100.0, Some(-0.5))))   // halved
  }

  test("collocations: PMI ranks the glued bigram above independent ones") {
    // "new york" adjacent in every doc; "the"/"cat" co-occur everywhere
    // but are adjacent (either order) in only half the docs each way —
    // genuinely weaker association, strictly lower PMI
    val docs = ((1 to 4).map(i => (i.toLong, "new york likes the cat")) ++
      (5 to 8).map(i => (i.toLong, "new york likes cat the")))
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.collocations(docs, minCount = 3)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    val (nyCount, nyPmi) = got(("new", "york"))
    assert(nyCount === 8L)
    // N1=40 tokens, N2=32 bigrams, c_new=c_york=8:
    // PMI = ln(8·40² / (32·8·8)) = ln(6.25)
    assert(math.abs(nyPmi - math.log(6.25)) < 1e-6)
    // "the cat" appears 4x against the same unigram mass → ln(3.125)
    assert(math.abs(got(("the", "cat"))._2 - math.log(3.125)) < 1e-6)
    assert(got.keys.forall(k => got(k)._2 <= nyPmi))
    assert(got(("the", "cat"))._2 < nyPmi)
  }

  test("lm bigram score: repeated common bigrams beat rare constructions") {
    // docs 1-4 repeat ONE bigram pattern (high corpus counts → high
    // p(b|a) → low nll); doc 5 strings together bigrams seen nowhere
    // else (count 1 each → low p → high nll)
    val docs = ((1 to 4).map(i => (i.toLong, "a b a b a b a b")) :+
      (5L, "q w e r t y u i")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.lmBigramScore(docs)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 5L))
    // every doc has 8 tokens → 7 bigram instances
    assert(got.values.forall(_._1 === 7L))
    val fluent = got(1L)._2 / got(1L)._1
    val garbage = got(5L)._2 / got(5L)._1
    assert(fluent < garbage,
      s"common-bigram doc must score lower mean nll: $fluent vs $garbage")
    // identical docs score identically
    assert((2 to 4).forall(i => got(i.toLong) === got(1L)))
    // spot-check the smoothed model: V=10 distinct tokens, c(a)=c(b)=16;
    // per doc 4x "a b" (c=16 → p=(16+1)/(16+10)) and 3x "b a"
    // (c=12 → p=(12+1)/(16+10))
    val expected = (4 * -math.log(17.0 / 26.0) + 3 * -math.log(13.0 / 26.0)) / 7
    assert(math.abs(fluent - expected) < 1e-6)
    assert(math.abs(garbage - -math.log(2.0 / 11.0)) < 1e-6)
  }

  test("gopher rules: each rule fails exactly its crafted violator") {
    // doc 1 passes everything; docs 2-6 each violate ONE rule
    val pass = "the quick brown fox jumps over that lazy dog pack " * 3 // 30 words, stop hits {the,that}
    val docs = Seq(
      (1L, pass.trim),
      (2L, "the that wolf bear lion"), // 5 words < 25 → word count only
      (3L, ("the that " + "abcdefghijklmnopqrstuvwxyz " * 28).trim), // mean len > 10
      (4L, ("the that " + "#### " * 28).trim), // 28/30 symbols words → symbol ratio + alpha
      (5L, ("the that " + "123 456 " * 14).trim), // digit words → alpha frac < 0.8
      (6L, ("cat dog bird fish " * 8).trim) // 32 words, zero stop hits
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.gopherQuality(docs)
      .select("doc_id", "passes_word_count", "passes_mean_word_len",
        "passes_symbol_ratio", "passes_alpha_frac", "passes_stop_words",
        "passes_gopher")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, true, true, true, true, true, true)))
    assert(!got(2L)._2 && got(2L)._3 && got(2L)._6 && !got(2L)._7)
    assert(got(3L)._2 && !got(3L)._3 && !got(3L)._7)
    // '####' is 28 symbol hits over 30 words (ratio .93 > .1) and the
    // same words lack letters (alpha 2/30 < .8)
    assert(!got(4L)._4 && !got(4L)._5 && !got(4L)._7)
    assert(got(5L)._4 && !got(5L)._5 && !got(5L)._7)
    assert(got(6L)._2 && got(6L)._5 && !got(6L)._6 && !got(6L)._7)
  }

  test("gopher repetition: matches an independent in-memory reference; spam fails, clean passes") {
    // independent single-node replay of the documented definition
    def ref(text: String): (Map[Int, Double], Map[Int, Double], Long) = {
      val t = text.split(" ").filter(_.nonEmpty)
      val nChars = text.length.toLong
      def masses(n: Int): (Long, Long) = {
        if (t.length < n) return (0L, 0L)
        val grams = t.sliding(n).map(_.mkString(" ")).toSeq
        val cnt = grams.groupBy(identity).view.mapValues(_.size.toLong).toMap
        val top = cnt.toSeq.map { case (g, c) => (c, g.length.toLong, g) }
          .sortBy { case (c, l, g) => (-c, -l, g) }.head
        val topMass = top._1 * top._2
        val dupMass = cnt.collect { case (g, c) if c > 1 => c * g.length }.sum
        (topMass, dupMass)
      }
      val topThr = Map(2 -> 20, 3 -> 18, 4 -> 16)
      val dupThr = Map(5 -> 15, 6 -> 14, 7 -> 13, 8 -> 12, 9 -> 11, 10 -> 10)
      val tops = topThr.keys.map(n => n -> masses(n)._1.toDouble / nChars).toMap
      val dups = dupThr.keys.map(n => n -> masses(n)._2.toDouble / nChars).toMap
      val fail = topThr.exists { case (n, th) => masses(n)._1 * 100 > nChars * th } ||
        dupThr.exists { case (n, th) => masses(n)._2 * 100 > nChars * th }
      (tops, dups, if (fail) 0L else 1L)
    }
    val clean = (0 until 60).map(i => f"w$i%02d").mkString(" ")
    val spam = ("buy cheap pills now " * 30).trim
    val mixed = (("ham spam " * 10) + (0 until 40).map(i => s"u$i").mkString(" ")).trim
    val docs = Seq((1L, clean), (2L, spam), (3L, mixed)).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.gopherRepetition(docs)
      .collect().map(r => r.getLong(0) -> r).toMap
    for ((id, text) <- Seq((1L, clean), (2L, spam), (3L, mixed))) {
      val (tops, dups, pass) = ref(text)
      val r = got(id)
      assert(r.getLong(1) === text.length.toLong, s"doc $id n_chars")
      for ((n, i) <- Seq(2 -> 2, 3 -> 3, 4 -> 4))
        assert(r.getDouble(i) === tops(n), s"doc $id top$n")
      for ((n, i) <- Seq(5 -> 5, 6 -> 6, 7 -> 7, 8 -> 8, 9 -> 9, 10 -> 10))
        assert(r.getDouble(i) === dups(n), s"doc $id dup$n")
      assert(r.getLong(11) === pass, s"doc $id rep_pass")
    }
    assert(got(1L).getLong(11) === 1L, "clean doc must pass")
    assert(got(2L).getLong(11) === 0L, "phrase spam must fail")
  }

  test("bpeTrain matches an independent single-node BPE reference") {
    // independent reference: classic in-memory BPE over word counts
    def refBpe(words: Map[String, Long], n: Int): List[(String, String, Long)] = {
      var vocab = words.map { case (w, c) => (w.map(_.toString).toList, c) }
      val out = List.newBuilder[(String, String, Long)]
      for (_ <- 0 until n) {
        val pairCounts = vocab.toSeq.flatMap { case (syms, c) =>
          syms.zip(syms.tail).map(p => p -> c)
        }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
        if (pairCounts.nonEmpty) {
          val ((a, b), w) = pairCounts.minBy { case ((a, b), w) => (-w, a, b) }
          if (w >= 2) {
            out += ((a, b, w))
            vocab = vocab.map { case (syms, c) =>
              val merged = List.newBuilder[String]
              var rest = syms
              while (rest.nonEmpty) rest match {
                case x :: y :: t if x == a && y == b =>
                  merged += (a + b); rest = t
                case x :: t => merged += x; rest = t
                case Nil =>
              }
              (merged.result(), c)
            }
          }
        }
      }
      out.result()
    }
    val docs = Seq(
      (1L, "lower lower lowest low low low"),
      (2L, "newer newest new new wider wide"),
      (3L, "lower newer slower slow slowest")).toDF("doc_id", "text")
    val words = docs.as[(Long, String)].collect()
      .flatMap(_._2.split(" ")).groupBy(identity)
      .map { case (w, xs) => w -> xs.length.toLong }
    val want = refBpe(words, 8)
    val got = graft.operators.TextAnalysis.bpeTrain(docs, nMerges = 8)
      .as[(Int, String, String, String, Long)].collect().toList
    assert(got.map(r => (r._2, r._3, r._5)) === want)
    assert(got.map(_._1) === got.indices.toList)
    assert(got.forall(r => r._4 === r._2 + r._3))
  }

  test("bpeEncode: subword totals reconcile with the corpus word count") {
    val docs = Seq(
      (1L, "sea shell sea shore", "web"),
      (2L, "she sells sea shells", "web"),
      (3L, "down by the sea shore", "books")).toDF("doc_id", "text", "source")
    val got = graft.operators.TextAnalysis.bpeEncode(docs, nMerges = 4)
      .as[(String, Long, Long, Long, Long, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(got.keySet === Set("web", "books"))
    // every word segments into >= 1 subword, whole words into exactly 1
    assert(got("web")._2 === 8L && got("books")._2 === 5L)
    assert(got.values.forall(r => r._3 >= r._2 && r._4 <= r._2))
    // fertility = tokens/word >= 1; compression = chars/token >= 1
    // (every subword is at least one char; chars exclude spaces)
    got.values.foreach { r =>
      assert(r._6 >= 1.0 && r._6 === math.floor(
        r._3.toDouble / r._2.toDouble * 1e9 + 0.5) / 1e9)
      assert(r._7 >= 1.0 && r._7 === math.floor(
        r._5.toDouble / r._3.toDouble * 1e9 + 0.5) / 1e9)
    }
  }

  test("wordpieceTrain matches an independent likelihood-scored reference") {
    // independent reference: in-memory WordPiece with the same integer
    // lattice — score = (c_ab * 1e9) / (c_a * c_b) in exact Long math
    def refWp(words: Map[String, Long], n: Int)
        : List[(String, String, Long, Long)] = {
      var vocab = words.map { case (w, c) => (w.map(_.toString).toList, c) }
      val out = List.newBuilder[(String, String, Long, Long)]
      var done = false
      for (_ <- 0 until n if !done) {
        val pairCounts = vocab.toSeq.flatMap { case (syms, c) =>
          syms.zip(syms.tail).map(p => p -> c)
        }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
          .filter(_._2 >= 2L)
        val uniCounts = vocab.toSeq.flatMap { case (syms, c) =>
          syms.map(_ -> c)
        }.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sum }
        if (pairCounts.isEmpty) done = true
        else {
          val scored = pairCounts.map { case ((a, b), w) =>
            ((a, b), w, w * 1000000000L / (uniCounts(a) * uniCounts(b)))
          }
          val ((a, b), w, sc) =
            scored.minBy { case ((a, b), _, sc) => (-sc, a, b) }
          out += ((a, b, w, sc))
          vocab = vocab.map { case (syms, c) =>
            val merged = List.newBuilder[String]
            var rest = syms
            while (rest.nonEmpty) rest match {
              case x :: y :: t if x == a && y == b =>
                merged += (a + b); rest = t
              case x :: t => merged += x; rest = t
              case Nil =>
            }
            (merged.result(), c)
          }
        }
      }
      out.result()
    }
    val docs = Seq(
      (1L, "lower lower lowest low low low"),
      (2L, "newer newest new new wider wide"),
      (3L, "lower newer slower slow slowest")).toDF("doc_id", "text")
    val words = docs.as[(Long, String)].collect()
      .flatMap(_._2.split(" ")).groupBy(identity)
      .map { case (w, xs) => w -> xs.length.toLong }
    val want = refWp(words, 8)
    val got = graft.operators.TextAnalysis.wordpieceTrain(docs, nMerges = 8)
      .as[(Int, String, String, String, Long, Long)].collect().toList
    assert(got.map(r => (r._2, r._3, r._5, r._6)) === want)
    assert(got.map(_._1) === got.indices.toList)
    assert(got.forall(r => r._4 === r._2 + r._3))
    // likelihood scoring must diverge from frequency scoring on this
    // corpus — otherwise the face is a BPE re-skin, not WordPiece
    val bpe = graft.operators.TextAnalysis.bpeTrain(docs, nMerges = 8)
      .as[(Int, String, String, String, Long)].collect().toList
    assert(got.map(r => (r._2, r._3)) !== bpe.map(r => (r._2, r._3)))
  }

  test("wordpieceEncode: piece totals reconcile; continuations = pieces - words") {
    val docs = Seq(
      (1L, "sea shell sea shore", "web"),
      (2L, "she sells sea shells", "web"),
      (3L, "down by the sea shore", "books")).toDF("doc_id", "text", "source")
    val got = graft.operators.TextAnalysis.wordpieceEncode(docs, nMerges = 4)
      .as[(String, Long, Long, Long, Long, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(got.keySet === Set("web", "books"))
    assert(got("web")._2 === 8L && got("books")._2 === 5L)
    got.values.foreach { r =>
      val (_, nWords, nPieces, nWhole, nCont, fert, pctCont) = r
      assert(nPieces >= nWords && nWhole <= nWords)
      assert(nCont === nPieces - nWords)
      assert(fert === math.floor(
        nPieces.toDouble / nWords.toDouble * 1e9 + 0.5) / 1e9)
      assert(pctCont === math.floor(
        nCont.toDouble / nPieces.toDouble * 1e9 + 0.5) / 1e9)
    }
  }

  test("featureHashing: content-determined sparse cells, sign-parity invariant") {
    val docs = Seq(
      (1L, "a b c a"),
      (2L, "a b c a"),  // identical text -> identical vector
      (3L, "z z z z z") // one word -> exactly one cell, |value| = 5
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.featureHashing(docs, dim = 32)
      .as[(Long, Long, Long)].collect()
    val byDoc = got.groupBy(_._1).view
      .mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    assert(byDoc(1L) === byDoc(2L), "identical docs hash identically")
    assert(byDoc(3L).size === 1 && math.abs(byDoc(3L).head._2) === 5L)
    // every cell is in range, nonzero, and each doc's signed total has
    // the parity of its word count (each word contributes exactly ±1)
    got.foreach { case (_, d, v) =>
      assert(d >= 0L && d < 32L && v != 0L)
    }
    val wordCounts = Map(1L -> 4L, 2L -> 4L, 3L -> 5L)
    byDoc.foreach { case (id, cells) =>
      val signedSum = cells.toSeq.map(_._2).sum
      assert(math.abs(signedSum) <= wordCounts(id))
      assert(((signedSum % 2) + 2) % 2 === wordCounts(id) % 2,
        s"doc $id parity")
    }
  }

  test("textNormalize: lowercase, digit-fold, punct strip, whitespace collapse") {
    import org.apache.spark.sql.functions.{md5 => md5f, lit}
    def h(s: String) = spark.range(1).select(md5f(lit(s))).as[String].head()
    val docs = Seq(
      (1L, "Hello,  World! 42 times"),  // case, punct, double space, digits
      (2L, "already clean text"),        // untouched -> changed = false
      (3L, "  edge  ")                   // trims to a bare word
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.textNormalize(docs)
      .as[(Long, Long, Long, Boolean, String)].collect().toList
    assert(got(0) === ((1L, 23L, 20L, true, h("hello world 00 times"))))
    assert(got(1) === ((2L, 18L, 18L, false, h("already clean text"))))
    assert(got(2) === ((3L, 8L, 4L, true, h("edge"))))
  }

  test("vocabCoverage: monotone cumulative coverage, exact at the full-vocab knee") {
    // 10 'a', 5 'b', 3 'c', 1 'd' -> total 19, vocab 4
    val docs = Seq(
      (1L, ("a " * 10 + "b " * 5 + "c c c d").trim)
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .vocabCoverage(docs, sizes = Seq(1, 2, 3, 64))
      .as[(Long, Long, Long, Long, Double, Double)].collect().toList
    def cov(c: Long) = math.floor(c.toDouble / 19.0 * 1e9 + 0.5) / 1e9
    def oov(c: Long) = math.floor((19L - c).toDouble / 19.0 * 1e9 + 0.5) / 1e9
    assert(got === List(
      (1L, 1L, 10L, 19L, cov(10), oov(10)),
      (2L, 2L, 15L, 19L, cov(15), oov(15)),
      (3L, 3L, 18L, 19L, cov(18), oov(18)),
      (64L, 4L, 19L, 19L, 1.0, 0.0)))
  }

  test("visitsEwma reproduces the driver-computed recurrence bit-for-bit") {
    val ev = Seq(
      ("2026-01-01 00:00:01", 3), ("2026-01-01 00:01:30", 1),
      ("2026-01-01 00:03:59", 5), ("2026-01-01 00:04:00", 2))
      .flatMap { case (s, n) => Seq.fill(n)(s) }
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("event_id", "s")
      .select(col("event_id"), col("s").cast("timestamp").as("ts"))
    val got = Analytics.visitsEwma(ev)
      .as[(String, Long, Double)].collect().toList
    // minutes 00, 01, 03, 04 with counts 3, 1, 5, 2
    val counts = List(3L, 1L, 5L, 2L)
    val ewma = counts.tail.scanLeft(counts.head.toDouble) {
      (p, x) => p + 0.25 * (x.toDouble - p)
    }
    assert(got.map(_._2) === counts)
    got.map(_._3).zip(ewma).foreach { case (a, b) => assert(a === b) }
    assert(got.map(_._1) === List("2026_01_01T00_00", "2026_01_01T00_01",
      "2026_01_01T00_03", "2026_01_01T00_04"))
  }

  test("modalEventType picks the most frequent value, ties break lexicographically") {
    val ev = (Seq.fill(3)(("""{"k":"e1"}""", "view")) ++
      Seq.fill(2)(("""{"k":"e1"}""", "click")) ++
      // e2: exact tie between click and view -> 'click' wins the tie
      Seq(("""{"k":"e2"}""", "view"), ("""{"k":"e2"}""", "click")) ++
      Seq(("""{}""", "view"))) // no experiment id -> excluded
      .toDF("props", "event_type")
    val got = Analytics.modalEventType(ev)
      .as[(String, String, Long)].collect().toList
    assert(got === List(("e1", "view", 3L), ("e2", "click", 1L)))
  }

  test("nationAccountsFull keeps one-sided nations with zeroed other side") {
    val cust = Seq((1L, "a", 0, 10.0), (2L, "b", 7, 5.0))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal")
    val supp = Seq((1L, "s", 0, 3.0), (2L, "t", 9, 4.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val got = Analytics.nationAccountsFull(cust, supp)
      .as[(Int, Long, Long, Double, Double)].collect().toList
    assert(got === List(
      (0, 1L, 1L, 10.0, 3.0), (7, 1L, 0L, 5.0, 0.0), (9, 0L, 1L, 0.0, 4.0)))
  }

  test("pagerank: ring stays uniform, hubs rank above spokes, mass conserved with dangling") {
    // ranks are integer 1/PrScale mass units; every divide floors, so
    // mass only ever leaks, by at most a unit per divide
    val scale = Analytics.PrScale
    // 3-ring: the uniform vector is the exact fixed point
    val ring = Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "a", 1L))
      .toDF("src", "dst", "w")
    val prRing = Analytics.pagerankExact(ring, iters = 7)
      .as[(String, Long)].collect().toMap
    assert(prRing.keySet === Set("a", "b", "c"))
    assert(prRing.values.toSet === Set(scale / 3))

    // star into b, with b DANGLING: mass still sums to PrScale, b on top
    val star = Seq(("a", "b", 1L), ("c", "b", 1L), ("d", "b", 2L))
      .toDF("src", "dst", "w")
    val prStar = Analytics.pagerankExact(star, iters = 15)
      .as[(String, Long)].collect().toMap
    val mass = prStar.values.sum
    assert(mass <= scale && scale - mass < 1000L, s"mass not conserved: $mass of $scale")
    assert(prStar("b") > prStar("a") && prStar("a") === prStar("c"))

    // weighted split: a sends 3/4 of its mass to b, 1/4 to c
    val wsplit = Seq(("a", "b", 3L), ("a", "c", 1L),
      ("b", "a", 1L), ("c", "a", 1L)).toDF("src", "dst", "w")
    val prW = Analytics.pagerankExact(wsplit, iters = 30)
      .as[(String, Long)].collect().toMap
    assert(prW("b") > prW("c"))
  }

  test("word_pagerank over the corpus: full vocab ranked, deterministic, mass ≈ 1") {
    val docs = graft.sources.Tables.documents(spark, TestSpark.Sf0001)
    val got = graft.operators.TextAnalysis.wordPagerank(docs)
      .as[(String, Long, Double)].collect()
    assert(got.nonEmpty)
    assert(got.map(_._2).sorted.toSeq === (1L to got.length).toSeq)
    assert(math.abs(got.map(_._3).sum - 1.0) < 1e-6)
    val again = graft.operators.TextAnalysis.wordPagerank(docs.repartition(7))
      .as[(String, Long, Double)].collect()
    assert(got.toSeq === again.toSeq)
  }

  test("zipfFit: exact-zipf corpus fits slope -1; uniform corpus fits slope 0") {
    // word w_r repeated floor(1200/r) times -> ln(freq) = ln(1200) - ln(r)
    val zipfText = (1 to 30).flatMap(r =>
      Seq.fill(1200 / r)(f"w$r%02d")).mkString(" ")
    val zipf = Seq((1L, zipfText)).toDF("doc_id", "text")
    val fz = graft.operators.TextAnalysis.zipfFit(zipf, topN = 30)
      .as[(Long, Double, Double)].collect().head
    assert(fz._1 === 30L)
    // floor() quantization perturbs the tail slightly; slope within 2%
    assert(math.abs(fz._2 - (-1.0)) < 0.02, s"slope ${fz._2}")
    val uniText = (1 to 20).flatMap(r => Seq.fill(50)(f"u$r%02d")).mkString(" ")
    val uni = Seq((1L, uniText)).toDF("doc_id", "text")
    val fu = graft.operators.TextAnalysis.zipfFit(uni, topN = 20)
      .as[(Long, Double, Double)].collect().head
    assert(math.abs(fu._2) < 1e-9, s"uniform slope ${fu._2}")
  }

  test("cmsWordFreq: one-sided error — est == freq when wide, est >= freq when crowded") {
    val text = (1 to 40).flatMap(r => Seq.fill(3 + r % 5)(f"t$r%02d")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val wide = graft.operators.TextAnalysis
      .cmsWordFreq(docs, depth = 4, width = 4096, k = 40)
      .as[(String, Long, Long)].collect()
    assert(wide.length === 40)
    // 40 words in 4*4096 cells: no word collides in all 4 rows
    wide.foreach { case (w, freq, est) => assert(est === freq, w) }
    val crowded = graft.operators.TextAnalysis
      .cmsWordFreq(docs, depth = 2, width = 4, k = 40)
      .as[(String, Long, Long)].collect()
    // 40 words into 2x4 cells MUST collide somewhere...
    assert(crowded.exists { case (_, freq, est) => est > freq })
    // ...but the estimate never undercounts (CMS's guarantee)
    crowded.foreach { case (w, freq, est) => assert(est >= freq, w) }
  }

  test("visitsZscore: exact trailing moments on a hand series; degenerate windows NULL") {
    // minutes 0-9 constant 5 (zero variance -> NULL), minute 10 spikes
    val rows = (0 until 11).flatMap { m =>
      val n = if (m == 10) 20 else 5
      (0 until n).map(i => (i.toLong,
        java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:30"), "click"))
    }
    val ev = rows.toDF("user_id", "ts", "event_type")
    val got = Analytics.visitsZscore(ev, lookback = 10, minN = 5)
      .as[(String, Long, Option[Double])].collect()
    val byKey = got.map(r => r._1 -> r).toMap
    // first minutes: too little trailing history or zero variance
    assert(byKey("2026_01_01T10_00")._3.isEmpty)
    assert(byKey("2026_01_01T10_09")._3.isEmpty, "constant history -> no z")
    // spike minute: all-5 history has zero variance too -> NULL
    assert(byKey("2026_01_01T10_10")._3.isEmpty)

    // variance present: alternate 4/6, spike to 20
    val rows2 = (0 until 11).flatMap { m =>
      val n = if (m == 10) 20 else if (m % 2 == 0) 4 else 6
      (0 until n).map(i => (i.toLong,
        java.sql.Timestamp.valueOf(f"2026-01-01 11:$m%02d:30"), "click"))
    }
    val got2 = Analytics.visitsZscore(rows2.toDF("user_id", "ts", "event_type"),
      lookback = 10, minN = 5).as[(String, Long, Option[Double])].collect()
    val z = got2.find(_._1 == "2026_01_01T11_10").get._3.get
    // history: 4,6 x5 -> mean 5, sample var 10/9; z = 15/sqrt(10/9)
    assert(math.abs(z - 15.0 / math.sqrt(10.0 / 9)) < 1e-9, z.toString)
  }

  test("lm trigram score: stupid-backoff tiers fire and match hand math") {
    // train: "a b c a b c a b c" -> c3(b,c,a)=2, c2(b,c)=3, c2(y,z)=1,
    // c1 = {a,b,c:3, x,y,z:1}, N=12
    val train = Seq((1L, "a b c a b c a b c"), (2L, "x y z"))
      .toDF("doc_id", "text")
    // score triples: (b,c,a) tier3 s=2/3; (c,a,q) tier1 unseen-word
    // s=4/(25*12); (a,q,y) tier1 s=4*1/(25*12); (q,y,z) tier2
    // s=2*1/(5*1)
    val score = Seq((10L, "b c a q y z"), (11L, "a b")) // doc 11: <3 toks
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.lmTrigramScore(train, score)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toList
    assert(got.map(_._1) === List(10L), "short doc absent")
    val (_, n, h3, h2, h1, nll) = got.head
    assert((n, h3, h2, h1) === ((4L, 1L, 1L, 2L)))
    val expected = -math.log(2.0 / 3) + 2 * math.log(75.0) + math.log(2.5)
    assert(math.abs(nll - expected) < 1e-6, s"$nll vs $expected")
  }

  test("lm trigram score: held-out fluent text beats garbage on mean nll") {
    val train = (1 to 4).map(i => (i.toLong, "the cat sat on the mat"))
      .toDF("doc_id", "text")
    val score = Seq(
      (10L, "the cat sat on the mat"), // every trigram at tier 3
      (11L, "mat the on sat cat the")  // same words, unseen order
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.lmTrigramScore(train, score)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(10L)._3 === 4L, "all four triples seen in train")
    assert(got(10L)._6 / got(10L)._2 < got(11L)._6 / got(11L)._2,
      "in-domain text must carry lower mean nll")
  }

  test("perplexity buckets: exact tertiles ordered by mean nll, head beats tail") {
    import graft.operators.TextAnalysis
    import graft.sources.Tables
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val got = TextAnalysis.perplexityBuckets(
      docs.where(col("source") =!= "src0"),
      docs.where(col("source") === "src0"))
      .as[(Long, Long, Double, String)].collect()
    assert(got.nonEmpty)
    // exact NTILE fill: bucket sizes differ by at most 1
    val sizes = got.groupBy(_._4).view.mapValues(_.length).toMap
    assert(sizes.keySet === Set("head", "middle", "tail"))
    assert(sizes.values.max - sizes.values.min <= 1, sizes.toString)
    // every head doc scores no worse (lower mean nll) than every tail doc
    assert(got.filter(_._4 == "head").map(_._3).max <=
      got.filter(_._4 == "tail").map(_._3).min)
  }

  test("c4LineFilter matches an independent in-memory reference and " +
    "every rule fires on the fixture corpus") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.PolyHash62
    val docs = graft.sources.Tables.documents(spark, TestSpark.Sf0001)
    case class Ref(nLines: Long, nKept: Long, nShort: Long, nNoPunct: Long,
      nJs: Long, lorem: Boolean, brace: Boolean, passes: Boolean, md5: String)
    def hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def ref(docId: Long, text: String): Ref = {
      var lines = Vector.empty[String]
      var cur = Vector.empty[String]
      text.split(" ", -1).zipWithIndex.foreach { case (w0, i) =>
        val h = PolyHash62.hash(UTF8String.fromString(s"c4:$docId:$i"))
        val word =
          if (h % 97 == 0) "javascript"
          else if (h % 101 == 0) "{"
          else if (h % 103 == 0) "lorem ipsum" else w0
        val punct = ((h >> 3) % 10) match {
          case 6 => "!"; case 7 => "?"; case 8 => ""; case 9 => ":"
          case _ => "."
        }
        if (h % 5 == 0) {
          lines :+= (cur :+ word).mkString(" ") + punct; cur = Vector.empty
        } else cur :+= word
      }
      if (cur.nonEmpty) lines :+= cur.mkString(" ")
      def short(l: String) = l.split(" ", -1).length < 5
      def noPunct(l: String) = l.isEmpty || !".!?".contains(l.last)
      def js(l: String) = l.contains("javascript")
      def kept(l: String) = !short(l) && !noPunct(l) && !js(l)
      val nKept = lines.count(kept)
      val lorem = lines.exists(_.contains("lorem ipsum"))
      val brace = lines.exists(_.contains("{"))
      Ref(lines.size.toLong, nKept.toLong, lines.count(short).toLong,
        lines.count(noPunct).toLong, lines.count(js).toLong, lorem, brace,
        nKept >= 3 && !lorem && !brace,
        hex(lines.filter(kept).mkString("\n")))
    }
    val raw = docs.select("doc_id", "text").as[(Long, String)].collect()
    val got = graft.operators.TextAnalysis.c4LineFilter(docs)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.size === raw.length)
    raw.foreach { case (id, text) =>
      val e = ref(id, text)
      val r = got(id)
      assert(r.getLong(1) === e.nLines, s"doc $id n_lines")
      assert(r.getLong(2) === e.nKept, s"doc $id n_kept")
      assert(r.getLong(3) === e.nShort, s"doc $id n_short")
      assert(r.getLong(4) === e.nNoPunct, s"doc $id n_no_punct")
      assert(r.getLong(5) === e.nJs, s"doc $id n_js")
      assert(r.getBoolean(6) === e.lorem, s"doc $id has_lorem_ipsum")
      assert(r.getBoolean(7) === e.brace, s"doc $id has_brace")
      assert(r.getBoolean(8) === e.passes, s"doc $id passes_c4")
      assert(r.getString(9) === e.md5, s"doc $id cleaned_md5")
    }
    // the fixture must exercise every rule in both directions
    val refs = raw.map { case (id, t) => ref(id, t) }
    assert(refs.map(_.nShort).sum > 0, "no short lines planted")
    assert(refs.map(_.nNoPunct).sum > 0, "no unterminated lines planted")
    assert(refs.map(_.nJs).sum > 0, "no javascript lines planted")
    assert(refs.exists(_.lorem), "no lorem ipsum planted")
    assert(refs.exists(_.brace), "no braces planted")
    assert(refs.exists(_.passes) && refs.exists(!_.passes),
      "passes_c4 must split the corpus")
  }

  test("htmlExtract matches an independent in-memory reference; every " +
    "extraction rule fires; the extracted text chains into c4LineFilter") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.PolyHash62
    val docs = graft.sources.Tables.documents(spark, TestSpark.Sf0001)
    case class RefH(nLines: Long, nScript: Long, nStyle: Long, nNav: Long,
      nEmpty: Long, nKept: Long, aChars: Long, kChars: Long, md5: String)
    def hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def ref(docId: Long, text: String): RefH = {
      var lines = Vector.empty[Vector[String]]
      var cur = Vector.empty[String]
      text.split(" ", -1).zipWithIndex.foreach { case (w, i) =>
        val h = PolyHash62.hash(UTF8String.fromString(s"html:$docId:$i"))
        if (h % 6 == 0) { lines :+= (cur :+ w); cur = Vector.empty }
        else cur :+= w
      }
      if (cur.nonEmpty) lines :+= cur
      val blocks =
        Vector(s"""<html><head><title>doc $docId</title></head><body>""") ++
          lines.zipWithIndex.map { case (ws, lid) =>
            val hl =
              PolyHash62.hash(UTF8String.fromString(s"htmlb:$docId:$lid"))
            (hl % 10) match {
              case t if t <= 5 =>
                val body = ws.zipWithIndex.map { case (w, j) =>
                  val ha = PolyHash62.hash(
                    UTF8String.fromString(s"htmla:$docId:$lid:$j"))
                  if (ha % 7 == 0) s"""<a href="#">$w</a>""" else w
                }.mkString(" ")
                s"<p>$body.</p>"
              case t if t <= 7 =>
                "<li>" + ws.map(w => s"""<a href="#">$w</a>""")
                  .mkString(" ") + "</li>"
              case 8 => s"<script>var v$lid = ${hl % 1000};</script>"
              case _ => s"<style>.c$lid { width: ${hl % 100}px }</style>"
            }
          } ++ Vector("</body></html>")
      val anchorRe = """<a href="#">([^<]*)</a>""".r
      val ev = blocks.map { b =>
        val isScript = b.contains("<script>")
        val isStyle = b.contains("<style>")
        val s = b.replaceAll("<head>.*</head>", "")
          .replaceAll("<script>.*</script>", "")
          .replaceAll("<style>.*</style>", "")
        val alen = anchorRe.findAllMatchIn(s).map(_.group(1).length).sum
        val visible = s.replaceAll("<[^>]+>", "").trim
        (isScript, isStyle, alen.toLong, visible, visible.length.toLong)
      }
      val kept = ev.filter(e => e._5 > 0 && 2 * e._3 <= e._5)
      RefH(blocks.size.toLong,
        ev.count(_._1).toLong, ev.count(_._2).toLong,
        ev.count(e => !e._1 && !e._2 && e._5 > 0 && 2 * e._3 > e._5).toLong,
        ev.count(e => !e._1 && !e._2 && e._5 == 0).toLong,
        kept.size.toLong, kept.map(_._3).sum, kept.map(_._5).sum,
        hex(kept.map(_._4).mkString("\n")))
    }
    val raw = docs.select("doc_id", "text").as[(Long, String)].collect()
    val got = graft.operators.TextAnalysis.htmlExtract(docs)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.size === raw.length)
    raw.foreach { case (id, text) =>
      val e = ref(id, text)
      val r = got(id)
      assert(r.getLong(1) === e.nLines, s"doc $id n_lines")
      assert(r.getLong(2) === e.nScript, s"doc $id n_script")
      assert(r.getLong(3) === e.nStyle, s"doc $id n_style")
      assert(r.getLong(4) === e.nNav, s"doc $id n_nav")
      assert(r.getLong(5) === e.nEmpty, s"doc $id n_empty")
      assert(r.getLong(6) === e.nKept, s"doc $id n_kept")
      assert(r.getLong(7) === e.aChars, s"doc $id anchor_chars")
      assert(r.getLong(8) === e.kChars, s"doc $id kept_chars")
      assert(r.getString(9) === e.md5, s"doc $id extracted_md5")
    }
    // the rendered fixture must exercise every extraction rule
    val refs = raw.map { case (id, t) => ref(id, t) }
    assert(refs.map(_.nScript).sum > 0, "no script blocks planted")
    assert(refs.map(_.nStyle).sum > 0, "no style blocks planted")
    assert(refs.map(_.nNav).sum > 0, "no link-dense nav lines planted")
    assert(refs.map(_.nKept).sum > 0, "no content lines survived")
    assert(refs.map(_.aChars).sum > 0,
      "no inline anchors survived in kept lines")
    // crawl-chain composition: extracted docs feed the C4 cleaner
    val chained = graft.operators.TextAnalysis.c4LineFilter(
      graft.operators.TextAnalysis.htmlExtractedDocs(docs))
    val cRows = chained.collect()
    assert(cRows.length > 0 && cRows.length <= raw.length)
    assert(cRows.forall(_.getLong(1) > 0), "chained docs must have lines")
  }

  test("kneser-ney: continuation probability penalizes one-context tokens; closed form checks") {
    // the "san francisco" fixture: "francisco" occurs 6x but ONLY
    // after "san" (1 context); "cat"/"dog" occur 3x each after 3
    // different contexts. KN scores a word by context diversity.
    val docs = Seq(
      (1L, "san francisco san francisco san francisco"),
      (2L, "san francisco san francisco san francisco"),
      (3L, "the cat a cat my cat"),
      (4L, "the dog a dog my dog"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.lmKneserNeyScore(docs)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L))
    assert(got.values.forall(_._1 === 5L), "6 tokens -> 5 bigram instances")
    assert(got(1L) === got(2L), "identical docs score identically")
    assert(got(3L) === got(4L), "symmetric docs score identically")
    // closed form for ("san","francisco"): c_ab=6, c_v=c(san,.)=
    // 6 francisco + 4 san-after-francisco contexts... compute from the
    // actual tables instead: replicate the expression by hand
    val toks = docs.select(col("doc_id"),
      split(col("text"), " ").as("t"))
    val dbg = toks.select(explode(expr(
      "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS a, t[i + 1] AS b))")).as("g"))
      .select(col("g.a"), col("g.b")).as[(String, String)].collect()
    val bc = dbg.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val cv = bc.groupBy(_._1._1).map { case (a, m) => a -> m.values.sum }
    val n1pV = bc.groupBy(_._1._1).map { case (a, m) => a -> m.size.toLong }
    val n1pW = bc.groupBy(_._1._2).map { case (b, m) => b -> m.size.toLong }
    val n1pp = bc.size.toLong
    def nll(a: String, b: String): BigDecimal = {
      val num = (4 * bc((a, b)) - 3) * n1pp + 3 * n1pV(a) * n1pW(b)
      val den = 4 * cv(a) * n1pp
      BigDecimal(-math.log(num.toDouble / den.toDouble))
        .setScale(9, scala.math.BigDecimal.RoundingMode.HALF_UP)
    }
    val expected1 = (nll("san", "francisco") * 3 + nll("francisco", "san") * 2)
      .toDouble
    assert(math.abs(got(1L)._2 - expected1) < 1e-9,
      s"closed form ${expected1} vs ${got(1L)._2}")
    // context diversity: P_cont(francisco) uses N1+(.francisco)=1,
    // P_cont(cat) uses N1+(.cat)=3 -> the continuation TERM for cat
    // is 3x francisco's even though francisco is twice as frequent
    assert(n1pW("francisco") === 1L && n1pW("cat") === 3L)
  }

  test("winnow pairs: long shared substrings pair, boilerplate fingerprints are capped out") {
    // docs 1-3 embed the SAME 40-char passage inside distinct noise;
    // doc 4 shares nothing that long; k=16,w=8 -> guaranteed shared
    // fingerprint for any shared substring of length >= 23
    val passage = "the quick brown fox jumps over the lazy dog"
    def noise(seed: Int) = (0 until 8).map(i => s"zz${seed}x$i").mkString(" ")
    val docs = Seq(
      (1L, s"${noise(1)} $passage ${noise(11)}"),
      (2L, s"${noise(2)} $passage ${noise(12)}"),
      (3L, s"${noise(3)} $passage ${noise(13)}"),
      (4L, s"${noise(4)} completely different content here ${noise(14)}"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .winnowPairs(docs, k = 16, w = 8, minShared = 1)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got.keySet === Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"exactly the passage-sharing pairs: ${got.keySet}")
    // the df cap removes universal boilerplate: with maxDf = 2 the
    // 3-doc passage fingerprints exceed the cap and no pair survives
    val capped = graft.operators.TextAnalysis
      .winnowPairs(docs, k = 16, w = 8, minShared = 1, maxDf = 2)
      .collect()
    assert(capped.isEmpty, "df-capped boilerplate must not generate pairs")
    // deterministic under partitioning
    val again = graft.operators.TextAnalysis
      .winnowPairs(docs.repartition(3), k = 16, w = 8, minShared = 1)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(again === got)
  }

  test("value PSI: stationary stream near zero, planted shift spikes the PSI") {
    import java.sql.Timestamp
    // 2000 events over a day; first half N(values 0..99 cycling),
    // second half shifted up by 80 -> mass leaves low bins for high
    def ev(i: Int, v: Double) =
      (i.toLong, Timestamp.valueOf(f"2024-01-01 ${i / 84}%02d:${(i / 2) % 60}%02d:${i % 60}%02d"), v)
    val shifted = ((0 until 1000).map(i => ev(i, (i % 100).toDouble)) ++
      (1000 until 2000).map(i => ev(i, (i % 100).toDouble + 80)))
      .toDF("event_id", "ts", "value")
    val out = graft.operators.Analytics.valuePsi(shifted).collect()
    val psi = out.map(_.getAs[Double]("psi_term")).sum
    assert(psi > 0.25, s"planted shift must cross the act threshold: $psi")
    // shares are probabilities over their own half
    assert(math.abs(out.map(_.getAs[Long]("n_ref")).sum - 1000L) === 0L)
    assert(math.abs(out.map(_.getAs[Long]("n_cur")).sum - 1000L) === 0L)
    // a stationary stream (second half re-draws the same cycle) is flat
    val flat = (0 until 2000).map(i => ev(i, (i % 100).toDouble))
      .toDF("event_id", "ts", "value")
    val psiFlat = graft.operators.Analytics.valuePsi(flat).collect()
      .map(_.getAs[Double]("psi_term")).sum
    assert(psiFlat < 0.1, s"stationary stream must stay under 0.1: $psiFlat")
    assert(psiFlat < psi / 5)
  }

  test("visitsCusum: prefix-extremum identity reproduces the recurrence; " +
    "planted level shift alarms, stationary series does not") {
    // 40 minutes at 10 visits/min, then 20 minutes at 30 — a level
    // shift a pointwise z-score barely flags but CUSUM accumulates
    def mk(counts: Seq[Int]) = counts.zipWithIndex.flatMap { case (c, m) =>
      (0 until c).map(j =>
        (m.toLong * 1000 + j, f"2026-01-01 00:$m%02d:00"))
    }.toDF("event_id", "s")
      .select(col("event_id"), col("s").cast("timestamp").as("ts"))
    val counts = Seq.fill(40)(10) ++ Seq.fill(20)(30)
    val got = Analytics.visitsCusum(mk(counts), alarmMult = 4)
      .orderBy("minute_key").collect()
    // driver-side replay of the textbook recurrence on the same
    // integer scaling (slack = mean/2, scale 2n):
    // x+ = 2n*v - 3*total, x- = total - 2n*v
    val n = counts.size.toLong
    val total = counts.map(_.toLong).sum
    var sPos = 0L; var sNeg = 0L
    val expected = counts.map { v =>
      sPos = math.max(0L, sPos + 2 * n * v - 3 * total)
      sNeg = math.max(0L, sNeg + total - 2 * n * v)
      (sPos, sNeg)
    }
    assert(got.length === counts.size)
    got.zip(expected).foreach { case (r, (ep, en)) =>
      assert(r.getAs[Long]("cusum_pos") === ep)
      assert(r.getAs[Long]("cusum_neg") === en)
    }
    // the shifted tail must alarm; the pre-shift head must not
    assert(got.last.getAs[Boolean]("alarm"))
    assert(!got(39).getAs[Boolean]("alarm"))
    // a stationary series never alarms and ends at cusum 0 (Σx = 0)
    val flat = Analytics.visitsCusum(mk(Seq.fill(60)(10)))
      .orderBy("minute_key").collect()
    assert(flat.forall(!_.getAs[Boolean]("alarm")))
    assert(flat.forall(r => r.getAs[Long]("cusum_pos") === 0L &&
      r.getAs[Long]("cusum_neg") === 0L))
  }

  test("valueBootstrapCi: replicate means bracket the true mean, " +
    "multiplicities behave like Poisson(1)") {
    val n = 2000
    val rows = (0 until n).map(i => (i.toLong, (i % 100).toDouble + 0.25))
      .toDF("event_id", "value")
    val out = Analytics.valueBootstrapCi(rows, replicates = 32).collect()
    assert(out.length === 32)
    val trueMean = rows.agg(avg("value")).collect()(0).getDouble(0)
    val means = out.map(_.getAs[Double]("mean_value"))
    // every replicate mean is a consistent estimate: within a wide
    // tolerance (sd of a 2000-row mean of a ~29-sd variable ≈ 0.65)
    means.foreach(m => assert(math.abs(m - trueMean) < 4.0, s"mean $m"))
    // and they are not all identical (resampling actually varied)
    assert(means.distinct.length > 16)
    // n_eff concentrates around n (Poisson(1) multiplicities sum ~ n)
    out.map(_.getAs[Long]("n_eff")).foreach { ne =>
      assert(math.abs(ne - n) < 5 * math.sqrt(n.toDouble), s"n_eff $ne")
    }
    // deterministic under partitioning
    val again = Analytics.valueBootstrapCi(rows.repartition(7),
      replicates = 32).collect()
    assert(again.map(_.getAs[Double]("mean_value")).toSeq === means.toSeq)
  }

  test("multiTouchAttribution: U-shape credit on hand journeys sums to one per purchase") {
    // user 1: three touches then a purchase -> 0.4 / 0.2 / 0.4
    // user 2: one touch -> 1.0; user 3: touch OUTSIDE the window -> none
    // user 4: FIVE touches -> 0.2/3 is inexact at 6 decimals, so the
    // last middle touch takes the quantization residual and the
    // purchase still distributes exactly one unit
    val rows = (Seq(
      (1L, 1L, "click", "2026-01-01 10:00:00"),
      (2L, 1L, "view", "2026-01-01 10:05:00"),
      (3L, 1L, "signup", "2026-01-01 10:10:00"),
      (4L, 1L, "purchase", "2026-01-01 11:00:00"),
      (5L, 2L, "view", "2026-01-02 09:00:00"),
      (6L, 2L, "purchase", "2026-01-02 09:30:00"),
      (7L, 3L, "click", "2026-01-01 00:00:00"),
      (8L, 3L, "purchase", "2026-01-03 00:00:00")
    ) ++ (0 until 5).map(i =>
      (10L + i, 4L, "click", f"2026-01-05 10:0$i%01d:00")) :+
      (20L, 4L, "purchase", "2026-01-05 11:00:00"))
      .toDF("event_id", "user_id", "event_type", "s")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("s").cast("timestamp").as("ts"))
    val got = Analytics.multiTouchAttribution(rows, windowHours = 24)
      .collect().map(r => r.getAs[String]("channel") ->
        (r.getAs[Long]("n_touches"), r.getAs[Double]("credit"))).toMap
    assert(got === Map(
      // click: user 1 first touch 0.4 + user 4's whole journey 1.0
      "click" -> ((6L, 1.4)),
      "signup" -> ((1L, 0.4)),  // user 1 last touch
      "view" -> ((2L, 1.2))))   // user 1 middle 0.2 + user 2 solo 1.0
    // total credit equals the number of attributed purchases EXACTLY
    // (the 5-touch journey exercises the residual branch: without it
    // the total reads 3.000001)
    assert(got.values.map(_._2).sum === 3.0)
  }

  test("valueMad: hampel flags the planted spike, median/MAD ignore it") {
    // 99 values at 10±1 and one wild spike: mean-based z would shift,
    // median/MAD stay at the bulk
    val rows = ((0 until 99).map(i =>
      (i.toLong, "a", 10.0 + (i % 3 - 1))) :+ (99L, "a", 1000.0))
      .toDF("event_id", "event_type", "value")
    val got = Analytics.valueMad(rows).collect()(0)
    assert(got.getAs[Double]("med") === 10.0)
    assert(got.getAs[Double]("mad") === 1.0)
    assert(got.getAs[Long]("n_outliers") === 1L)
    assert(got.getAs[Double]("outlier_share") === 0.01)
  }

  test("variantLift: Welch t on hand arms; control rows carry NULL t") {
    // experiment e1: control arm a (values 1,2,3), treatment b (4,6)
    val rows = Seq(
      (1L, "a", 1.0), (2L, "a", 2.0), (3L, "a", 3.0),
      (4L, "b", 4.0), (5L, "b", 6.0),
      (6L, "c", 7.0) // singleton arm: n = 1 -> NULL t
    ).map { case (id, v, value) =>
      (id, v, value, """{"k":"e1"}""")
    }.toDF("event_id", "event_type", "value", "props")
    val got = Analytics.variantLift(rows).orderBy("variant").collect()
    assert(got.length === 3)
    val a = got(0); val b = got(1); val c = got(2)
    assert(a.getAs[String]("control_variant") === "a")
    assert(a.isNullAt(a.fieldIndex("t_welch")), "control arm has no t")
    assert(a.getAs[Double]("lift") === 0.0)
    // arm a: mean 2, var 1; arm b: mean 5, var 2
    assert(b.getAs[Double]("mean_value") === 5.0)
    assert(b.getAs[Double]("lift") === 3.0)
    val tExp = 3.0 / math.sqrt(2.0 / 2 + 1.0 / 3)
    assert(math.abs(b.getAs[Double]("t_welch") - tExp) < 1e-9)
    assert(c.isNullAt(c.fieldIndex("t_welch")), "singleton arm -> NULL t")
  }

  test("variantConversion: 2x2 chi-square matches the hand value; control row NULL") {
    // control a: 1/4 convert; treatment b: 3/4 convert
    val rows = (Seq(
      (1L, "a", 200.0), (2L, "a", 1.0), (3L, "a", 1.0), (4L, "a", 1.0),
      (5L, "b", 200.0), (6L, "b", 200.0), (7L, "b", 200.0), (8L, "b", 1.0)
    )).map { case (id, v, value) => (id, v, value, """{"k":"e1"}""") }
      .toDF("event_id", "event_type", "value", "props")
    val got = Analytics.variantConversion(rows).orderBy("variant").collect()
    val a = got(0); val b = got(1)
    assert(a.isNullAt(a.fieldIndex("chi2")), "control row has no chi2")
    assert(a.getAs[Double]("rate") === 0.25)
    assert(b.getAs[Double]("rate") === 0.75)
    // a=3,b=1,c=1,d=3: chi2 = 8*(9-1)^2/(4*4*4*4) = 2.0
    assert(b.getAs[Double]("chi2") === 2.0)
  }

  test("sprtConversion: LLR recurrence matches a driver fold; bounds decide") {
    val rows = (0 until 120).map { i =>
      (i.toLong, f"2026-01-01 00:${i / 60}%02d:${i % 60}%02d",
        if (i % 3 == 0) 200.0 else 1.0) // 1/3 conversion — drifts to h1
    }.toDF("event_id", "s", "value")
      .selectExpr("event_id", "CAST(s AS TIMESTAMP) AS ts", "value")
    val got = Analytics.sprtConversion(rows).collect()
    def round9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val l1 = round9(math.log(0.15 / 0.10))
    val l2 = round9(math.log(0.85 / 0.90))
    got.foreach { r =>
      val n = r.getAs[Long]("n_cum"); val c = r.getAs[Long]("conv_cum")
      assert(r.getAs[Double]("llr") === round9(c * l1 + (n - c) * l2))
    }
    // a 1/3 conversion rate (above p1 = 0.15) must eventually accept h1
    assert(got.last.getAs[String]("decision") === "accept_h1")
    // monotone data: once the LLR crosses, it stays crossed at the end
    assert(got.last.getAs[Double]("llr") >= math.log(0.95 / 0.05) - 1e-9)
  }

  test("bhAdjust: q-values match the hand-computed BH step-up") {
    // classic BH fixture: p = (.01,.02,.03,.04,.20), m = 5 →
    // q_raw_i = p_i·5/i = (.05,.05,.05,.05,.20); the reverse running
    // min leaves them unchanged, so at α = .05 the first four reject
    val batt = Seq(
      ("t", "e1", "a", 1.0, 0.01), ("t", "e1", "b", 1.0, 0.02),
      ("t", "e2", "a", 1.0, 0.03), ("t", "e2", "b", 1.0, 0.04),
      ("t", "e3", "a", 1.0, 0.20))
      .toDF("test", "experiment_id", "variant", "stat", "p_value")
    val got = Analytics.bhAdjust(batt, 0.05)
      .select("rank", "q_value", "reject")
      .as[(Long, Double, Boolean)].collect().toList
    assert(got === List((1L, 0.05, true), (2L, 0.05, true),
      (3L, 0.05, true), (4L, 0.05, true), (5L, 0.2, false)))
  }

  test("bhAdjust: the step-up min carries a later small p backwards") {
    // p = (.010,.011,.012): q_raw = (.030,.0165,.012) → reverse min
    // makes every q .012 — the defining non-monotone-raw case
    val batt = Seq(
      ("t", "e1", "a", 1.0, 0.010), ("t", "e1", "b", 1.0, 0.011),
      ("t", "e2", "a", 1.0, 0.012))
      .toDF("test", "experiment_id", "variant", "stat", "p_value")
    val got = Analytics.bhAdjust(batt, 0.05)
      .select("q_value").as[Double].collect().toList
    assert(got === List(0.012, 0.012, 0.012))
  }

  test("holmAdjust: adjusted p matches the hand step-down; monotone fold carries forward") {
    // p = (.010, .004, .019), m = 3. Sorted: .004, .010, .019 →
    // raw (m−i+1)·p = (.012, .020, .019); forward max = (.012, .020,
    // .020) — rank 3's raw .019 < rank 2's .020, the defining
    // step-down monotonicity case. At α = .05 all reject; at α = .015
    // only rank 1.
    val batt = Seq(
      ("t", "e1", "a", 1.0, 0.010), ("t", "e1", "b", 1.0, 0.004),
      ("t", "e2", "a", 1.0, 0.019))
      .toDF("test", "experiment_id", "variant", "stat", "p_value")
    val got = Analytics.holmAdjust(batt, 0.015)
      .select("rank", "p_value", "p_adj", "reject")
      .as[(Long, Double, Double, Boolean)].collect().toList
    assert(got === List((1L, 0.004, 0.012, true), (2L, 0.010, 0.02, false),
      (3L, 0.019, 0.02, false)))
  }

  test("holmAdjust is uniformly less rejective than bhAdjust on the same battery (FWER ⊆ FDR)") {
    val ev = graft.sources.Tables.events(spark, TestSpark.Sf0001)
    val bh = Analytics.fdrExperiments(ev).collect()
      .filter(_.getAs[Boolean]("reject"))
      .map(r => (r.getAs[String]("test"), r.getAs[String]("experiment_id"),
        r.getAs[String]("variant"))).toSet
    val holm = Analytics.holmExperiments(ev).collect()
      .filter(_.getAs[Boolean]("reject"))
      .map(r => (r.getAs[String]("test"), r.getAs[String]("experiment_id"),
        r.getAs[String]("variant"))).toSet
    assert(holm.subsetOf(bh),
      s"Holm rejected ${holm -- bh} that BH did not — impossible")
  }

  test("erfc chain: two-sided normal p at z-scores matches published values to 1e-6") {
    // erfc(|z|/√2) = two-sided normal p: z=1 → .31731051, z=1.96 →
    // .04999579, z=0 → 1 (A&S 7.1.26 max abs error 1.5e-7)
    val df = Seq(1.0, 1.96, 0.0).toDF("t")
      .withColumn("z", expr("abs(t) * 0.7071067811865476e0"))
      .withColumn("p", expr(Analytics.erfcChain("z")))
    val got = df.select("p").as[Double].collect()
    assert(math.abs(got(0) - 0.3173105) < 1e-6, got(0).toString)
    assert(math.abs(got(1) - 0.0499958) < 1e-6, got(1).toString)
    assert(math.abs(got(2) - 1.0) < 1e-6, got(2).toString)
  }

  test("fdrExperiments: battery rows are treated arms only, ranks total-ordered") {
    val ev = graft.sources.Tables.events(spark, TestSpark.Sf0001)
    val got = Analytics.fdrExperiments(ev).collect()
    assert(got.nonEmpty)
    // ranks are 1..m with no gaps; q is non-decreasing in rank
    val ranks = got.map(_.getAs[Long]("rank")).toList
    assert(ranks === (1L to ranks.length.toLong).toList)
    val qs = got.map(_.getAs[Double]("q_value")).toList
    assert(qs === qs.sorted, "BH q-values must be monotone in rank")
    assert(qs.forall(q => q >= 0.0 && q <= 1.0))
  }

  test("mwuBattery: hand-computed U with ties, tie-corrected sigma, exact lattice p; all-tied arms drop") {
    // e1: control a = [1,2,2,3], treated b = [2,3,3,5] → U = 13
    // (R wilcox.test W: x=2 scores 1 win + two ½-ties = 2; each x=3
    // scores 3 + ½ = 3.5; x=5 scores 4). Combined tie groups: value 2
    // ×3 and value 3 ×3 → Σ(t³−t) = 48. σ² = (16/12)·(9 − 48/56) =
    // 10.857142857142858. e2 is one value everywhere → σ² = 0, not a
    // test, drops like a degenerate Welch arm.
    val rows = (Seq(
      (1L, "a", 1.0), (2L, "a", 2.0), (3L, "a", 2.0), (4L, "a", 3.0),
      (5L, "b", 2.0), (6L, "b", 3.0), (7L, "b", 3.0), (8L, "b", 5.0))
      .map { case (id, v, x) => (id, v, x, """{"k":"e1"}""") } ++
      Seq((9L, "a", 7.0), (10L, "a", 7.0), (11L, "b", 7.0),
        (12L, "b", 7.0))
        .map { case (id, v, x) => (id, v, x, """{"k":"e2"}""") })
      .toDF("event_id", "event_type", "value", "props")
    val got = Analytics.mwuBattery(rows).collect()
    assert(got.length === 1, "the all-tied e2 arm must drop")
    val r = got(0)
    assert(r.getAs[String]("test") === "mwu_u")
    assert(r.getAs[String]("experiment_id") === "e1")
    assert(r.getAs[String]("variant") === "b")
    assert(r.getAs[Double]("stat") === 13.0)
    // replay the exact shared scalar chain (same literals, same
    // operation order, same 1e-9 lattice quantizations) — equality
    // is EXACT, not approximate
    val sig2 = (4.0 * 4.0 / 12.0) * ((8.0 + 1.0) - 48.0 / (8.0 * 7.0))
    assert(math.abs(sig2 - 76.0 / 7.0) < 1e-12)
    val z = ((13.0 - 8.0) - 0.5) / math.sqrt(sig2) * 0.7071067811865476
    val t = 1.0 / (1.0 + 0.3275911 * z)
    val e = math.floor(math.exp(-(z * z)) * 1e9 + 0.5) / 1e9
    val erfc = ((((1.061405429 * t - 1.453152027) * t + 1.421413741)
      * t - 0.284496736) * t + 0.254829592) * t * e
    val pExp = math.floor(erfc * 1e9 + 0.5) / 1e9
    assert(r.getAs[Double]("p_value") === pExp)
  }

  test("cupedLift: hand-computed theta and adjusted means de-confound an unbalanced design") {
    // 4 users, baselines 10/20/30/40; pre-period event = baseline,
    // post-period arm a = baseline, arm b = baseline + 10 — but user
    // 4 (highest baseline) never reaches arm b, so the RAW lift reads
    // 30 − 25 = 5 against a true per-user effect of 10. Hand moments
    // over the 7 (user, variant) units: θ = 4600/5200, r² = (4600/
    // 5200)², pooled X̄ = 160/7; cuped_a = 25 − θ(25 − 160/7),
    // cuped_b = 30 − θ(20 − 160/7) → adjusted lift ≈ 9.42.
    val rows = Seq(
      (1L, 1L, "a", 10.0, 0L), (2L, 1L, "a", 10.0, 60L),
      (3L, 1L, "b", 20.0, 61L),
      (4L, 2L, "a", 20.0, 1L), (5L, 2L, "a", 20.0, 62L),
      (6L, 2L, "b", 30.0, 63L),
      (7L, 3L, "a", 30.0, 2L), (8L, 3L, "a", 30.0, 64L),
      (9L, 3L, "b", 40.0, 65L),
      (10L, 4L, "a", 40.0, 3L), (11L, 4L, "a", 40.0, 66L))
      .map { case (id, u, v, x, us) =>
        (id, u, v, x, """{"k":"e1"}""", us) }
      .toDF("event_id", "user_id", "event_type", "value", "props", "us")
      .withColumn("ts", expr("timestamp_micros(us)")).drop("us")
    val got = Analytics.cupedLift(rows).collect()
    assert(got.length === 2)
    val a = got(0); val b = got(1)
    assert(a.getAs[String]("variant") === "a")
    assert(a.getAs[Long]("n_units") === 4L)
    assert(b.getAs[Long]("n_units") === 3L)
    val theta = 4600.0 / 5200.0
    val xbar = 160.0 / 7.0
    assert(math.abs(a.getAs[Double]("theta") - theta) < 1e-6)
    assert(math.abs(a.getAs[Double]("var_reduction") - theta * theta)
      < 1e-6)
    assert(a.getAs[Double]("mean_y") === 25.0)
    assert(b.getAs[Double]("mean_y") === 30.0)
    assert(math.abs(a.getAs[Double]("mean_y_cuped")
      - (25.0 - theta * (25.0 - xbar))) < 1e-6)
    assert(math.abs(b.getAs[Double]("mean_y_cuped")
      - (30.0 - theta * (20.0 - xbar))) < 1e-6)
    // the adjustment recovers most of the true +10 effect from the
    // confounded raw +5
    val lift = b.getAs[Double]("mean_y_cuped") -
      a.getAs[Double]("mean_y_cuped")
    assert(lift > 9.0 && lift < 10.0, s"adjusted lift $lift")
  }

  test("kruskalExperiments: hand-computed tie-corrected H and WH lattice p; degenerate experiments drop") {
    // e1: a = [1,2,2,3], b = [2,3,3,5], c = [1,1,4] → mid-ranks 2/5/8
    // per tie group, rank sums R = (20, 32, 14), ssd = 4+16+16/3,
    // H = ssd/11 = 2.30303…, ties Σ(t³−t) = 3·24 = 72 →
    // H' = H/(1−72/1320) = 2.4358974… (R kruskal.test value).
    // e2 is all one value (correction denominator 0) and e3 a single
    // arm — both are not tests and drop.
    val rows = (Seq(
      (1L, "a", 1.0), (2L, "a", 2.0), (3L, "a", 2.0), (4L, "a", 3.0),
      (5L, "b", 2.0), (6L, "b", 3.0), (7L, "b", 3.0), (8L, "b", 5.0),
      (9L, "c", 1.0), (10L, "c", 1.0), (11L, "c", 4.0))
      .map { case (id, v, x) => (id, v, x, """{"k":"e1"}""") } ++
      Seq((12L, "a", 7.0), (13L, "b", 7.0))
        .map { case (id, v, x) => (id, v, x, """{"k":"e2"}""") } ++
      Seq((14L, "a", 1.0), (15L, "a", 2.0))
        .map { case (id, v, x) => (id, v, x, """{"k":"e3"}""") })
      .toDF("event_id", "event_type", "value", "props")
    val got = Analytics.kruskalExperiments(rows).collect()
    assert(got.length === 1, "e2 (all tied) and e3 (one arm) must drop")
    val r = got(0)
    assert(r.getAs[String]("experiment_id") === "e1")
    assert(r.getAs[Long]("k_arms") === 3L)
    assert(r.getAs[Long]("n_total") === 11L)
    assert(r.getAs[Long]("df") === 2L)
    // replay the exact shared chain (variant-ordered fold, identical
    // literals and lattice quantizations) — equality is EXACT
    val d2a = (40.0 - 4.0 * 12.0) * (40.0 - 4.0 * 12.0) / (4.0 * 4.0)
    val d2b = (64.0 - 4.0 * 12.0) * (64.0 - 4.0 * 12.0) / (4.0 * 4.0)
    val d2c = (28.0 - 3.0 * 12.0) * (28.0 - 3.0 * 12.0) / (4.0 * 3.0)
    val ssd = ((0.0 + d2a) + d2b) + d2c
    val h0 = 12.0 * ssd / (11.0 * (11.0 + 1.0))
    val corr = 1.0 - 72.0 / (11.0 * 11.0 * 11.0 - 11.0)
    val h = h0 / corr
    assert(r.getAs[Double]("h_stat") === h)
    assert(math.abs(h - 2.4358974358974357) < 1e-12)
    val cb = math.floor(math.cbrt(h / 2.0) * 1e9 + 0.5) / 1e9
    val z = (cb - (1.0 - 2.0 / (9.0 * 2.0))) / math.sqrt(2.0 / (9.0 * 2.0))
    val az = math.abs(z) * 0.7071067811865476
    val t = 1.0 / (1.0 + 0.3275911 * az)
    val e = math.floor(math.exp(-(az * az)) * 1e9 + 0.5) / 1e9
    val erfc = ((((1.061405429 * t - 1.453152027) * t + 1.421413741)
      * t - 0.284496736) * t + 0.254829592) * t * e
    val pExp = math.floor(
      (if (z >= 0) erfc / 2.0 else 1.0 - erfc / 2.0) * 1e9 + 0.5) / 1e9
    assert(r.getAs[Double]("p_value") === pExp)
    // χ²₂ survival has the closed form e^{−H/2}: the WH approximation
    // must land within its documented accuracy of it
    assert(math.abs(pExp - math.exp(-h / 2.0)) < 5e-3)
  }

  test("rank batteries fail LOUD past the 10^12 tie-cell exactness bound (never a silent arm drop)") {
    import spark.implicits._
    // a tie cell past DECIMAL(12,0): Spark's non-ANSI cast would NULL
    // it (silently dropping the arm where DuckDB errors); the guard
    // must abort instead
    val grain = Seq(
      ("e1", 1.0, "a", 2000000000000L), ("e1", 2.0, "b", 5L))
      .toDF("experiment_id", "value", "variant", "cnt")
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).mkString(" | ")
    val exMwu = intercept[Exception] {
      Analytics.mwuFromGrain(grain, 0.05).collect()
    }
    assert(chain(exMwu).contains("10^12 exactness bound"),
      s"unexpected: ${chain(exMwu)}")
    val exKw = intercept[Exception] {
      Analytics.kruskalFromGrain(grain).collect()
    }
    assert(chain(exKw).contains("10^12 exactness bound"),
      s"unexpected: ${chain(exKw)}")
    // in-range cells take the ELSE branch untouched: the guarded
    // chain is bit-identical to the hand-computed fixtures above
    val ok = Seq(("e1", 1.0, "a", 999999999999L), ("e1", 2.0, "b", 5L))
      .toDF("experiment_id", "value", "variant", "cnt")
    assert(Analytics.kruskalFromGrain(ok).count() === 1L)
  }

  test("mwuExperiments: fdr_experiments shape — same schema, mwu rows only, total ranks, Welch-arm containment") {
    val ev = graft.sources.Tables.events(spark, TestSpark.Sf0001)
    val mwu = Analytics.mwuExperiments(ev)
    val fdr = Analytics.fdrExperiments(ev)
    assert(mwu.schema === fdr.schema,
      "the MWU battery must ride the identical BH tail schema")
    val got = mwu.collect()
    assert(got.nonEmpty)
    assert(got.forall(_.getAs[String]("test") == "mwu_u"))
    val ranks = got.map(_.getAs[Long]("rank")).toList
    assert(ranks === (1L to ranks.length.toLong).toList)
    val qs = got.map(_.getAs[Double]("q_value")).toList
    assert(qs === qs.sorted && qs.forall(q => q >= 0.0 && q <= 1.0))
    // arm-set containment under the shared control-pick convention:
    // MWU only needs a non-degenerate rank spread, so it tests every
    // arm Welch can (n=1 arms that Welch must drop still rank) —
    // welch ⊆ mwu ⊆ the treated-arm universe
    val welchArms = fdr.collect()
      .filter(_.getAs[String]("test") == "welch_z")
      .map(r => (r.getAs[String]("experiment_id"),
        r.getAs[String]("variant"))).toSet
    val mwuArms = got.map(r => (r.getAs[String]("experiment_id"),
      r.getAs[String]("variant"))).toSet
    assert(welchArms.subsetOf(mwuArms),
      s"arms Welch tests but MWU dropped: ${welchArms -- mwuArms}")
    val treatedUniverse = Analytics.variantLift(ev).collect()
      .filter(r => r.getAs[String]("variant") !=
        r.getAs[String]("control_variant"))
      .map(r => (r.getAs[String]("experiment_id"),
        r.getAs[String]("variant"))).toSet
    assert(mwuArms.subsetOf(treatedUniverse),
      s"MWU rows outside the treated-arm universe: " +
        s"${mwuArms -- treatedUniverse}")
  }
}
