package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Corpus
import graft.sources.Tables

class CorpusSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, TestSpark.Sf0001)

  test("hash split is stable, total, and near the requested rate") {
    val s1 = Corpus.hashSplit(docs, valPct = 10).collect()
    val s2 = Corpus.hashSplit(docs, valPct = 10).collect()
    assert(s1.toSeq === s2.toSeq)
    assert(s1.length === docs.count())
    val valFrac = s1.count(_.getString(1) == "val").toDouble / s1.length
    assert(valFrac > 0.02 && valFrac < 0.25, s"val fraction $valFrac")
  }

  test("stratified split: exact floor(n*pct/100) per stratum, hash-deterministic") {
    val out = Corpus.stratifiedSplit(docs, valPct = 10).collect()
    assert(out.length === docs.count())
    val bySource = out.groupBy(_.getString(1))
    val counts = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((src, rows) <- bySource) {
      val nVal = rows.count(_.getString(2) == "val")
      assert(nVal === counts(src) * 10 / 100,
        s"stratum $src: $nVal val of ${counts(src)}")
    }
    // selection is a hash property of the doc, not of input order
    val again = Corpus.stratifiedSplit(docs.orderBy(desc("doc_id")), 10)
      .collect()
    assert(out.toSeq === again.toSeq)
  }

  test("chunk layout covers every token exactly once") {
    val perDoc = Corpus.docChunks(docs, chunkLen = 64)
      .groupBy("doc_id").agg(
        sum("chunk_len").as("covered"),
        max("chunk_idx").as("last_idx"),
        count(lit(1)).as("n_chunks"))
    val joined = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getAs[Long]("covered") === r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("n_chunks") === r.getAs[Long]("last_idx") + 1)
    }
  }

  test("sequence packing: bins cut the doc_id-ordered token stream at start offsets") {
    // tokens: doc1=4, doc2=3, doc3=5, doc4=2; budget 6
    // starts:  0       4       7       12  -> bins 0, 0, 1, 2
    val d = Seq(
      (1L, "a b c d"), (2L, "e f g"), (3L, "h i j k l"), (4L, "m n")
    ).toDF("doc_id", "text")
    val got = Corpus.packSequences(d, budget = 6, partitions = 3)
      .as[(Long, Long, Long, Long, Long)].collect().toList
    assert(got === List((0L, 2L, 7L, 1L, 2L), (1L, 1L, 5L, 3L, 3L),
      (2L, 1L, 2L, 4L, 4L)))
  }

  test("sequence packing is invariant to input partitioning and partition count") {
    val a = Corpus.packSequences(docs, budget = 128, partitions = 7).collect()
    val b = Corpus.packSequences(docs.repartition(13), budget = 128,
      partitions = 3).collect()
    assert(a.toSeq === b.toSeq)
    // every doc lands in exactly one bin; token totals are preserved
    val total = docs.select(sum(size(split(col("text"), " ")))).as[Long].head()
    assert(a.map(_.getLong(2)).sum === total)
    assert(a.map(_.getLong(1)).sum === docs.count())
    // when no doc exceeds the budget, start-offset packing leaves no
    // empty bins (a doc longer than the budget strides whole bins and
    // legitimately gaps them — not the case in this corpus/budget)
    val maxTok = docs.select(max(size(split(col("text"), " ")))).as[Int].head()
    assert(maxTok <= 128, s"fixture assumption broken: maxTok=$maxTok")
    val bins = a.map(_.getLong(0)).toList
    assert(bins === (0L to bins.max).toList)
  }

  test("redaction report: planted PII is found, counted in fold order, and scrubbed") {
    val d = Seq((5L, "hello world")).toDF("doc_id", "text")
    val row = Corpus.redactionReport(d).collect().head
    assert(row.getLong(1) === 1L) // email
    assert(row.getLong(2) === 1L) // SSN-shaped id (counted BEFORE phone)
    assert(row.getLong(3) === 1L) // phone
    // the scrubbed text no longer matches any pattern
    val redacted = Corpus.redact(
      d.select(col("doc_id"), org.apache.spark.sql.functions.concat(
        col("text"), lit(" contact u5@example.com call +1 555 000 1234 ref 123-45-6789")).as("text")),
      "text", Corpus.PiiPatterns)
    val txt = redacted.select("text").as[String].head()
    assert(txt.contains("<EMAIL>") && txt.contains("<ID>") && txt.contains("<PHONE>"))
    Corpus.PiiPatterns.foreach { case (pat, _) =>
      assert(!pat.r.findFirstIn(txt.replace("<EMAIL>", "").replace("<ID>", "")
        .replace("<PHONE>", "")).isDefined)
    }
  }

  test("mixture sampling honors per-source rates and subsets hash_split determinism") {
    val docs001 = Tables.documents(spark, TestSpark.Sf0001)
    val rates = graft.operators.Corpus.DemoRates
    val kept = graft.operators.Corpus.mixtureSample(docs001, rates).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val total = docs001.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val keptBySource = kept.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    // 100%-rate sources keep everything; 25% sources keep well under half
    rates.foreach { case (s, pct) =>
      val frac = keptBySource.getOrElse(s, 0L).toDouble / total(s)
      if (pct == 100) assert(frac === 1.0, s"$s kept $frac")
      else assert(math.abs(frac - pct / 100.0) <= 0.35, s"$s rate $pct kept $frac")
    }
    // deterministic: same rows every run
    val again = graft.operators.Corpus.mixtureSample(docs001, rates).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(kept.toSeq === again.toSeq)
  }

  test("contamination flags a doc sharing long n-grams with a benchmark doc") {
    // fabricate: doc 100 copies benchmark doc 0's text (doc_id % 10 == 0
    // marks the benchmark set here)
    val d = Seq(
      (0L, "a b c d e f g h i j k l m n o p"),
      (105L, "ZZ a b c d e f g h i j k l m n o p YY"),
      (7L, "totally different words with no overlap at all here ok")
    ).toDF("doc_id", "text")
    val got = Corpus.contamination(d, k = 8, minShared = 4, benchMod = 10)
      .as[(Long, Long, Long)].collect()
    assert(got.map(r => (r._1, r._2)).toSeq === Seq((105L, 0L)))
    assert(got.head._3 >= 4L)
  }

  test("redaction masks PII patterns and leaves clean text alone") {
    val d = Seq(
      "contact john.doe+x@example.org or +1 (415) 555-0199 id 123-45-6789",
      "nothing sensitive here").toDF("text")
    val out = Corpus.redact(d, "text", Corpus.PiiPatterns)
      .as[String].collect()
    assert(out(0) === "contact <EMAIL> or <PHONE> id <ID>")
    assert(out(1) === "nothing sensitive here")
  }

  test("capPerSource: exactly min(k, |source|) docs, contiguous ranks, cross-source independence") {
    val docs = ((1L to 30L).map(i => (i, s"doc $i", "srcA")) ++
      (31L to 33L).map(i => (i, s"doc $i", "srcB")))
      .toDF("doc_id", "text", "source")
    val got = Corpus.capPerSource(docs, k = 10)
      .as[(Long, String, Long)].collect()
    val bySrc = got.groupBy(_._2)
    assert(bySrc("srcA").length === 10) // capped
    assert(bySrc("srcB").length === 3) // smaller than k -> all kept
    assert(bySrc("srcA").map(_._3).sorted.toSeq === (1L to 10L))
    // determinism + independence: srcA's kept set must not change when
    // OTHER sources grow (the property a per-source cap exists for)
    val more = docs.union(Seq((99L, "new doc", "srcB")).toDF("doc_id", "text", "source"))
    val again = Corpus.capPerSource(more, k = 10)
      .as[(Long, String, Long)].collect()
    assert(again.filter(_._2 == "srcA").map(_._1).toSet ===
      bySrc("srcA").map(_._1).toSet)
    // tightening the cap = prefix of the ranked sample
    val tighter = Corpus.capPerSource(docs, k = 5)
      .as[(Long, String, Long)].collect()
    assert(tighter.filter(_._2 == "srcA").map(_._1).toSet ===
      bySrc("srcA").filter(_._3 <= 5).map(_._1).toSet)
  }

  test("lengthBuckets: exact power-of-two ceilings, integer bucket edges") {
    // token counts 1, 2, 3, 4, 5, 64, 65 → buckets 1, 2, 4, 4, 8, 64, 128
    val docs = Seq(1, 2, 3, 4, 5, 64, 65).zipWithIndex.map { case (n, i) =>
      (i.toLong, Seq.fill(n)("w").mkString(" "))
    }.toDF("doc_id", "text")
    val got = Corpus.lengthBuckets(docs)
      .as[(Long, Long, Long, Long, Double)].collect().toList
    assert(got.map(r => r._1 -> r._2) ===
      List(1L -> 1L, 2L -> 1L, 4L -> 2L, 8L -> 1L, 64L -> 1L, 128L -> 1L))
    // the exact power of two must land in ITS OWN bucket, not the next
    val b64 = got.find(_._1 == 64L).get
    assert(b64._3 === 64L && b64._4 === 64L && b64._5 === 0.0)
    // waste accounting: bucket 4 holds docs of 3+4 tokens → 1/8 padding
    val b4 = got.find(_._1 == 4L).get
    assert(b4._4 === 8L && b4._5 === 12.5)
  }

  test("tokenBudgetMix admits hash-ordered docs until the budget, +≤1 doc overshoot") {
    // one source, docs of 10 tokens each, budget 35 → 4 docs admitted
    // (4th STARTS at 30 < 35), 40 tokens — overshoot bounded by one doc
    val d = (0 until 10).map(i =>
      (i.toLong, Seq.fill(10)("w").mkString(" "), "s0")).toDF("doc_id", "text", "source")
    val got = Corpus.tokenBudgetMix(d, budget = 35)
      .as[(String, Long, Long)].collect().toList
    assert(got === List(("s0", 4L, 40L)))

    // real corpus: every source obeys budget-start rule; totals bounded
    val perSrc = Corpus.tokenBudgetMix(docs, budget = 300)
      .as[(String, Long, Long)].collect()
    assert(perSrc.nonEmpty)
    val maxDoc = docs.select(max(size(split(col("text"), " ")))).as[Int].head()
    perSrc.foreach { case (src, n, toks) =>
      assert(n > 0, src)
      assert(toks < 300 + maxDoc, s"$src overshoot: $toks")
    }
    // determinism: identical on rerun and under different partitioning
    val again = Corpus.tokenBudgetMix(docs.repartition(13), budget = 300)
      .as[(String, Long, Long)].collect()
    assert(perSrc.toSeq === again.toSeq)
  }

  test("corpusShuffle: epoch-stable total permutation with contiguous per-shard positions") {
    val e0 = Corpus.corpusShuffle(docs, epoch = 0, shards = 8).collect()
    // total: every doc exactly once
    assert(e0.map(_.getLong(0)).toSet.size === docs.count())
    // per-shard positions are 1..n_s (dense, no gaps)
    e0.groupBy(_.getLong(1)).foreach { case (shard, rows) =>
      assert(rows.map(_.getLong(2)).sorted.toSeq === (1L to rows.length).toSeq,
        s"shard $shard positions not dense")
    }
    // stable under rerun + repartitioning
    val e0b = Corpus.corpusShuffle(docs.repartition(7), epoch = 0, shards = 8)
      .collect()
    assert(e0.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      e0b.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    // a different epoch is a genuinely different permutation
    val e1 = Corpus.corpusShuffle(docs, epoch = 1, shards = 8).collect()
    val m0 = e0.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val moved = e1.count(r => m0(r.getLong(0)) != ((r.getLong(1), r.getLong(2))))
    assert(moved > e1.length / 2, s"only $moved/${e1.length} docs moved")
  }

  test("dsirWeights: target-vocab docs outscore off-target docs; target slice excluded") {
    // doc 0 and 50 are the target slice (doc_id % 50 == 0) speaking
    // pure "t*" vocab; raw docs 1 (target-like) and 2 (off-vocab)
    val d = Seq(
      (0L, "t1 t2 t3 t1 t2 t3"), (50L, "t1 t2 t3 t3 t3 t1"),
      (1L, "t1 t2 t3 t1 t2 t3"), (2L, "z1 z2 z3 z4 z5 z6")
    ).toDF("doc_id", "text").withColumn("source", lit("s0"))
      .withColumn("lang", lit("en")).withColumn("n_chars", lit(0L))
    val got = Corpus.dsirWeights(d).as[(Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet === Set(1L, 2L), "only raw docs scored")
    val (_, n1, w1) = got(1L); val (_, _, w2) = got(2L)
    assert(n1 === 6L)
    assert(w1 > w2,
      s"target-like doc must outweigh off-target: $w1 vs $w2")
    assert(w1 > 0 && w2 < 0,
      s"signs: target-vocab positive ($w1), unseen-vocab negative ($w2)")
    // deterministic under re-run and partitioning
    val again = Corpus.dsirWeights(d.repartition(5))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(again === got)
  }

  test("qualityFilterBySource keeps each source's most fluent half, ranked") {
    val got = Corpus.qualityFilterBySource(docs)
      .as[(Long, String, Long)].collect()
    assert(got.nonEmpty)
    // per source: ranks dense from 1, and exactly ceil(n_scored/2) kept
    val scoredPerSrc = graft.operators.TextAnalysis.lmBigramScore(docs)
      .join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source").count().as[(String, Long)].collect().toMap
    got.groupBy(_._2).foreach { case (src, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1L to rows.length).toSeq, src)
      assert(rows.length === (scoredPerSrc(src) + 1) / 2, src)
    }
  }

  test("mixtureWeights: both weight columns sum to ~1 and temperature flattens") {
    val docs = graft.sources.Tables.documents(spark, TestSpark.Sf0001)
    val w = graft.operators.Corpus.mixtureWeights(docs)
      .as[(String, Long, Long, Double, Double)].collect()
    assert(w.length > 1)
    // floor-quantized weights sum to 1 from below, within n*1e-10
    val sp = w.map(_._4).sum
    val st = w.map(_._5).sum
    assert(sp <= 1.0 + 1e-9 && sp > 1.0 - w.length * 1e-10, sp)
    assert(st <= 1.0 + 1e-9 && st > 1.0 - w.length * 1e-10, st)
    // α=0.5 flattens: the biggest source is down-weighted, the
    // smallest up-weighted, and relative order is preserved
    val byTokens = w.sortBy(_._3)
    assert(byTokens.last._5 <= byTokens.last._4 + 1e-12, "max not damped")
    assert(byTokens.head._5 >= byTokens.head._4 - 1e-12, "min not boosted")
    assert(byTokens.map(_._5).toSeq === byTokens.map(_._5).sorted.toSeq,
      "temperature must preserve source order")
  }

  test("span corruption: pairs reconstruct the original and hit ~15% rate") {
    val got = Corpus.spanCorruption(docs)
      .as[(Long, Long, Long, Long, String, String)].collect()
    val texts = docs.select("doc_id", "text").as[(Long, String)]
      .collect().toMap
    assert(got.map(_._1).toSet === texts.keySet, "every doc present")
    val sentinel = "<extra_id_(\\d+)>".r
    got.foreach { case (id, nTok, nMasked, nSpans, inp, tgt) =>
      val orig = texts(id)
      assert(nTok === orig.split(" ", -1).length.toLong)
      // counts are consistent with the rendered strings
      assert(sentinel.findAllIn(inp).length === nSpans)
      assert(sentinel.findAllIn(tgt).length === nSpans)
      if (nSpans == 0L) {
        assert(inp === orig && tgt === "")
      } else {
        // splice target spans back over the input sentinels -> original.
        // target = <extra_id_0> span0 <extra_id_1> span1 ...
        val spans = sentinel.split(tgt.trim + " ").drop(1)
          .map(_.trim).toSeq
        assert(spans.length === nSpans)
        assert(spans.map(s => s.split(" ", -1).length).sum === nMasked)
        val rebuilt = spans.zipWithIndex.foldLeft(inp) {
          case (acc, (sp, k)) => acc.replace(s"<extra_id_$k>", sp)
        }
        assert(rebuilt === orig, s"doc $id failed reconstruction")
      }
    }
    // corpus-level corruption rate ~ startPct * mean span len (15%)
    val rate = got.map(_._3).sum.toDouble / got.map(_._2).sum
    assert(rate > 0.05 && rate < 0.30, s"corruption rate $rate")
    // deterministic across runs
    val again = Corpus.spanCorruption(docs)
      .as[(Long, Long, Long, Long, String, String)].collect()
    assert(again.toSeq === got.toSeq)
  }

  test("span corruption REJECTS input containing a literal reserved sentinel") {
    val tainted = Seq(
      (1L, "clean text here"),
      (2L, "evil <extra_id_0> injected")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Corpus.spanCorruption(tainted).collect()
    }
    // the failure must be the loud contract error naming the doc, not
    // a downstream reconstruction ambiguity
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("reserved sentinel")),
      s"wrong error: ${e.getMessage}")
    assert(msgs(e).exists(m => m != null && m.contains("doc_id=2")),
      "error must name the offending doc")
    // clean input is untouched by the guard
    val clean = Seq((1L, "clean text here")).toDF("doc_id", "text")
    assert(Corpus.spanCorruption(clean).count() === 1L)
  }

  test("mlmMasking: 15% selection, 80/10/10 branches, untouched docs byte-identical") {
    val got = Corpus.mlmMasking(docs)
      .as[(Long, Long, Long, Long, Long, Long, String, String)].collect()
    val origMd5 = docs.select(col("doc_id"), md5(col("text")))
      .as[(Long, String)].collect().toMap
    val emptyMd5 = spark.range(1).select(md5(lit(""))).as[String].head()
    assert(got.map(_._1).toSet === origMd5.keySet)
    got.foreach { case (id, nTok, nSel, nMask, nRand, nKeep, mMd5, lMd5) =>
      assert(nSel === nMask + nRand + nKeep, s"doc $id branch split")
      assert(nSel <= nTok)
      if (nSel === 0L) {
        // nothing selected: masked text IS the original, empty labels
        assert(mMd5 === origMd5(id) && lMd5 === emptyMd5)
      } else assert(lMd5 !== emptyMd5)
      // a [MASK] write guarantees divergence from the original
      if (nMask > 0L) assert(mMd5 !== origMd5(id))
    }
    // corpus-level rates: selection ~15%, mask branch ~80% of selected
    val (selSum, tokSum) = (got.map(_._3).sum, got.map(_._2).sum)
    val rate = selSum.toDouble / tokSum
    assert(rate > 0.12 && rate < 0.18, s"selection rate $rate")
    val maskShare = got.map(_._4).sum.toDouble / selSum
    assert(maskShare > 0.72 && maskShare < 0.88, s"mask share $maskShare")
    // deterministic across runs
    val again = Corpus.mlmMasking(docs)
      .as[(Long, Long, Long, Long, Long, Long, String, String)].collect()
    assert(again.toSeq === got.toSeq)
  }

  test("lengthBatching: bands partition by length, batches cut at size, padding sane") {
    val got = Corpus.lengthBatching(docs, batchSize = 32, bandWidth = 16)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect()
    val nDocs = docs.count()
    assert(got.map(_._3).sum === nDocs, "every doc lands in exactly one batch")
    got.foreach { case (band, batchId, nSeqs, minLen, maxLen, sumLen, pad) =>
      assert(nSeqs >= 1L && nSeqs <= 32L)
      assert(minLen <= maxLen)
      // band membership: every length in [band*16, band*16+15]
      assert(minLen / 16 === band && maxLen / 16 === band)
      assert(sumLen >= nSeqs * minLen && sumLen <= nSeqs * maxLen)
      assert(pad >= 0.0 && pad < 1.0)
      assert(pad === math.floor(
        (1.0 - sumLen.toDouble / (nSeqs * maxLen).toDouble) * 1e9 + 0.5) / 1e9)
    }
    // within a band, only the LAST batch may be partial
    got.groupBy(_._1).foreach { case (band, batches) =>
      val partial = batches.filter(_._3 < 32L)
      assert(partial.size <= 1, s"band $band has ${partial.size} partial batches")
      if (partial.nonEmpty)
        assert(partial.head._2 === batches.map(_._2).max,
          s"band $band partial batch must be last")
    }
  }

  test("nspPairs: pair counts track line counts; labels near-balanced; deterministic") {
    val got = Corpus.nspPairs(docs)
      .as[(Long, Long, Long, Long, String)].collect()
    // each emitting doc contributes exactly (n_lines - 1) pairs; docs
    // with < 2 lines emit nothing — cross-check against lineDedup's
    // per-doc line counts
    val lineCounts = graft.operators.Dedup.lineDedup(docs)
      .select("doc_id", "n_lines").as[(Long, Long)].collect().toMap
    assert(got.nonEmpty)
    got.foreach { case (id, nPairs, nPos, nNeg, md) =>
      assert(nPairs === lineCounts(id) - 1, s"doc $id pair count")
      assert(nPos + nNeg === nPairs)
      assert(md.length === 32)
    }
    assert(got.map(_._1).toSet ===
      lineCounts.filter(_._2 >= 2).keySet, "emitting docs = docs with >= 2 lines")
    // the pos/neg coin is a fair hash bit (self-draw/gap fallbacks only
    // nudge it by O(1/n_docs)): corpus-level balance within [0.4, 0.6]
    val (pos, tot) = (got.map(_._3).sum.toDouble, got.map(_._2).sum.toDouble)
    assert(pos / tot > 0.4 && pos / tot < 0.6, s"pos share ${pos / tot}")
    assert(got.map(_._4).sum > 0, "some negatives must exist")
    // deterministic across runs
    val again = Corpus.nspPairs(docs)
      .as[(Long, Long, Long, Long, String)].collect()
    assert(again.toSeq === got.toSeq)
  }

  test("nspPairs: negative rate survives a SPARSE id space (ScaleGen-style gaps)") {
    // the draw mods into a dense rank of the docs that exist, so the
    // id layout is irrelevant — under the previous max(doc_id)+1 draw
    // this layout (ids spread 997 apart) put ~99.9% of draws in id
    // gaps and collapsed the negative class to ~0
    val sparse = docs.withColumn("doc_id", col("doc_id") * 997L + 123456L)
    val got = Corpus.nspPairs(sparse)
      .as[(Long, Long, Long, Long, String)].collect()
    assert(got.nonEmpty)
    val (pos, tot) = (got.map(_._3).sum.toDouble, got.map(_._2).sum.toDouble)
    assert(pos / tot > 0.4 && pos / tot < 0.6,
      s"pos share ${pos / tot} under sparse ids")
    assert(got.map(_._4).sum > 0, "negatives must survive sparse ids")
  }

  test("curriculumOrder: ranks are the exact permutation of the entropy " +
    "order and phases split contiguously by rank") {
    val got = Corpus.curriculumOrder(docs)
      .as[(Long, Long, Double, Long, String)].collect()
    val n = got.length
    assert(got.map(_._4).sorted.toSeq === (1L to n).toSeq,
      "ranks must be a permutation of 1..n")
    // rank order must equal (entropy, doc_id) order
    val byRank = got.sortBy(_._4)
    assert(byRank.map(r => (r._3, r._1)).toSeq ===
      got.map(r => (r._3, r._1)).sortBy(identity).toSeq)
    // phases are contiguous rank segments of near-equal size, easy first
    val bounds = byRank.map(_._5)
    val (e, m, l) = (bounds.count(_ == "early"), bounds.count(_ == "middle"),
      bounds.count(_ == "late"))
    assert(e + m + l === n && (e - l) <= 1 && e >= m && m >= l)
    assert(bounds.toSeq === Seq.fill(e)("early") ++ Seq.fill(m)("middle") ++
      Seq.fill(l)("late"))
  }

  test("sourceKlDivergence: zero for a single source, Gibbs-nonnegative, " +
    "and exact on a hand-computed two-source fixture") {
    // one source IS the mixture -> every ln ratio is ln(1) = 0
    val mono = Seq((1L, "a b a", "s0"), (2L, "b c", "s0"))
      .toDF("doc_id", "text", "source")
    val kl0 = Corpus.sourceKlDivergence(mono)
      .as[(String, Long, Long, Double)].collect().toList
    assert(kl0 === List(("s0", 5L, 3L, 0.0)))

    // A = {x, x, y}, B = {y}: corpus x:2 y:2 over N=4
    val two = Seq((1L, "x x y", "A"), (2L, "y", "B"))
      .toDF("doc_id", "text", "source")
    val got = Corpus.sourceKlDivergence(two)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    def expectKl(terms: Seq[(Double, Double)]): Double =
      terms.map { case (ps, pc) => ps * math.log(ps / pc) }.sum
    val eA = expectKl(Seq((2.0 / 3, 0.5), (1.0 / 3, 0.5)))
    val eB = expectKl(Seq((1.0, 0.5)))
    assert(got("A")._2 === 3L && got("A")._3 === 2L)
    assert(got("B")._2 === 1L && got("B")._3 === 1L)
    assert(math.abs(got("A")._4 - eA) < 1e-6, s"A kl ${got("A")._4} vs $eA")
    assert(math.abs(got("B")._4 - eB) < 1e-6, s"B kl ${got("B")._4} vs $eB")

    // real corpus: KL >= 0 (up to the 1e-9 term lattice) and token
    // totals partition the corpus
    val real = Corpus.sourceKlDivergence(docs)
      .as[(String, Long, Long, Double)].collect()
    assert(real.nonEmpty)
    real.foreach { case (s, _, nt, kl) =>
      assert(kl >= -1e-6 * nt, s"source $s has kl $kl < 0") }
    val totTok = docs.select(explode(split(col("text"), " ")))
      .where(col("col") =!= "").count()
    assert(real.map(_._2).sum === totTok)
  }

  test("lang temperature mix: upsamples minority languages, flatter at smaller alpha") {
    // 3 langs with 100/10/1 token masses: α<1 must boost the minority
    // above 1 and cap the majority below 1, probabilities sum to 1
    val docs = (
      Seq.fill(10)("en" -> Seq.fill(10)("w").mkString(" ")) ++
      Seq.fill(2)("fr" -> Seq.fill(5)("w").mkString(" ")) ++
      Seq("sw" -> "w")
    ).zipWithIndex.map { case ((l, t), i) => (i.toLong, t, l) }
      .toDF("doc_id", "text", "lang")
    val a1 = Corpus.langTemperatureMix(docs)
      .as[(String, Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(a1.keySet === Set("en", "fr", "sw"))
    assert(math.abs(a1.values.map(_._5).sum - 1.0) < 1e-12, "probs sum to 1")
    assert(a1("sw")._6 > 1.0, "minority lang upsampled")
    assert(a1("en")._6 < 1.0, "majority lang downsampled")
    // share^α with the exact sqrt∘sqrt composition, replicated by hand
    val sh = a1("sw")._4
    assert(sh === 1.0 / 111.0)
    val w = Map("en" -> 100.0, "fr" -> 10.0, "sw" -> 1.0).map { case (l, n) =>
      l -> math.floor(math.sqrt(math.sqrt(n / 111.0)) * 1e9 + 0.5).toLong }
    val ws = w.values.sum
    assert(a1("sw")._5 === w("sw").toDouble / ws.toDouble)
    // α = 0.25 is flatter than the natural shares (α = 1): the
    // majority-to-minority odds shrink
    assert(a1("en")._5 / a1("sw")._5 < a1("en")._4 / a1("sw")._4)
  }

  test("dpo pairs: rank-extreme pairing, chosen strictly better, deterministic") {
    val ens = Corpus.qualityEnsemble(docs)
      .select(col("doc_id"), col("ens_rank"))
      .as[(Long, Long)].collect().toMap
    val out = Corpus.dpoPairs(docs).collect()
    // eligible set = docs with >= 2 content lines = sft_examples rows
    val m = Corpus.sftExamples(docs).count()
    assert(out.length === (m / 2).toInt, "one pair per top/bottom rank slot")
    // pair ids are the dense 1..m/2 sequence
    assert(out.map(_.getAs[Long]("pair_id")).sorted.toSeq
      === (1L to m / 2).toSeq)
    // every chosen doc outranks (smaller ens_rank) its rejected partner,
    // and the two sides never overlap
    val chosen = out.map(_.getAs[Long]("chosen_doc_id")).toSet
    val rejected = out.map(_.getAs[Long]("rejected_doc_id")).toSet
    assert(chosen.intersect(rejected).isEmpty)
    out.foreach { r =>
      assert(ens(r.getAs[Long]("chosen_doc_id"))
        < ens(r.getAs[Long]("rejected_doc_id")))
    }
    // deterministic under input reordering/partitioning
    val again = Corpus.dpoPairs(docs.orderBy(desc("doc_id")).repartition(7))
      .collect()
    assert(out.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("contrastive views: deterministic, ~dropPct dropped, independent views") {
    val out = Corpus.contrastiveViews(docs, dropPct = 15).collect()
    assert(out.length === docs.where(col("text").isNotNull).count())
    val nTok = out.map(_.getAs[Long]("n_tokens")).sum.toDouble
    val nV1 = out.map(_.getAs[Long]("n_v1")).sum.toDouble
    val nV2 = out.map(_.getAs[Long]("n_v2")).sum.toDouble
    val nBoth = out.map(_.getAs[Long]("n_both")).sum.toDouble
    // keep rate ~85% per view; joint keep ~72% (independent hashes)
    assert(math.abs(nV1 / nTok - 0.85) < 0.03, s"v1 keep ${nV1 / nTok}")
    assert(math.abs(nV2 / nTok - 0.85) < 0.03, s"v2 keep ${nV2 / nTok}")
    assert(math.abs(nBoth / nTok - 0.7225) < 0.04,
      s"joint keep ${nBoth / nTok} — views are not independent")
    out.foreach { r =>
      assert(r.getAs[Long]("n_both") <=
        math.min(r.getAs[Long]("n_v1"), r.getAs[Long]("n_v2")))
    }
    // most docs get two DIFFERENT views (the training signal)
    val differ = out.count(r =>
      r.getAs[String]("v1_md5") != r.getAs[String]("v2_md5"))
    assert(differ.toDouble / out.length > 0.8)
    // deterministic under reordering/partitioning
    val again = Corpus.contrastiveViews(
      docs.orderBy(desc("doc_id")).repartition(7), dropPct = 15).collect()
    assert(out.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("lexicon tags: mined lexicons beat chance on their own sources") {
    val out = graft.operators.TextAnalysis.lexiconTags(docs).collect()
    assert(out.length === docs.count())
    val acc = out.map(_.getAs[Long]("is_correct")).sum.toDouble / out.length
    val chance = 1.0 / docs.select("source").distinct().count()
    assert(acc > 2 * chance, s"accuracy $acc vs chance $chance")
    // zero-hit docs tag '' and never count correct
    out.filter(_.getAs[Long]("n_hits") == 0L).foreach { r =>
      assert(r.getAs[String]("predicted_source") === "")
      assert(r.getAs[Long]("is_correct") === 0L)
    }
    val again = graft.operators.TextAnalysis.lexiconTags(
      docs.orderBy(desc("doc_id")).repartition(7)).collect()
    assert(out.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("corpus drift: stationary corpus flat, planted tail drift spikes the last window") {
    import org.apache.spark.sql.functions._
    // 100 docs of one vocabulary; the last 20 switch vocabulary
    val sd = (0 until 100).map { i =>
      val t = if (i < 80) s"common words everywhere common words w${i % 7}"
              else s"zz1 zz2 zz3 zz4 zz5 zz6 zz${i % 3}"
      (i.toLong, t)
    }.toDF("doc_id", "text")
    val got = Corpus.corpusDrift(sd, buckets = 5)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet === (1L to 5L).toSet)
    assert(got.values.map(_._2).sum === 100L, "every doc in a window")
    // windows 1-4 are identically distributed-ish (low KL); window 5
    // is the drifted vocabulary (high KL against the mixture)
    val head = (1L to 4L).map(got(_)._5).max
    assert(got(5L)._5 > 4 * math.max(head, 1e-6),
      s"tail drift ${got(5L)._5} must dominate head $head")
    // deterministic under partitioning
    val again = Corpus.corpusDrift(sd.repartition(7), buckets = 5)
      .as[(Long, Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(again === got)
  }

  test("weightedSample: ES keys rank-order correctly and weights bias inclusion") {
    val out = Corpus.weightedSample(docs, k = 100).collect()
    assert(out.length === 100)
    // ranks are 1..k aligned with strictly descending keys
    assert(out.map(_.getAs[Long]("rank")).toSeq === (1L to 100L))
    val keys = out.map(_.getAs[Double]("sample_key"))
    assert(keys.zip(keys.tail).forall { case (a, b) => a >= b })
    assert(keys.forall(u => u > 0.0 && u <= 1.0))
    // u^(1/w) stochastically dominates u for w > 1: the weighted
    // sources must be overrepresented vs their corpus share
    val total = docs.count().toDouble
    val w4share = docs.where(col("source") === "src0").count() / total
    val got4 = out.count(_.getAs[String]("source") == "src0") / 100.0
    assert(got4 > w4share, s"weight-4 share $got4 <= corpus share $w4share")
    // deterministic under partitioning
    val again = Corpus.weightedSample(docs.repartition(7), k = 100).collect()
    assert(again.map(_.getAs[Long]("doc_id")).toSeq ===
      out.map(_.getAs[Long]("doc_id")).toSeq)
  }

  test("labelMajority: counts total m, majority recovers the planted truth mostly") {
    val m = 5
    val out = Corpus.labelMajority(docs, annotators = m).collect()
    assert(out.length === docs.count())
    out.foreach { r =>
      assert(r.getAs[Long]("n0") + r.getAs[Long]("n1") +
        r.getAs[Long]("n2") === m.toLong)
      val counts = Seq(r.getAs[Long]("n0"), r.getAs[Long]("n1"),
        r.getAs[Long]("n2"))
      val maj = r.getAs[Long]("majority_label").toInt
      assert(counts(maj) === counts.max)
      // tie-break toward the smaller class id
      assert(counts.take(maj).forall(_ < counts(maj)))
      assert(r.getAs[Double]("agreement") === counts.max.toDouble / m)
      val po = counts.map(c => c * (c - 1)).sum.toDouble / (m * (m - 1))
      assert(r.getAs[Double]("pairwise_po") === po)
    }
    // ~75%-accurate raters, 5 votes: the majority matches the planted
    // truth for the overwhelming share of docs
    val hit = out.count { r =>
      val id = r.getAs[Long]("doc_id")
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val truth = java.lang.Long.parseLong(md5.take(15), 16) % 3
      r.getAs[Long]("majority_label") === truth
    }
    // fixture-observed 0.888 (444/500): ~25%-noisy raters, 5 votes,
    // errors split across two classes — floor with margin
    assert(hit.toDouble / out.length > 0.85, s"majority hit rate $hit/${out.length}")
  }

  test("threadAssembly: pointer doubling ≡ sequential parent walk; sparse ids survive") {
    val out = Corpus.threadAssembly(docs, roots = 64).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("root_id"), r.getAs[Long]("depth"),
          r.getAs[Long]("thread_size"))).toMap
    val n = docs.count()
    assert(out.size === n)
    // driver-side sequential walk over the same dense-rank forest
    // (sf0.001 ids are contiguous 0..n-1 -> rank = doc_id + 1)
    def parent(r: Long): Long = {
      if (r <= 64) r
      else {
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(r.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        val h = java.lang.Long.parseLong(md5.take(15), 16)
        val p = r - 64 * (1 + h % 3)
        if (p >= 1) p else 1 + ((r - 1) % 64)
      }
    }
    val walked = (0L until n).map { d =>
      var cur = d + 1; var depth = 0L
      while (cur > 64) { cur = parent(cur); depth += 1 }
      d -> (cur - 1, depth) // root rank -> the root's doc_id
    }.toMap
    walked.foreach { case (d, (root, depth)) =>
      assert(out(d)._1 === root, s"doc $d root")
      assert(out(d)._2 === depth, s"doc $d depth")
    }
    val sizes = walked.values.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    out.foreach { case (d, (root, _, sz)) =>
      assert(sz === sizes(root), s"doc $d thread_size")
    }
    // roots self-report at depth 0
    (0L until math.min(64L, n)).foreach { d =>
      assert(out(d) === ((d, 0L, sizes(d))))
    }
    // the sparse-id regression the 10x fixture caught: shift every id
    // into a gappy 90M range — the dense-rank forest must keep EVERY
    // row (raw-id arithmetic dropped parents into nonexistent gaps)
    val sparse = docs.select(
      (col("doc_id") * 180009L + 7L).as("doc_id"))
    val sparseOut = Corpus.threadAssembly(sparse, roots = 64).collect()
    assert(sparseOut.length === n,
      s"sparse ids lost rows: ${sparseOut.length} of $n")
    // same forest SHAPE as the contiguous run (ranks are identical):
    // depths match row-for-row in rank order
    val sparseDepths = sparseOut.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("depth")).toMap
    walked.foreach { case (d, (_, depth)) =>
      assert(sparseDepths(d * 180009L + 7L) === depth)
    }
  }

  test("doremiWeights: weights form a distribution and rank by excess NLL") {
    import spark.implicits._
    // s_common draws only the corpus-dominant token (low NLL);
    // s_rare's tokens are corpus-rare (high NLL, more weight)
    val docs = (
      (1 to 8).map(i => (i.toLong, "x x x x", "s_common")) ++
        Seq((9L, "y z", "s_rare"))
      ).toDF("doc_id", "text", "source")
    val got = graft.operators.Corpus.doremiWeights(docs)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Double]("nll"), r.getAs[Double]("excess"),
          r.getAs[Double]("weight"))).toMap
    val (nllC, exC, wC) = got("s_common")
    val (nllR, exR, wR) = got("s_rare")
    assert(nllR > nllC, "rare-token source must carry higher NLL")
    assert(exC === 0.0, "best source has zero excess")
    assert(exR > 0.0 && wR > wC, "excess loss must draw more weight")
    assert(math.abs(wC + wR - 1.0) < 1e-6, s"weights sum to 1: $wC + $wR")
    assert(wC > 0.0 && wR > 0.0)
  }
}
