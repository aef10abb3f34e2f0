package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity
import graft.sources.Tables
import org.apache.spark.sql.functions._

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, TestSpark.Sf0001)

  test("brute-force knn: k unique ranked neighbors per query, self excluded") {
    val got = Similarity.knnBruteForce(emb, k = 10, queryMod = 100)
      .as[(Long, Long, Int)].collect()
    val byQuery = got.groupBy(_._1)
    assert(byQuery.nonEmpty)
    byQuery.foreach { case (q, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1 to 10))
      assert(!rows.map(_._2).contains(q))
      assert(rows.map(_._2).distinct.length === rows.length)
    }
  }

  test("hard negatives: every neighbor has a different label; subset of knn order") {
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val negs = Similarity.hardNegatives(emb, k = 5, queryMod = 50).collect()
    assert(negs.nonEmpty)
    negs.foreach { r =>
      val q = r.getLong(0); val n = r.getLong(1)
      assert(labels(q) !== labels(n), s"query $q neighbor $n share a label")
    }
    // per query: ranks are 1..k with unique neighbors
    negs.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getInt(2)).sorted.toSeq === (1 to rows.length))
      assert(rows.map(_.getLong(1)).distinct.length === rows.length)
    }
  }

  test("embedding outliers: planted far vector flags, tight cluster does not") {
    import spark.implicits._
    // label 0: 9 vectors near (1,0,...) plus one planted at (-8,...)
    val rows = (0 until 9).map { i =>
      (i.toLong, Array(1f, 0.01f * i, 0f, 0f), 0)
    } :+ (9L, Array(-8f, 5f, 0f, 0f), 0)
    val emb = rows.toDF("vec_id", "embedding", "label")
    val out = Similarity.embeddingOutliers(emb, zThresh = 2.0).collect()
    assert(out.length === 10)
    val flagged = out.filter(_.getInt(4) == 1).map(_.getLong(0)).toSet
    assert(flagged === Set(9L), s"flagged $flagged")
    // z of the planted point dominates every cluster member's
    val zs = out.map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(zs(9L) > 2.0 && zs.filterKeys(_ != 9L).values.forall(_ < 1.0))
  }

  test("embedding outliers: zero-spread label yields z = 0, not NaN/Inf") {
    import spark.implicits._
    // all of label 7's vectors are equidistant from the centroid
    // (symmetric pair) -> std_d = 0; z must be the defined 0, never
    // ±Inf/NaN (Spark) vs NULL (DuckDB) divergence
    val emb = Seq(
      (1L, Array(1f, 0f), 7), (2L, Array(-1f, 0f), 7),
      (3L, Array(0f, 1f), 8), (4L, Array(0f, 2f), 8), (5L, Array(0f, 9f), 8))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.embeddingOutliers(emb, zThresh = 2.0).collect()
    val lbl7 = out.filter(_.getInt(1) == 7)
    assert(lbl7.length === 2)
    lbl7.foreach { r =>
      assert(r.getDouble(3) === 0.0 && r.getInt(4) === 0,
        s"degenerate label must z=0: $r")
    }
    assert(out.forall(r => !r.getDouble(3).isNaN && !r.getDouble(3).isInfinite))
  }

  test("knn rank order agrees with directly computed cosine") {
    val knn = Similarity.knnBruteForce(emb, k = 5, queryMod = 250)
      .as[(Long, Long, Int)].collect()
    val vecs = emb.as[(Long, Array[Float], Int)].collect()
      .map(r => r._1 -> r._2).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    knn.groupBy(_._1).foreach { case (q, rows) =>
      val sims = rows.sortBy(_._3).map(r => cos(vecs(q), vecs(r._2)))
      assert(sims.zip(sims.tail).forall { case (x, y) => x >= y },
        s"ranks not in descending cosine order for query $q")
    }
  }

  test("LSH ANN returns a subset of true candidates with positive recall") {
    val exact = Similarity.knnBruteForce(emb, k = 10, queryMod = 100)
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2)).toSet
    val approx = Similarity.knnLsh(emb, k = 10, queryMod = 100)
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2)).toSet
    assert(approx.nonEmpty, "LSH candidate generation produced no results")
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"LSH recall@10 = $recall%.2f (candidates=${approx.size})")
    assert(recall > 0.0)
  }

  test("IVF ANN: ranked output shape, subset semantics, positive recall") {
    val exact = Similarity.knnBruteForce(emb, k = 10, queryMod = 100)
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2)).toSet
    val ivf = Similarity.knnIvf(emb, k = 10, queryMod = 100)
      .as[(Long, Long, Int)].collect()
    assert(ivf.nonEmpty)
    ivf.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1 to rows.length))
      assert(!rows.map(_._2).contains(q))
    }
    val approx = ivf.map(r => (r._1, r._2)).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"IVF recall@10 = $recall%.2f (candidates=${approx.size})")
    assert(recall > 0.0)
  }

  test("trained-centroid IVF: valid ranked output, recall reported vs stand-in centroids") {
    val exact = Similarity.knnBruteForce(emb, k = 10, queryMod = 100)
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2)).toSet
    val fake = Similarity.knnIvf(emb, k = 10, queryMod = 100)
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2)).toSet
    val trained = Similarity.knnIvfTrained(emb, k = 10, queryMod = 100)
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2)).toSet
    val rFake = (exact & fake).size.toDouble / exact.size
    val rTrained = (exact & trained).size.toDouble / exact.size
    info(f"IVF recall@10: stand-in=$rFake%.2f trained=$rTrained%.2f")
    assert(trained.nonEmpty)
    // trained centroids partition the actual data; on the near-uniform
    // fixture they must at least hold the stand-in floor
    assert(rTrained >= 0.25, f"trained IVF recall $rTrained%.2f below floor")
  }

  test("pinned trained-path twin: same shape as trained IVF, deterministic, unequal norms") {
    val got = Similarity.knnIvfTrainedPinned(emb, k = 10, queryMod = 100)
      .as[(Long, Long, Int)].collect()
    assert(got.nonEmpty)
    // ranked output contract: ranks 1..k' per query, no self matches
    got.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1 to rows.length))
      assert(!rows.exists(_._2 == q))
    }
    val again = Similarity.knnIvfTrainedPinned(emb, k = 10, queryMod = 100)
      .as[(Long, Long, Int)].collect()
    assert(again.toSeq === got.toSeq)
    // the pinned centroids must have UNEQUAL norms — otherwise the
    // twin would not exercise assignWith's /||c|| normalization (the
    // behavior that distinguishes the trained path from ivfAssign)
    val norms = (0 until 16).map(c =>
      Similarity.pinnedCentroid(c, 64).map(x => x.toDouble * x).sum)
    assert(norms.distinct.size > 1, s"pinned centroid norms all equal: $norms")
  }

  test("IVF assignment is a total partition of the collection") {
    val assigned = Similarity.ivfAssign(emb, nList = 16)
    assert(assigned.count() === emb.count())
    val clusters = assigned.groupBy("cluster_id").count()
      .as[(Int, Long)].collect().toMap
    assert(clusters.keys.forall(c => c >= 0 && c < 16))
  }

  test("kmeans: Lloyd iterations never increase inertia; result is deterministic") {
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.Sf0001)
    val init = Array.tabulate(8)(c =>
      graft.operators.Similarity.kmeansFit(emb, k = 8, iters = 0)(c))
    val after1 = graft.operators.Similarity.kmeansFit(emb, k = 8, iters = 1)
    val after3 = graft.operators.Similarity.kmeansFit(emb, k = 8, iters = 3)
    val i0 = graft.operators.Similarity.inertia(emb, init)
    val i1 = graft.operators.Similarity.inertia(emb, after1)
    val i3 = graft.operators.Similarity.inertia(emb, after3)
    assert(i1 <= i0 + 1e-9, s"inertia rose after 1 iter: $i0 -> $i1")
    assert(i3 <= i1 + 1e-9, s"inertia rose after 3 iters: $i1 -> $i3")
    // stable across runs up to double-merge association order (the
    // partial-sum merge tree can differ run to run; the per-element
    // deviation is bounded by a few ulps)
    val again = graft.operators.Similarity.kmeansFit(emb, k = 8, iters = 3)
    val maxDiff = after3.zip(again).map { case (a, b) =>
      a.zip(b).map { case (x, y) => math.abs(x - y) }.max
    }.max
    assert(maxDiff < 1e-5, s"centroids unstable across runs: maxDiff=$maxDiff")
    // trained centroids still induce a total partition
    val assigned = graft.operators.Similarity.assignWith(emb, after3)
    assert(assigned.count() === emb.count())
    assert(assigned.where(col("cluster_id") < 0 || col("cluster_id") >= 8)
      .count() === 0)
  }

  test("embedding near-dup pairs are symmetric-free and above threshold") {
    val pairs = Similarity.embeddingNearDup(emb, threshold = 0.40)
      .as[(Long, Long)].collect()
    assert(pairs.forall { case (a, b) => a < b })
  }

  test("semantic dedup: transitive chain clusters to the smallest id; orthogonal survives") {
    val d = 8
    def planar(theta: Double): Array[Float] = {
      val v = Array.fill(d)(0f)
      v(0) = math.cos(theta).toFloat; v(1) = math.sin(theta).toFloat; v
    }
    val ortho = { val v = Array.fill(d)(0f); v(2) = 1f; v }
    // cos(v0,v1) = cos(v1,v2) = cos(0.6) ≈ 0.825 ≥ 0.75, but
    // cos(v0,v2) = cos(1.2) ≈ 0.362 < 0.75 — {0,1,2} must cluster
    // TRANSITIVELY through v1; v3 is orthogonal to the plane
    val df = Seq((0L, planar(0.0)), (1L, planar(0.6)), (2L, planar(1.2)),
      (3L, ortho)).toDF("vec_id", "embedding")
    val got = Similarity.semanticDedup(df, threshold = 0.75, nBlocks = 2)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((0L, 0L, 0L), (1L, 0L, 1L), (2L, 0L, 1L), (3L, 3L, 0L)))
  }

  test("embeddingClusters: partitions the corpus; training beats stand-in centroids") {
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.Sf0001)
    val a = Similarity.embeddingClusters(emb, k = 8, iters = 3)
      .as[(Int, Long, Int, Long)].collect().toSeq
    assert(a.map(_._2).sum === emb.count(), "clusters partition the corpus")
    assert(a.forall(r => r._4 <= r._2 && r._4 >= 1))
    assert(a.size >= 2 && a.forall(r => r._1 >= 0 && r._1 < 8))
    // labels in this synthetic table are independent of geometry
    // (checked: cos>0.44 pairs match labels at chance), so coherence
    // is asserted geometrically: training must beat the untrained
    // stand-in centroids on the spherical k-means objective
    val cents = Similarity.kmeansFit(emb.select($"vec_id", $"embedding"),
      k = 8, iters = 3)
    val init = Similarity.kmeansFit(emb, k = 8, iters = 0)
    assert(Similarity.inertia(emb, cents) < Similarity.inertia(emb, init))
  }

  test("embeddingClustersPinned: partitions the corpus and agrees with " +
    "a per-row driver argmax over the stand-in assignment") {
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.Sf0001)
    val p = Similarity.embeddingClustersPinned(emb, nList = 16)
      .as[(Int, Long, Int, Long)].collect().toSeq
    assert(p.map(_._2).sum === emb.count(), "clusters partition the corpus")
    assert(p.forall(r => r._4 <= r._2 && r._4 >= 1))
    // the pinned summary must be exactly the rollup of ivfAssign
    val sizes = Similarity.ivfAssign(emb.select($"vec_id", $"embedding"))
      .groupBy("cluster_id").count()
      .as[(Int, Long)].collect().toMap
    assert(p.map(r => r._1 -> r._2).toMap === sizes)
  }

  test("block-pair near-dup matches a driver-computed all-pairs reference") {
    val got = Similarity.embeddingNearDup(emb, threshold = 0.40)
      .as[(Long, Long)].collect().toSet
    val vecs = emb.as[(Long, Array[Float], Int)].collect()
      .map(r => r._1 -> r._2)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs
      if ia < ib && cos(va, vb) >= 0.40
    } yield (ia, ib)).toSet
    assert(got === want, "block-pair plan must be exactly the all-pairs set")
    // and the plan must be shuffled equi-joins, not a nested loop
    val plan = Similarity.embeddingNearDup(emb, threshold = 0.40)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "exact near-dup must not plan an all-pairs join")
  }

  test("cosine similarity histogram matches a driver-computed reference") {
    val got = Similarity.cosineSimHistogram(emb, sampleMod = 7)
      .as[(Long, Double, Double, Long)].collect()
      .map(r => r._1 -> r._4).toMap
    val vecs = emb.as[(Long, Array[Float], Int)].collect()
      .collect { case (id, v, _) if id % 7 == 0 => id -> v }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = (for { (ia, va) <- vecs; (ib, vb) <- vecs if ia < ib }
      yield math.min(math.floor((cos(va, vb) + 1) / 2 * 20), 19).toLong)
      .groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
    assert(got === want)
    assert(got.values.sum === vecs.size.toLong * (vecs.size - 1) / 2,
      "every sampled pair lands in exactly one bin")
  }

  test("LSH near-dup is an exact-verified subset with usable recall") {
    val exact = Similarity.embeddingNearDup(emb, threshold = 0.40)
      .as[(Long, Long)].collect().toSet
    val lsh = Similarity.embeddingNearDupLsh(emb, threshold = 0.40)
      .as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact),
      "every LSH-emitted pair must clear the exact threshold (precision 1)")
    if (exact.nonEmpty) {
      val recall = lsh.size.toDouble / exact.size
      // deterministic hyperplanes -> stable recall; bound is the floor
      // observed on the fixture with margin, guarding parameter drift
      assert(recall >= 0.20, f"LSH near-dup recall $recall%.2f too low")
    }
  }

  test("int8 quantization invariants: clamp, max-element code, reconstruction bound") {
    val rows = Similarity.quantizeEmbeddings(emb)
      .select("embedding", "scale", "q").collect()
    assert(rows.nonEmpty)
    rows.foreach { row =>
      // Spark hands back mutable.ArraySeq — use the collection.Seq LUB
      val emb = row.getAs[scala.collection.Seq[Float]](0)
      val scale = row.getDouble(1)
      val codes = row.getAs[scala.collection.Seq[Byte]](2)
      assert(codes.length === emb.length)
      assert(codes.forall(c => c >= -127 && c <= 127))
      if (scale == 0.0) assert(codes.forall(_ === 0))
      else {
        // the max-|x| element must map to a +/-127 code
        val iMax = emb.indices.maxBy(i => math.abs(emb(i).toDouble))
        assert(math.abs(codes(iMax).toInt) === 127,
          s"max element coded ${codes(iMax)}")
        // dequantization error is at most half a step (+ float slack)
        emb.indices.foreach { i =>
          val err = math.abs(codes(i) * scale - emb(i).toDouble)
          assert(err <= scale / 2 + 1e-9,
            s"elem $i: err $err > half-step ${scale / 2}")
        }
      }
    }
  }

  test("pq codes are bounded, deterministic, and the sign-space guard holds") {
    val enc = Similarity.pqEncode(emb)
      .select("vec_id", "codes").as[(Long, Seq[Byte])].collect()
    assert(enc.nonEmpty)
    enc.foreach { case (_, codes) =>
      assert(codes.length === 16)
      assert(codes.forall(c => c >= 0 && c < 16), s"code out of range: $codes")
    }
    // content-addressed: a second encode pass yields identical codes
    val again = Similarity.pqEncode(emb)
      .select("vec_id", "codes").as[(Long, Seq[Byte])].collect()
    assert(enc.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
    // more ±1 centroids than the subspace has sign patterns must fail
    // loudly, not degrade silently (observed recall collapse)
    intercept[IllegalArgumentException] {
      Similarity.pqEncode(emb, m = 16, ksub = 32).collect()
    }
  }

  test("knnMrl: prefix-space shortlist re-ranked exactly; recall face consistent") {
    val got = Similarity.knnMrl(emb, k = 10, queryMod = 100)
      .as[(Long, Long, Int)].collect()
    val byQuery = got.groupBy(_._1)
    assert(byQuery.nonEmpty)
    byQuery.foreach { case (q, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1 to 10))
      assert(!rows.map(_._2).contains(q))
    }
    // the recall face recomputes exactly the overlap of the two pair sets
    val exact = Similarity.knnBruteForce(emb, k = 10, queryMod = 100)
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2)).toSet
    val approx = got.map(r => (r._1, r._2)).toSet
    val rec = Similarity.knnMrlRecall(emb, k = 10, queryMod = 100).collect()(0)
    assert(rec.getAs[Long]("n_exact") === exact.size.toLong)
    assert(rec.getAs[Long]("n_hit") === (exact intersect approx).size.toLong)
    val r = rec.getAs[Double]("recall_at_k")
    assert(r > 0.0 && r <= 1.0)
    // widening the re-rank shortlist can only help recall
    val recWide = Similarity.knnMrlRecall(emb, k = 10, queryMod = 100,
      rerank = 16).collect()(0).getAs[Double]("recall_at_k")
    assert(recWide >= r)
  }

  test("pinned recall twins recompute exactly the overlap of their two pair sets") {
    // each pinned face's recall number must equal the directly-computed
    // intersection of its deterministic pipeline with the brute-force
    // baseline — the same consistency the oracle asserts cross-engine
    val exact = Similarity.knnBruteForce(emb, k = 10, queryMod = 100)
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2)).toSet
    def check(recRow: org.apache.spark.sql.Row, approx: Set[(Long, Long)],
        method: String): Unit = {
      assert(recRow.getAs[String]("method") === method)
      assert(recRow.getAs[Long]("n_exact") === exact.size.toLong)
      assert(recRow.getAs[Long]("n_hit")
        === (exact intersect approx).size.toLong)
      val r = recRow.getAs[Double]("recall_at_k")
      assert(r > 0.0 && r <= 1.0)
    }
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.as[(Long, Long, Int)].collect().map(r => (r._1, r._2)).toSet
    check(Similarity.knnPqRecallPinned(emb).collect()(0),
      pairs(Similarity.knnPq(emb)), "pq_pinned")
    check(Similarity.knnIvfPqRecallPinned(emb).collect()(0),
      pairs(Similarity.knnIvfPq(emb)), "ivfpq_pinned")
    check(Similarity.knnPcaRecallPinned(emb).collect()(0),
      pairs(Similarity.knnPca(emb)), "pca_pinned")
  }

  test("vec_dot_i8 kernel equals the interpreted integer fold") {
    import org.apache.spark.sql.functions._
    val both = Similarity.quantizeEmbeddings(emb)
      .select(expr("vec_dot_i8(q, q)").as("kernel"),
        expr("aggregate(zip_with(q, q, (a, b) -> CAST(a AS BIGINT) * b), " +
          "0L, (acc, v) -> acc + v)").as("fold"))
      .where(col("kernel") =!= col("fold"))
    assert(both.count() === 0)
  }

  test("nnDescentGraph: full cover, no self edges, exactly k ranked neighbors, deterministic") {
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val k = 10
    val g = Similarity.nnDescentGraph(emb, k = k).collect()
    val n = emb.count()
    // every node has exactly k neighbors ranked 1..k (candidates
    // always exceed k after one local join on this collection)
    val byNode = g.groupBy(_.getAs[Long]("node_id"))
    assert(byNode.size.toLong === n, "graph must cover every node")
    byNode.foreach { case (node, rows) =>
      assert(rows.map(_.getAs[Long]("rank")).sorted.toList ===
        (1L to k).toList, s"node $node ranks")
      assert(rows.forall(_.getAs[Long]("neighbor_id") != node),
        s"self edge at $node")
    }
    // hash init + total tie-breaks → bit-stable across runs
    val g2 = Similarity.nnDescentGraph(emb, k = k).collect()
    assert(g.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ===
      g2.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
  }

  test("nnDescentGraph: a second round never lowers recall (descent, not drift)") {
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val r1 = Similarity.nnDescentRecall(emb, rounds = 1).collect()(0)
      .getAs[Double]("recall_at_k")
    val r2 = Similarity.nnDescentRecall(emb, rounds = 2).collect()(0)
      .getAs[Double]("recall_at_k")
    assert(r2 >= r1 - 1e-9, s"round 2 recall $r2 below round 1 $r1")
  }
}
