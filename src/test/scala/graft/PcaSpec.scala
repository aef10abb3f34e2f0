package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.sources.Tables

class PcaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def dot(a: Array[Double], b: Array[Double]): Double =
    a.zip(b).map { case (x, y) => x * y }.sum

  test("jacobi eigen: exact on a known symmetric matrix; residuals at machine precision") {
    // [[2,1],[1,2]] has eigenvalues 3 (v=[1,1]/sqrt2) and 1 (v=[1,-1]/sqrt2)
    val (vals2, vecs2) = Similarity.jacobiEigen(
      Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(vals2.sorted.zip(Seq(1.0, 3.0)).forall {
      case (a, b) => math.abs(a - b) < 1e-12 })
    // deterministic pseudo-random symmetric 8x8: A v_c = lambda_c v_c
    val d = 8
    var seed = 12345L
    def next(): Double = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (seed >>> 20).toDouble / (1L << 44).toDouble - 0.5
    }
    val a = Array.ofDim[Double](d, d)
    for (i <- 0 until d; j <- i until d) {
      val x = next(); a(i)(j) = x; a(j)(i) = x
    }
    val (vals, vecs) = Similarity.jacobiEigen(a)
    for (c <- 0 until d) {
      val v = Array.tabulate(d)(r => vecs(r)(c))
      assert(math.abs(dot(v, v) - 1.0) < 1e-10, "unit eigenvector")
      val av = Array.tabulate(d)(r => dot(a(r), v))
      val resid = av.zip(v).map { case (x, y) => x - vals(c) * y }
      assert(math.sqrt(dot(resid, resid)) < 1e-9, s"residual c=$c")
    }
    // orthogonality across columns
    for (c1 <- 0 until d; c2 <- c1 + 1 until d) {
      val v1 = Array.tabulate(d)(r => vecs(r)(c1))
      val v2 = Array.tabulate(d)(r => vecs(r)(c2))
      assert(math.abs(dot(v1, v2)) < 1e-10, s"orthogonal $c1,$c2")
    }
  }

  test("pcaFit recovers a planted dominant direction; eigenvalues descend") {
    // points = t * u + small noise, u = (3,4)/5 in dims (0,1) of 4
    val rows = (0 until 200).map { i =>
      val t = (i % 41) - 20.0
      val n1 = ((i * 2654435761L % 97) - 48.0) / 970.0
      val n2 = ((i * 1315423911L % 89) - 44.0) / 890.0
      (i.toLong, Array((0.6 * t + n1).toFloat, (0.8 * t + n2).toFloat,
        n1.toFloat, n2.toFloat), 0)
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
    val model = Similarity.pcaFit(emb, k = 4)
    val pc1 = model.components(0)
    val align = math.abs(0.6 * pc1(0) + 0.8 * pc1(1))
    assert(align > 0.999, s"pc1 alignment $align")
    assert(model.eigenvalues.sliding(2).forall(p => p(0) >= p(1) - 1e-12))
    // all d components capture ALL the variance
    assert(math.abs(model.varianceExplained - 1.0) < 1e-9)
    // components are orthonormal
    for (c1 <- model.components.indices; c2 <- c1 until model.components.length) {
      val expect = if (c1 == c2) 1.0 else 0.0
      assert(math.abs(dot(model.components(c1), model.components(c2)) - expect) < 1e-9)
    }
    // same-input refit is bit-identical; a REORDERED input moves the
    // Gram double sums' addition order, so components agree only to
    // accumulation precision — sign canonicalization keeps them
    // comparable directly
    val same = Similarity.pcaFit(emb, k = 4)
    assert(model.components.flatten.toSeq === same.components.flatten.toSeq)
    val reordered = Similarity.pcaFit(emb.orderBy(desc("vec_id")), k = 4)
    model.components.flatten.toSeq.zip(reordered.components.flatten.toSeq)
      .foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-6, s"$a vs $b")
      }
  }

  test("projection of rank-k data preserves pairwise geometry exactly") {
    // rank-2 data in 6 dims: projections to k=2 must preserve centered
    // pairwise distances to machine precision
    val rows = (0 until 60).map { i =>
      val s = (i % 11) - 5.0
      val t = (i % 7) - 3.0
      (i.toLong, Array(s, t, s + t, s - t, 2 * s, -t).map(_.toFloat), 0)
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
    val model = Similarity.pcaFit(emb, k = 2)
    assert(model.varianceExplained > 1.0 - 1e-9)
    val proj = Similarity.pcaProject(emb, model)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), Array(r.getDouble(1), r.getDouble(2))))
    val orig = rows.map { case (id, v, _) => (id, v.map(_.toDouble)) }
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    for (i <- 0 until 10; j <- i + 1 until 10) {
      val dOrig = d2(orig(i)._2, orig(j)._2)
      val dProj = d2(proj(i)._2, proj(j)._2)
      assert(math.abs(dOrig - dProj) < 1e-6 * (1 + dOrig),
        s"pair $i,$j: $dOrig vs $dProj")
    }
  }

  test("vec_gram is a monoid: shard grams sum to the full-corpus gram") {
    // the property that makes the PCA fit incremental at 100 TB: per-
    // shard triangles merge by addition, so a new shard never rescans
    // the corpus
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    graft.functions.Registry.ensure(spark)
    def gram(df: org.apache.spark.sql.DataFrame): (Array[Double], Long) = {
      val r = df.agg(expr("vec_gram(embedding)").as("g")).head().getStruct(0)
      (r.getSeq[Double](0).toArray, r.getLong(1))
    }
    val (full, nFull) = gram(emb)
    val (a, nA) = gram(emb.where(col("vec_id") % 2 === 0))
    val (b, nB) = gram(emb.where(col("vec_id") % 2 === 1))
    assert(nA + nB === nFull)
    assert(a.length === full.length && b.length === full.length)
    full.indices.foreach { i =>
      assert(math.abs(a(i) + b(i) - full(i)) < 1e-6 * (1 + math.abs(full(i))),
        s"triangle cell $i")
    }
  }

  test("knn_pca recall on real embeddings clears its floor") {
    // raw 16-dim subspace recall is ~0.38 on these near-isotropic
    // embeddings; the exact re-rank of the 8k shortlist lifts it to
    // ~0.90 (observed; 0.59/0.97 at pcaK=8/32) — floor with headroom
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val rec = Similarity.knnPcaRecall(emb, k = 10, queryMod = 50)
      .collect().head
    val recall = rec.getAs[Double]("recall_at_k")
    assert(recall >= 0.80, s"pca16 recall@10 $recall below floor")
  }
}
