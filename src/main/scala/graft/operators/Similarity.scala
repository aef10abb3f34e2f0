package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`embedding:
  * array<float>`, 64-dim).
  *
  * Two paths, as a production vector pipeline would have:
  *  - brute-force exact cosine top-k (the correctness baseline) — a
  *    broadcast of the (small) query set against the full collection,
  *    scored per-row by the codegen'd [[graft.functions.FloatVecDot]]
  *    kernel, ranked with a per-query window. Norms are computed once
  *    per vector, not once per pair. Linear in |collection|x|queries|.
  *  - multi-table random-hyperplane LSH buckets (the scale path) —
  *    deterministic ±1 hyperplanes as literal arrays, one `vec_dot`
  *    per (table, bit); candidates share a bucket in any table, then
  *    exact cosine re-ranks. At 100 TB, bucketing turns the cross
  *    product into a per-bucket join.
  *
  * Scores are double-precision sequential folds (matching the DuckDB
  * oracle's DOUBLE[] cosine); oracle-checked outputs expose only ids +
  * rank, never raw floats.
  */
object Similarity {

  /** (id, emb, norm) projection — norm computed once per vector. */
  private def withNorm(embeddings: DataFrame, idAs: String, embAs: String,
      normAs: String): DataFrame = {
    graft.functions.Registry.ensure(embeddings.sparkSession)
    embeddings.select(col("vec_id").as(idAs), col("embedding").as(embAs),
      expr("sqrt(vec_dot(embedding, embedding))").as(normAs))
  }

  /** Brute-force exact top-k: queries = vectors whose id % queryMod ==
    * 0 (a deterministic sample). Output (query_id, neighbor_id, rank).
    * The query side is tiny → broadcast; scoring streams the collection
    * once; ranking shuffles only |queries| x |collection| scored rows
    * reduced by the rank filter. */
  def knnBruteForce(embeddings: DataFrame, k: Int = 10,
      queryMod: Int = 100): DataFrame = {
    val queries = withNorm(embeddings, "query_id", "q_emb", "q_norm")
      .where(pmod(col("query_id"), lit(queryMod)) === 0)
    val scored = withNorm(embeddings, "neighbor_id", "n_emb", "n_norm")
      .join(broadcast(queries), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (expr("vec_dot(q_emb, n_emb)") / (col("q_norm") * col("n_norm")))
          .as("cos_sim"))
    rankTopK(scored, k)
  }

  def knnBruteForceSql(k: Int = 10, queryMod: Int = 100): String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
       |  FROM embeddings WHERE vec_id % $queryMod = 0)
       |SELECT query_id, neighbor_id, rank FROM (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY list_cosine_similarity(q.q_emb,
       |        CAST(e.embedding AS DOUBLE[])) DESC, e.vec_id) AS rank
       |  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Contrastive hard-negative mining: for each query vector, the k
    * most-similar vectors carrying a DIFFERENT label — the pairs a
    * contrastive/metric-learning run wants as negatives precisely
    * because the encoder currently confuses them. Same
    * broadcast-queries-vs-collection shape as [[knnBruteForce]] (the
    * query sample is tiny, the collection streams once); the label
    * inequality rides the join condition so mismatched pairs are
    * dropped before scoring. Output (query_id, neighbor_id, rank) —
    * rank-only, no floats in the compared result. */
  def hardNegatives(embeddings: DataFrame, k: Int = 10,
      queryMod: Int = 100): DataFrame = {
    graft.functions.Registry.ensure(embeddings.sparkSession)
    val base = embeddings.select(col("vec_id"), col("embedding"),
      col("label"), expr("sqrt(vec_dot(embedding, embedding))").as("norm"))
    val queries = base.where(pmod(col("vec_id"), lit(queryMod)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"), col("norm").as("q_norm"))
    val scored = base
      .join(broadcast(queries), col("vec_id") =!= col("query_id") &&
        col("label") =!= col("q_label"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (expr("vec_dot(q_emb, embedding)") / (col("q_norm") * col("norm")))
          .as("cos_sim"))
    rankTopK(scored, k)
  }

  def hardNegativesSql(k: Int = 10, queryMod: Int = 100): String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb,
       |    label AS q_label
       |  FROM embeddings WHERE vec_id % $queryMod = 0)
       |SELECT query_id, neighbor_id, rank FROM (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY list_cosine_similarity(q.q_emb,
       |        CAST(e.embedding AS DOUBLE[])) DESC, e.vec_id) AS rank
       |  FROM q CROSS JOIN embeddings e
       |  WHERE e.vec_id <> q.query_id AND e.label <> q.q_label)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Per-label centroid-distance outliers: distance of each vector to
    * its label's mean vector, z-scored against the label's distance
    * distribution — the screen a labeled-embedding corpus runs to
    * surface mislabeled or corrupt rows before training. Flags
    * `z >= zThresh`.
    *
    * Every cross-row float sum (centroid components, distance moments)
    * is quantized to DECIMAL before aggregation so the result is
    * addition-order independent — bit-identical across engines, run
    * order, and partitioning. Per-(label,dim) centroid sums partial-
    * aggregate map-side into k·dim cells, so the explode's dim× row
    * blowup never crosses the shuffle at full width; centroids and
    * per-label stats are broadcast back. At 100 TB: two streaming
    * passes over the corpus, shuffle bounded by k·dim + k cells. */
  def embeddingOutliers(embeddings: DataFrame, zThresh: Double = 2.0): DataFrame = {
    val dims = embeddings.select(col("vec_id"), col("label"),
      posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("vec_id"), col("label"), col("dim"),
        col("xf").cast("double").as("x"))
    val cent = dims.groupBy(col("label"), col("dim"))
      .agg(expr("CAST(sum(CAST(x AS DECIMAL(27,10))) AS DOUBLE)").as("sx"),
        count(lit(1)).as("cn"))
      .select(col("label"), col("dim"), (col("sx") / col("cn")).as("mu"))
    val dist = dims.join(broadcast(cent), Seq("label", "dim"))
      .groupBy(col("vec_id"), col("label"))
      .agg(expr("CAST(sum(CAST((x - mu) * (x - mu) AS DECIMAL(27,12))) AS DOUBLE)")
        .as("d2"))
      .select(col("vec_id"), col("label"),
        expr("CAST(CAST(sqrt(d2) AS DECIMAL(20,10)) AS DOUBLE)").as("dist"))
    val stats = dist.groupBy(col("label"))
      .agg(expr("CAST(sum(CAST(dist AS DECIMAL(25,10))) AS DOUBLE)").as("sd"),
        expr("CAST(sum(CAST(dist * dist AS DECIMAL(27,10))) AS DOUBLE)").as("sdd"),
        count(lit(1)).cast("double").as("cn"))
      .select(col("label"), (col("sd") / col("cn")).as("mean_d"),
        sqrt(col("sdd") / col("cn") -
          (col("sd") / col("cn")) * (col("sd") / col("cn"))).as("std_d"))
    // std_d = 0 (all of a label's vectors equidistant from the
    // centroid) would be ±Inf/NaN in Spark but NULL in DuckDB: define
    // z = 0 there, mirroring the embeddingStandardize constant-dim rule.
    dist.join(broadcast(stats), Seq("label"))
      .select(col("vec_id"), col("label"), col("dist"),
        expr("""CASE WHEN std_d > 0 THEN
                CAST(CAST((dist - mean_d) / std_d AS DECIMAL(20,10)) AS DOUBLE)
                ELSE CAST(0 AS DOUBLE) END""")
          .as("z"))
      .withColumn("is_outlier",
        when(col("z") >= lit(zThresh), lit(1)).otherwise(lit(0)))
      .orderBy("vec_id")
  }

  def embeddingOutliersSql(zThresh: Double = 2.0): String =
    s"""WITH dims AS (
       |  SELECT vec_id, label, i - 1 AS dim, CAST(e[i] AS DOUBLE) AS x
       |  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
       |        FROM embeddings),
       |    LATERAL unnest(range(1, len(e) + 1)) AS t (i)),
       |cent AS (
       |  SELECT label, dim,
       |    CAST(sum(CAST(x AS DECIMAL(27,10))) AS DOUBLE) / count(*) AS mu
       |  FROM dims GROUP BY 1, 2),
       |dist AS (
       |  SELECT vec_id, label,
       |    CAST(CAST(sqrt(d2) AS DECIMAL(20,10)) AS DOUBLE) AS dist
       |  FROM (
       |    SELECT d.vec_id, d.label,
       |      CAST(sum(CAST((d.x - c.mu) * (d.x - c.mu) AS DECIMAL(27,12)))
       |        AS DOUBLE) AS d2
       |    FROM dims d JOIN cent c USING (label, dim) GROUP BY 1, 2)),
       |stats AS (
       |  SELECT label, sd / cn AS mean_d,
       |    sqrt(sdd / cn - (sd / cn) * (sd / cn)) AS std_d
       |  FROM (
       |    SELECT label,
       |      CAST(sum(CAST(dist AS DECIMAL(25,10))) AS DOUBLE) AS sd,
       |      CAST(sum(CAST(dist * dist AS DECIMAL(27,10))) AS DOUBLE) AS sdd,
       |      count(*)::DOUBLE AS cn
       |    FROM dist GROUP BY 1))
       |SELECT d.vec_id, d.label, d.dist,
       |  CASE WHEN s.std_d > 0 THEN
       |    CAST(CAST((d.dist - s.mean_d) / s.std_d AS DECIMAL(20,10)) AS DOUBLE)
       |  ELSE CAST(0 AS DOUBLE) END AS z,
       |  CASE WHEN s.std_d > 0 AND
       |    CAST(CAST((d.dist - s.mean_d) / s.std_d AS DECIMAL(20,10))
       |      AS DOUBLE) >= $zThresh THEN 1 ELSE 0 END AS is_outlier
       |FROM dist d JOIN stats s USING (label)
       |ORDER BY d.vec_id""".stripMargin

  /** Per-dimension standardization (feature scaling): each coordinate
    * z-scored against the CORPUS's per-dim mean/std — the preprocessing
    * a quantizer or distance model wants when dimensions carry
    * different scales. Output is the per-vector summary of the
    * standardized coordinates (min/max/sum/norm), the
    * [[embeddingQuantization]] convention for array results. Same
    * decimal-exact discipline as [[embeddingOutliers]]: dim stats
    * shuffle d cells, per-vector sums quantize before aggregation, so
    * floats hash-match the oracle. Constant dims standardize to 0 in
    * both engines instead of diverging at ±inf. */
  def embeddingStandardize(embeddings: DataFrame): DataFrame = {
    // INTEGER-LATTICE determinism: every cross-engine value is either
    // exact integer/decimal arithmetic or an IEEE op on identical
    // operands. Two engine hazards are designed out, both found by the
    // sf0.1 oracle sweep (invisible at sf0.01):
    //  1. CAST(<double> AS DECIMAL(p,s)) rounds ulp-edge values
    //     differently per engine (Spark: exact BigDecimal HALF_UP on
    //     the binary value; DuckDB: scaled-double round). Inputs
    //     instead snap to a 1e-7 grid and z to a 1e-10 grid with
    //     floor(v * scale + 0.5) — pure IEEE multiply/add/floor,
    //     bit-equal in both engines for |v·scale| < 2^53 — and all
    //     sums run over the resulting integers (bigint /
    //     DECIMAL(38,0)), so they are exact.
    //  2. DuckDB's int128→double cast is not correctly rounded above
    //     2^53 (Spark's BigDecimal path is), so exact integer sums
    //     re-enter double space as double(s div 2^40)·2^40 +
    //     double(s mod 2^40): both terms exactly representable, one
    //     IEEE add — the correctly-rounded double of s in both
    //     engines (any div/mod sign convention, since the true sum is
    //     s either way). Valid for |s| < 2^93.
    val T = 1099511627776L // 2^40
    def i2d(x: String) =
      s"(CAST($x div $T AS DOUBLE) * $T.0 + CAST($x % $T AS DOUBLE))"
    val dims = embeddings.select(col("vec_id"),
      posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("vec_id"), col("dim"),
        expr("CAST(floor(CAST(xf AS DOUBLE) * 1e7 + 0.5) AS BIGINT)")
          .as("x10"))
    val muExpr = s"${i2d("sx10")} / 1e7 / cn"
    val stats = dims.groupBy(col("dim"))
      .agg(sum(col("x10")).as("sx10"),
        expr("sum(CAST(x10 AS DECIMAL(19,0)) * CAST(x10 AS DECIMAL(19,0)))")
          .as("sxx10"),
        count(lit(1)).cast("double").as("cn"))
      .select(col("dim"),
        expr(muExpr).as("mu"),
        expr(s"""sqrt(greatest(${i2d("sxx10")} / 1e14 / cn
          | - ($muExpr) * ($muExpr), 0.0))""".stripMargin).as("sd"))
    dims.join(broadcast(stats), Seq("dim"))
      .select(col("vec_id"), expr(
        """CASE WHEN sd = 0.0 THEN CAST(0 AS BIGINT)
          | ELSE CAST(floor((CAST(x10 AS DOUBLE) / 1e7 - mu) / sd * 1e10
          |   + 0.5) AS BIGINT) END""".stripMargin).as("k"))
      .groupBy(col("vec_id"))
      .agg(expr("min(CAST(k AS DOUBLE) / 1e10)").as("z_min"),
        expr("max(CAST(k AS DOUBLE) / 1e10)").as("z_max"),
        expr("CAST(sum(k) AS DOUBLE) / 1e10").as("z_sum"),
        expr(s"""sqrt(${i2d(
            "sum(CAST(k AS DECIMAL(19,0)) * CAST(k AS DECIMAL(19,0)))")}
          | / 1e20)""".stripMargin).as("z_norm"))
      .orderBy("vec_id")
  }

  def embeddingStandardizeSql(): String = {
    val T = 1099511627776L // 2^40
    def i2d(x: String) =
      s"(CAST(CAST($x AS HUGEINT) // $T AS DOUBLE) * $T.0" +
        s" + CAST(CAST($x AS HUGEINT) % $T AS DOUBLE))"
    val mu = s"${i2d("sx10")} / 1e7 / cn"
    s"""WITH dims AS (
      |  SELECT vec_id, i - 1 AS dim,
      |    CAST(floor(CAST(e[i] AS DOUBLE) * 1e7 + 0.5) AS BIGINT) AS x10
      |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      |        FROM embeddings),
      |    LATERAL unnest(range(1, len(e) + 1)) AS t (i)),
      |stats AS (
      |  SELECT dim,
      |    $mu AS mu,
      |    sqrt(greatest(${i2d("sxx10")} / 1e14 / cn
      |      - ($mu) * ($mu), 0.0)) AS sd
      |  FROM (
      |    SELECT dim, sum(x10) AS sx10,
      |      sum(CAST(x10 AS DECIMAL(19,0)) * CAST(x10 AS DECIMAL(19,0)))
      |        AS sxx10,
      |      count(*)::DOUBLE AS cn
      |    FROM dims GROUP BY 1)),
      |kz AS (
      |  SELECT vec_id,
      |    CASE WHEN sd = 0.0 THEN CAST(0 AS BIGINT)
      |      ELSE CAST(floor((CAST(x10 AS DOUBLE) / 1e7 - mu) / sd * 1e10
      |        + 0.5) AS BIGINT) END AS k
      |  FROM dims JOIN stats USING (dim))
      |SELECT vec_id,
      |  min(CAST(k AS DOUBLE) / 1e10) AS z_min,
      |  max(CAST(k AS DOUBLE) / 1e10) AS z_max,
      |  CAST(sum(k) AS DOUBLE) / 1e10 AS z_sum,
      |  sqrt(${i2d(
           "sum(CAST(k AS DECIMAL(19,0)) * CAST(k AS DECIMAL(19,0)))")}
      |    / 1e20) AS z_norm
      |FROM kz GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  /** Embedding-cosine near-dup pairs above `threshold` — id-only output
    * (no float in the hash-compared result). EXACT, so the pairwise
    * compute is intrinsically O(n²) — what's engineered here is the
    * PLAN: instead of a BroadcastNestedLoopJoin on `id_a < id_b` (one
    * driver-broadcast copy of the whole table, undistributable), rows
    * are hashed into `nBlocks` blocks and each unordered BLOCK PAIR
    * (i ≤ j) becomes one equi-join key: both sides replicate to the
    * block pairs they participate in (a broadcast of the tiny
    * B(B+1)/2-row pair spine), then ONE shuffled equi-join on `pid`
    * scores members with a single codegen'd dot product per pair.
    * Replication factor is B per side and every task holds 2/B-th of
    * the data — at 100 TB you raise B so a task fits an executor, and
    * the work spreads over B(B+1)/2 independent tasks instead of one
    * nested loop. [[embeddingNearDupLsh]] is the sub-quadratic
    * approximate path for the same predicate.
    *
    * Pair uniqueness: a pair with distinct blocks (h < k) appears
    * exactly once (h-side row as a, k-side as b); a same-block pair
    * appears in the diagonal pid both ways, kept once by `id_a <
    * id_b`. Off-diagonal ids are canonicalized with least/greatest. */
  def embeddingNearDup(embeddings: DataFrame, threshold: Double = 0.44,
      nBlocks: Int = 8): DataFrame =
    blockPairs(embeddings, nBlocks)
      .where((expr("vec_dot(emb_a, emb_b)") / (col("norm_a") * col("norm_b")))
        >= threshold)
      .select(least(col("vec_id_a"), col("vec_id_b")).as("vec_id_a"),
        greatest(col("vec_id_a"), col("vec_id_b")).as("vec_id_b"))
      .orderBy("vec_id_a", "vec_id_b")

  /** Every unordered pair of distinct vectors, exactly once, as the
    * block-pair EQUI-join described on [[embeddingNearDup]] — columns
    * `(vec_id_a, emb_a, norm_a, vec_id_b, emb_b, norm_b)` (plus the
    * block bookkeeping). Shared by the exact near-dup predicate and the
    * pairwise-distribution diagnostics. */
  private def blockPairs(embeddings: DataFrame, nBlocks: Int): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val pairSpine = (for { i <- 0 until nBlocks; j <- i until nBlocks }
      yield (i * nBlocks + j, i, j)).toDF("pid", "blk_lo", "blk_hi")
    def side(suffix: String, blkCol: String): DataFrame =
      withNorm(embeddings, s"vec_id_$suffix", s"emb_$suffix", s"norm_$suffix")
        .withColumn(s"blk_$suffix",
          pmod(hash(col(s"vec_id_$suffix")), lit(nBlocks)))
        .join(broadcast(pairSpine.select(col("pid"),
          col(blkCol).as(s"spine_$suffix"))),
          col(s"blk_$suffix") === col(s"spine_$suffix"))
    val a = side("a", "blk_lo")
    val b = side("b", "blk_hi").withColumnRenamed("pid", "pid_b")
    a.join(b, col("pid") === col("pid_b"))
      .where(col("vec_id_a") =!= col("vec_id_b") &&
        // diagonal block pair sees both orderings — keep one
        (col("blk_a") =!= col("blk_b") || col("vec_id_a") < col("vec_id_b")))
  }

  /** Pairwise cosine-similarity histogram over a deterministic sample
    * (`vec_id % sampleMod == 0`) — the distribution diagnostic that
    * CALIBRATES a near-dup threshold: on a healthy corpus it is bimodal
    * (background mass near 0, a dup spike near 1), and the valley is
    * where [[embeddingNearDup]]'s threshold belongs. Sampling makes the
    * quadratic pair count a driver-chosen constant (sample m of n →
    * m²/2 pairs regardless of corpus size) and the block-pair equi-join
    * keeps the plan distributable, so the diagnostic stays runnable at
    * any scale. Bins are [-1, 1] split `nBins` ways; empty bins are
    * omitted.
    *
    * The cosine is quantized through DECIMAL(18,9) before binning (the
    * repo's float-edge convention — both engines then floor the same
    * double, so a last-ulp divergence at a bin boundary cannot flip
    * bins), and the bin is clamped on BOTH ends: float error can push
    * a cosine a hair outside [-1, 1], and an unclamped low end would
    * mint a nonsense bin = -1 row. */
  def cosineSimHistogram(embeddings: DataFrame, sampleMod: Int = 7,
      nBins: Int = 20, nBlocks: Int = 4): DataFrame = {
    val sampled = embeddings.where(col("vec_id") % sampleMod === 0)
    blockPairs(sampled, nBlocks)
      .select(expr(
        """CAST(CAST(vec_dot(emb_a, emb_b) / (norm_a * norm_b)
          |AS DECIMAL(18,9)) AS DOUBLE)""".stripMargin).as("cos"))
      .select(greatest(lit(0L),
        least(floor((col("cos") + 1.0) / 2.0 * nBins), lit(nBins - 1L)))
        .cast("bigint").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n_pairs"))
      .select(col("bin"),
        (lit(-1.0) + col("bin") * (2.0 / nBins)).as("sim_lo"),
        (lit(-1.0) + (col("bin") + 1) * (2.0 / nBins)).as("sim_hi"),
        col("n_pairs"))
      .orderBy("bin")
  }

  def cosineSimHistogramSql(sampleMod: Int = 7, nBins: Int = 20): String =
    s"""WITH s AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |  FROM embeddings WHERE vec_id % $sampleMod = 0),
       |bins AS (
       |  SELECT CAST(greatest(0, least(floor((CAST(CAST(
       |      list_cosine_similarity(a.emb, b.emb)
       |    AS DECIMAL(18,9)) AS DOUBLE) + 1) / 2 * $nBins), $nBins - 1))
       |    AS BIGINT) AS bin
       |  FROM s a JOIN s b ON a.vec_id < b.vec_id)
       |SELECT bin, -1 + bin * (2.0 / $nBins) AS sim_lo,
       |  -1 + (bin + 1) * (2.0 / $nBins) AS sim_hi,
       |  count(*) AS n_pairs
       |FROM bins GROUP BY 1 ORDER BY 1""".stripMargin

  /** Sub-quadratic near-dup twin: candidates = pairs sharing any LSH
    * table bucket ([[lshKeys]] — an EQUI-join on (table, bucket)),
    * verified by exact cosine. Precision is exact (every emitted pair
    * truly clears the threshold: output ⊆ [[embeddingNearDup]]);
    * recall < 1 by construction (a pair split by every table's
    * hyperplanes is lost), which is WHY this is a rows-only query with
    * a recall bound in SimilaritySpec rather than an oracle row — no
    * hyperplane count makes bucketing exact. At 100 TB the bucket join
    * touches only co-bucketed pairs: linear-ish in the collision
    * count, the standard production trade. */
  def embeddingNearDupLsh(embeddings: DataFrame, threshold: Double = 0.44,
      nBits: Int = 6, nTables: Int = 4): DataFrame = {
    val keyed = lshKeys(embeddings, nBits, nTables)
    val a = keyed.select(col("vec_id").as("vec_id_a"),
      col("embedding").as("emb_a"), col("table_id").as("t_a"),
      col("bucket").as("b_a"))
    val b = keyed.select(col("vec_id").as("vec_id_b"),
      col("embedding").as("emb_b"), col("table_id").as("t_b"),
      col("bucket").as("b_b"))
    a.join(b, col("t_a") === col("t_b") && col("b_a") === col("b_b") &&
        col("vec_id_a") < col("vec_id_b"))
      // a pair colliding in several tables is one candidate
      .dropDuplicates("vec_id_a", "vec_id_b")
      .where((expr("vec_dot(emb_a, emb_b)") /
        (expr("sqrt(vec_dot(emb_a, emb_a))") *
          expr("sqrt(vec_dot(emb_b, emb_b))"))) >= threshold)
      .select("vec_id_a", "vec_id_b")
      .orderBy("vec_id_a", "vec_id_b")
  }

  def embeddingNearDupSql(threshold: Double = 0.44): String =
    s"""SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
       |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
       |  CAST(b.embedding AS DOUBLE[])) >= $threshold
       |ORDER BY 1, 2""".stripMargin

  /** SemDeDup-style SEMANTIC deduplication (Abbas et al.,
    * arXiv 2303.09540): vectors whose embeddings are near-identical
    * (cosine ≥ threshold) form connected components and every member
    * except the smallest id is marked duplicate — the embedding-space
    * twin of [[graft.operators.Dedup.dedupClusters]] (lexical n-gram
    * clusters), catching paraphrases and re-encodings that share no
    * shingles. Pair generation is [[embeddingNearDup]]'s exact
    * block-pair equi-join; components use
    * [[graft.operators.Dedup.connectedComponents]]'s budgeted label
    * propagation. At 100 TB the pair stage swaps for
    * [[embeddingNearDupLsh]] candidates — identical downstream shape.
    * Output: (vec_id, cluster_id, is_dup) — keep `is_dup = 0`. */
  def semanticDedup(embeddings: DataFrame, threshold: Double = 0.44,
      nBlocks: Int = 8): DataFrame = {
    val pairs = embeddingNearDup(embeddings, threshold, nBlocks)
    val comp = graft.operators.Dedup.connectedComponents(
      pairs, "vec_id_a", "vec_id_b")
    embeddings.select(col("vec_id"))
      .join(comp, col("vec_id") === col("id"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("cluster_id"))
      .withColumn("is_dup",
        (col("vec_id") =!= col("cluster_id")).cast("bigint"))
      .orderBy("vec_id")
  }

  /** DuckDB oracle for [[semanticDedup]]: transitive closure via
    * recursive CTE over the same exact-cosine pair predicate. */
  def semanticDedupSql(threshold: Double = 0.44): String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
       |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
       |    CAST(b.embedding AS DOUBLE[])) >= $threshold),
       |edges AS (
       |  SELECT vec_id_a AS src, vec_id_b AS dst FROM pairs
       |  UNION SELECT vec_id_b, vec_id_a FROM pairs),
       |reach AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |lbl AS (
       |  SELECT src AS id, least(src, min(dst)) AS component
       |  FROM reach GROUP BY src)
       |SELECT e.vec_id,
       |  coalesce(l.component, e.vec_id) AS cluster_id,
       |  CAST(e.vec_id <> coalesce(l.component, e.vec_id) AS BIGINT) AS is_dup
       |FROM embeddings e LEFT JOIN lbl l ON e.vec_id = l.id
       |ORDER BY e.vec_id""".stripMargin

  /** Deterministic ±1 hyperplane (table t, bit j) via a splitmix64-style
    * mix — generated driver-side as a literal array so the projection is
    * a single codegen'd `vec_dot`. */
  private def hyperplane(t: Int, j: Int, dim: Int): Array[Float] =
    Array.tabulate(dim) { i =>
      var z = t.toLong * 0x9E3779B97F4A7C15L + j.toLong * 0xC2B2AE3D27D4EB4FL +
        i.toLong + 0x165667B19E3779F9L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= z >>> 31
      if ((z & 1L) == 0L) -1f else 1f
    }

  /** Multi-table random-hyperplane LSH keys: `nTables` independent
    * signatures of `nBits` bits each; bit j of table t = sign of
    * <v, h_{t,j}>. A vector emits one (table_id, bucket) row per table;
    * vectors sharing any table's bucket are ANN candidates — multiple
    * tables trade compute for recall exactly like a production IVF/LSH
    * index. */
  def lshKeys(embeddings: DataFrame, nBits: Int = 6, nTables: Int = 4,
      dim: Int = 64): DataFrame = {
    graft.functions.Registry.ensure(embeddings.sparkSession)
    val tableCols = (0 until nTables).map { t =>
      val bits: Column = (0 until nBits).map { j =>
        val h = typedLit(hyperplane(t, j, dim))
        when(call_function("vec_dot", col("embedding"), h) >= 0,
          lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(t).as("table_id"), bits.as("bucket"))
    }
    embeddings.select(col("vec_id"), col("embedding"),
      explode(array(tableCols: _*)).as("tb"))
      .select(col("vec_id"), col("embedding"),
        col("tb.table_id").as("table_id"), col("tb.bucket").as("bucket"))
  }

  /** Shared ANN tail: rank scored (query, neighbor, cos_sim) rows and
    * keep the top k per query. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("cos_sim").desc, col("neighbor_id"))))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .orderBy("query_id", "rank")

  /** Deterministic ±1 "centroid" for IVF list `c` (same splitmix mix as
    * [[hyperplane]], different stream). All centroids share norm
    * sqrt(dim), so argmax dot == argmax cosine — assignment needs no
    * per-row normalization. A production pipeline would train these
    * with k-means over a sample; deterministic literals keep the test
    * reproducible while the plan shape (assign → bucket → probe) is
    * identical. */
  private def centroid(c: Int, dim: Int): Array[Float] =
    hyperplane(c + 7919, c, dim)

  /** IVF cluster assignment: argmax over `nList` codegen'd dot products
    * per row — no shuffle; at scale the output would be written
    * partitioned/bucketed by `cluster_id` so probes prune storage. */
  def ivfAssign(embeddings: DataFrame, nList: Int = 16,
      dim: Int = 64): DataFrame =
    withScores(embeddings, nList, dim)
      .select(col("vec_id"), col("embedding"),
        (expr("array_position(cent_scores, array_max(cent_scores))")
          .cast("int") - 1).as("cluster_id"))

  private def withScores(embeddings: DataFrame, nList: Int, dim: Int): DataFrame = {
    graft.functions.Registry.ensure(embeddings.sparkSession)
    embeddings.withColumn("cent_scores",
      array((0 until nList).map { c =>
        call_function("vec_dot", col("embedding"), typedLit(centroid(c, dim)))
      }: _*))
  }

  /** Cluster assignment against caller-supplied centroids (spherical:
    * argmax cosine — dot normalized by the centroid norm only, since
    * the row's own norm doesn't change its argmax). One scan, k
    * codegen'd dot products per row, no shuffle. */
  def assignWith(embeddings: DataFrame, cents: Array[Array[Float]],
      l2: Boolean = false): DataFrame = {
    graft.functions.Registry.ensure(embeddings.sparkSession)
    // two assignment geometries, one argmax shape:
    //  - spherical (default): argmax cosine = dot / ||c|| — IVF's
    //    convention (the row's own norm can't change its argmax);
    //  - l2: argmin ||x−c||² = argmax (dot − ||c||²/2) — what PQ needs,
    //    where the centroid RECONSTRUCTS the subvector and trained
    //    centroids have unequal norms (coding by raw dot there biases
    //    toward long centroids; measured as an IVF-PQ recall drop).
    val scores = array(cents.map { c =>
      val sq = c.map(x => x.toDouble * x).sum
      val dot = call_function("vec_dot", col("embedding"), typedLit(c))
      if (l2) dot - lit(sq / 2.0) else dot / lit(math.sqrt(sq))
    }: _*)
    embeddings
      .withColumn("cent_scores", scores)
      .select(col("vec_id"), col("embedding"),
        (expr("array_position(cent_scores, array_max(cent_scores))")
          .cast("int") - 1).as("cluster_id"))
  }

  /** Spherical k-means (Lloyd) training for IVF centroids — the step
    * [[centroid]]'s deterministic literals stand in for. Per
    * iteration: broadcast k×dim centroid literals into the assignment
    * scan (no shuffle), then ONE aggregation whose per-group state is a
    * double[dim] + count ([[graft.functions.VecSumAgg vec_sum]] — the
    * shuffle carries k·dim doubles total, input-scale-independent), and
    * a k-row collect to the driver (bounded by k, never by data).
    * Empty clusters keep their previous centroid. Deterministic:
    * splitmix init + exact integer-count division order. At 100 TB one
    * trains on a sample (`mixtureSample`/`hashSplit` provide
    * deterministic ones) — the loop is already sample-agnostic. */
  def kmeansFit(embeddings: DataFrame, k: Int = 16, iters: Int = 5,
      dim: Int = 64): Array[Array[Float]] = {
    graft.functions.Registry.ensure(embeddings.sparkSession)
    var cents = Array.tabulate(k)(c => centroid(c, dim))
    // iterative algorithm: cache the training set once, not one source
    // re-read per Lloyd iteration; released before returning
    val cached =
      if (iters > 1)
        embeddings.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else embeddings
    try {
      kmeansIterate(cached, cents, k, iters)
    } finally if (iters > 1) { cached.unpersist(); () }
  }

  private def kmeansIterate(embeddings: DataFrame,
      init: Array[Array[Float]], k: Int, iters: Int,
      l2: Boolean = false): Array[Array[Float]] = {
    var cents = init
    var it = 0
    while (it < iters) {
      val sums = assignWith(embeddings, cents, l2)
        .groupBy(col("cluster_id"))
        .agg(expr("vec_sum(embedding)").as("s"))
        .select(col("cluster_id"), col("s.sum").as("sum"), col("s.n").as("n"))
        .collect()
      val next = cents.map(_.clone())
      sums.foreach { r =>
        val cid = r.getInt(0)
        val s = r.getSeq[Double](1)
        val n = r.getLong(2)
        if (n > 0L) next(cid) = s.map(x => (x / n).toFloat).toArray
      }
      cents = next
      it += 1
    }
    cents
  }

  /** Mean cosine distance (1 − best cosine) of every vector to its
    * nearest centroid — the spherical-k-means objective; Lloyd
    * iterations never increase it (up to FP noise). One scan + a
    * scalar aggregate. */
  def inertia(embeddings: DataFrame, cents: Array[Array[Float]]): Double = {
    graft.functions.Registry.ensure(embeddings.sparkSession)
    val best = array(cents.map { c =>
      val norm = math.sqrt(c.map(x => x.toDouble * x).sum)
      call_function("vec_dot", col("embedding"), typedLit(c)) /
        (lit(norm) * expr("sqrt(vec_dot(embedding, embedding))"))
    }: _*)
    embeddings
      .select((lit(1.0) - array_max(best)).as("d"))
      .agg(avg(col("d")))
      .head().getDouble(0)
  }

  /** ANN top-k via IVF: vectors are assigned to their nearest centroid
    * list; each query probes its `nProbe` closest lists and re-ranks
    * only their members exactly. At 100 TB the lists are storage
    * partitions, so a probe is a partition-pruned scan instead of a
    * full pass. The probe join is an EQUI-join: each query explodes
    * into its nProbe (query, cluster_id) probe rows, which hash-join
    * the assigned collection on `cluster_id` — no nested-loop
    * `array_contains` scan, and at scale the same key drives partition
    * pruning. Approximate (a true neighbor living outside every
    * probed list is lost) — rows-only query, recall measured against
    * [[knnBruteForce]] in tests and reported by [[knnIvfRecall]]. */
  def knnIvf(embeddings: DataFrame, k: Int = 10, queryMod: Int = 100,
      nList: Int = 16, nProbe: Int = 4, dim: Int = 64): DataFrame = {
    val assigned = ivfAssign(embeddings, nList, dim)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probes = probeRows(withScores(
      embeddings.where(pmod(col("vec_id"), lit(queryMod)) === 0),
      nList, dim), nProbe)
    ivfProbeJoin(assigned, probes, k)
  }

  /** [[knnIvf]] with centroids TRAINED on the collection by
    * [[kmeansFit]] instead of the deterministic stand-ins — the full
    * production path (train → assign → probe). On clustered data the
    * trained lists align with the true structure and recall rises at
    * the same nProbe; still rows-only (approximate), recall reported
    * by the trained recall test in `SimilaritySpec`. */
  def knnIvfTrained(embeddings: DataFrame, k: Int = 10, queryMod: Int = 100,
      nList: Int = 16, nProbe: Int = 4, iters: Int = 5): DataFrame =
    centsProbePath(embeddings, kmeansFit(embeddings, nList, iters),
      k, queryMod, nProbe)

  /** The trained path's post-training body (assign against arbitrary
    * centroids → norm-scored probes → equi-join probe): shared by
    * [[knnIvfTrained]] and its pinned twin so the oracle exercises the
    * EXACT production scoring/probing code, only the centroid source
    * differs. */
  private def centsProbePath(embeddings: DataFrame,
      cents: Array[Array[Float]], k: Int, queryMod: Int,
      nProbe: Int): DataFrame = {
    val assigned = assignWith(embeddings, cents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val scores = array(cents.map { c =>
      val norm = math.sqrt(c.map(x => x.toDouble * x).sum)
      call_function("vec_dot", col("embedding"), typedLit(c)) / lit(norm)
    }: _*)
    val probes = probeRows(
      embeddings.where(pmod(col("vec_id"), lit(queryMod)) === 0)
        .withColumn("cent_scores", scores), nProbe)
    ivfProbeJoin(assigned, probes, k)
  }

  /** Deterministic pinned centroid for the trained-path twin: entries
    * in {±1, ±2} from two splitmix bits (a different stream from
    * [[centroid]]'s ±1 stand-ins), so per-centroid NORMS DIFFER and
    * [[assignWith]]'s `dot / ||c||` spherical normalization — the
    * behavior that distinguishes the trained path from [[ivfAssign]]'s
    * equal-norm argmax — is actually exercised, not canceled out. */
  private[graft] def pinnedCentroid(c: Int, dim: Int): Array[Float] =
    Array.tabulate(dim) { i =>
      var z = (c.toLong + 104729L) * 0x9E3779B97F4A7C15L +
        i.toLong * 0xC2B2AE3D27D4EB4FL + 0x165667B19E3779F9L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= z >>> 31
      val sign = if ((z & 1L) == 0L) -1f else 1f
      if ((z & 2L) == 0L) sign else sign * 2f
    }

  /** [[knnIvfTrained]]'s PINNED-centroid twin (the
    * [[embeddingClustersPinned]] discipline, round-11 verdict ask):
    * the identical production path — [[assignWith]] spherical argmax,
    * norm-divided probe scores, [[ivfProbeJoin]] — with [[kmeansFit]]
    * replaced by [[pinnedCentroid]] literals, making every step
    * replayable arithmetic with a hash-exact DuckDB oracle; the
    * trained face keeps measuring real k-means as data
    * (recall-floored in `ContractSpec`). */
  def knnIvfTrainedPinned(embeddings: DataFrame, k: Int = 10,
      queryMod: Int = 100, nList: Int = 16, nProbe: Int = 4,
      dim: Int = 64): DataFrame =
    centsProbePath(embeddings,
      Array.tabulate(nList)(c => pinnedCentroid(c, dim)), k, queryMod,
      nProbe)

  /** Corpus clustering as a first-class output: train spherical
    * k-means ([[kmeansFit]] — per Lloyd iteration one scan + one
    * k·dim-wide aggregate, driver traffic bounded by k), assign every
    * vector, and summarize each cluster with its size and majority
    * `label` (the embeddings table carries a generator label, so
    * cluster↔label purity is the natural human-readable face —
    * the same summary a cluster-balanced mixture sampler consumes).
    * K-means output is not SQL-expressible → rows-only by the twin
    * convention; determinism + partition invariants in
    * `SimilaritySpec`. Output: (cluster_id, n_vectors, top_label,
    * top_label_n). */
  def embeddingClusters(embeddings: DataFrame, k: Int = 16,
      iters: Int = 5, dim: Int = 64): DataFrame = {
    val cents = kmeansFit(embeddings.select(col("vec_id"), col("embedding")),
      k, iters, dim)
    val assigned = assignWith(embeddings, cents)
      .select(col("vec_id"), col("cluster_id"))
      .join(embeddings.select(col("vec_id"), col("label")), Seq("vec_id"))
    clusterSummary(assigned)
  }

  /** Shared (cluster_id, n_vectors, top_label, top_label_n) rollup of
    * an assignment — the per-group top-label pick is a k·|labels|-row
    * window, never row-proportional. */
  private def clusterSummary(assigned: DataFrame): DataFrame = {
    val byLabel = assigned.groupBy(col("cluster_id"), col("label"))
      .agg(count(lit(1)).as("n_label"))
    val top = byLabel.withColumn("rk", row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_id"))
        .orderBy(desc("n_label"), asc("label"))))
      .where(col("rk") === 1)
      .select(col("cluster_id"), col("label").as("top_label"),
        col("n_label").as("top_label_n"))
    byLabel.groupBy("cluster_id").agg(sum(col("n_label")).as("n_vectors"))
      .join(top, Seq("cluster_id"))
      .orderBy("cluster_id")
  }

  /** [[embeddingClusters]] under the catalog's PINNED deterministic
    * centroids (the [[knnPq]] default-codebook precedent, one step
    * further back in the family: [[ivfAssign]]'s ±1 stand-ins) — the
    * assignment is then pure replayable arithmetic, so the whole
    * cluster/label summary carries a hash-exact DuckDB oracle, while
    * the TRAINED face ([[embeddingClusters]]) keeps measuring real
    * k-means as data. Same plan shape as the trained face: one
    * scan-side argmax assignment (zero shuffle), one
    * k·|labels|-bounded rollup. */
  def embeddingClustersPinned(embeddings: DataFrame, nList: Int = 16,
      dim: Int = 64): DataFrame =
    clusterSummary(
      ivfAssign(embeddings.select(col("vec_id"), col("embedding")),
        nList, dim)
        .select(col("vec_id"), col("cluster_id"))
        .join(embeddings.select(col("vec_id"), col("label")), Seq("vec_id")))

  /** DuckDB replay of [[embeddingClustersPinned]]: the [[ivfCtes]]
    * signed-fold assignment (same dots, same lowest-index tie-break)
    * rolled up per cluster. */
  def embeddingClustersPinnedSql(nList: Int = 16, dim: Int = 64): String = {
    val scores = (0 until nList).map { c =>
      s"struct_pack(c := $c, s := ${signedFold(centroid(c, dim))})"
    }.mkString("[", ",\n    ", "]")
    s"""WITH $EmbCte,
       |cs AS (
       |  SELECT vec_id, u.c AS c, u.s AS s FROM (
       |    SELECT vec_id, unnest($scores) AS u FROM emb)),
       |assigned AS (
       |  SELECT vec_id, c AS cluster_id FROM (
       |    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY s DESC, c) AS rk FROM cs) WHERE rk = 1),
       |lab AS (
       |  SELECT a.cluster_id, m.label, count(*)::BIGINT AS n_label
       |  FROM assigned a JOIN embeddings m USING (vec_id)
       |  GROUP BY 1, 2),
       |top AS (
       |  SELECT cluster_id, label AS top_label, n_label AS top_label_n
       |  FROM (SELECT *, row_number() OVER (PARTITION BY cluster_id
       |    ORDER BY n_label DESC, label) AS rk FROM lab) WHERE rk = 1)
       |SELECT l.cluster_id, sum(l.n_label)::BIGINT AS n_vectors,
       |  max(t.top_label) AS top_label,
       |  max(t.top_label_n)::BIGINT AS top_label_n
       |FROM lab l JOIN top t USING (cluster_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Cluster-BALANCED deterministic sampling: `perCluster` vectors
    * from every [[ivfAssign]] pinned cluster, chosen by ascending
    * `md5('cbs:' || vec_id)` — the cluster-diversity sampler a
    * training mixture uses to avoid over-drawing from dense regions
    * (the SemDeDup/DCLM-style "sample across the embedding space"
    * step), composed from two existing engines: the pinned assignment
    * (replayable arithmetic) and the custom bounded-heap
    * [[graft.plans.TopK.topKPerGroup]] physical operator — per-group
    * state is a k-row heap, NEVER a per-cluster sort, so the pick
    * costs one scan + one k-bounded shuffle at any corpus size.
    * Deterministic: the hash order is a pure function of vec_id.
    * Output: (cluster_id, rk, vec_id, label). */
  def clusterBalancedSample(embeddings: DataFrame, perCluster: Int = 8,
      nList: Int = 16, dim: Int = 64): DataFrame = {
    val keyed = ivfAssign(
      embeddings.select(col("vec_id"), col("embedding")), nList, dim)
      .select(col("vec_id"), col("cluster_id"),
        md5(concat(lit("cbs:"), col("vec_id").cast("string"))).as("h"))
    graft.plans.TopK.topKPerGroup(keyed, Seq("cluster_id"),
        Seq("h" -> false, "vec_id" -> false), perCluster, "rk")
      .join(embeddings.select(col("vec_id"), col("label")), Seq("vec_id"))
      .select(col("cluster_id"), col("rk"), col("vec_id"), col("label"))
      .orderBy("cluster_id", "rk")
  }

  /** DuckDB replay of [[clusterBalancedSample]]: the
    * [[embeddingClustersPinnedSql]] assignment CTE + a per-cluster
    * row_number over the same md5 order. */
  def clusterBalancedSampleSql(perCluster: Int = 8, nList: Int = 16,
      dim: Int = 64): String = {
    val scores = (0 until nList).map { c =>
      s"struct_pack(c := $c, s := ${signedFold(centroid(c, dim))})"
    }.mkString("[", ",\n    ", "]")
    s"""WITH $EmbCte,
       |cs AS (
       |  SELECT vec_id, u.c AS c, u.s AS s FROM (
       |    SELECT vec_id, unnest($scores) AS u FROM emb)),
       |assigned AS (
       |  SELECT vec_id, c AS cluster_id FROM (
       |    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY s DESC, c) AS rk FROM cs) WHERE rk = 1),
       |picked AS (
       |  SELECT cluster_id, vec_id,
       |    row_number() OVER (PARTITION BY cluster_id
       |      ORDER BY md5('cbs:' || CAST(vec_id AS VARCHAR)), vec_id)
       |      AS rk
       |  FROM assigned)
       |SELECT p.cluster_id, CAST(p.rk AS INT) AS rk, p.vec_id, m.label
       |FROM picked p JOIN embeddings m USING (vec_id)
       |WHERE p.rk <= $perCluster
       |ORDER BY 1, 2""".stripMargin
  }

  /** One (query_id, q_emb, cluster_id) row per probed list — the
    * nProbe best entries of `cent_scores`. */
  private def probeRows(scored: DataFrame, nProbe: Int): DataFrame =
    scored.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      explode(expr(s"""slice(array_sort(
          |  transform(cent_scores, (s, i) -> struct(-s AS ns, i AS idx))),
          |  1, $nProbe).idx""".stripMargin)).as("cluster_id"))

  /** Shared IVF tail: equi-join the broadcast probes to assigned lists,
    * score exactly, keep top k. */
  private def ivfProbeJoin(assigned: DataFrame, probes: DataFrame,
      k: Int): DataFrame = {
    val candidates = assigned
      .join(broadcast(probes), Seq("cluster_id"))
      .where(col("vec_id") =!= col("query_id"))
    val scored = candidates.select(col("query_id"), col("vec_id").as("neighbor_id"),
      (expr("vec_dot(q_emb, embedding)") /
        (expr("sqrt(vec_dot(q_emb, q_emb))") *
          expr("sqrt(vec_dot(embedding, embedding))"))).as("cos_sim"))
    rankTopK(scored, k)
  }

  /** Recall@k of an approximate ANN result against the exact
    * brute-force baseline, AS A QUERY — so approximate-index quality
    * is a number the driver (and a production job) sees every run, not
    * only a test assertion. One row: method, query/pair counts, hit
    * count, recall (1e-6-quantized; deterministic because both inputs
    * are deterministic). */
  def annRecall(exact: DataFrame, approx: DataFrame,
      method: String): DataFrame = {
    val hits = approx.select(col("query_id"), col("neighbor_id"))
      .withColumn("hit", lit(1))
    exact.select(col("query_id"), col("neighbor_id"))
      .join(hits, Seq("query_id", "neighbor_id"), "left")
      .agg(count_distinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
      .select(lit(method).as("method"), col("n_queries"), col("n_exact"),
        col("n_hit"),
        expr("CAST(CAST(CAST(n_hit AS DOUBLE) / n_exact AS DECIMAL(9,6)) AS DOUBLE)")
          .as("recall_at_k"))
  }

  // ---- DuckDB replays of the DETERMINISTIC ANN faces. The ±1
  // hyperplane/centroid literals make every projection an exactly
  // replayable signed fold: vec_dot accumulates ±(double)x_i left to
  // right, which is DuckDB `list_reduce` over the sign-multiplied
  // elements (the hybrid_search fold precedent). Bucket bits, probe
  // sets, and cluster argmaxes are then pure integer/tie-broken
  // logic, and the final cosine rank is the knn_bruteforce oracle's
  // machinery. The trained variants (kmeans/PQ codebooks) stay
  // rows-only — their models are data-dependent FP state no static
  // SQL can embed.

  private def signedFold(signs: Array[Float]): String =
    // Sign-coerce, then delegate: one fold template to maintain, so the
    // two replays can never drift one-engine-at-a-time.
    weightedFold(signs.map(f => if (f > 0) 1.0f else -1.0f))

  /** [[signedFold]] generalized to small-integer coefficients (the
    * [[pinnedCentroid]] ±1/±2 entries): same left-to-right `vec_dot`
    * association, so the double bits agree cross-engine. */
  private def weightedFold(w: Array[Float]): String = {
    val lst = w.map(f => s"${f.toInt}.0").mkString("[", ",", "]")
    s"list_reduce(list_transform(range(1, ${w.length + 1}), " +
      s"i -> e[i] * ($lst::DOUBLE[])[i]), (a, b) -> a + b)"
  }

  private val EmbCte =
    "emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e " +
      "FROM embeddings)"

  /** The shared exact-cosine rank tail (== [[knnBruteForceSql]]'s). */
  private def rankTailSql(k: Int, out: String, cand: String): String =
    s"""$out AS (
       |  SELECT query_id, neighbor_id, rank FROM (
       |    SELECT c0.query_id, c0.neighbor_id,
       |      row_number() OVER (PARTITION BY c0.query_id
       |        ORDER BY list_cosine_similarity(qe.e, ne.e) DESC,
       |          c0.neighbor_id) AS rank
       |    FROM $cand c0
       |    JOIN emb qe ON qe.vec_id = c0.query_id
       |    JOIN emb ne ON ne.vec_id = c0.neighbor_id)
       |  WHERE rank <= $k)""".stripMargin

  private def lshKeyedCte(nBits: Int, nTables: Int, dim: Int): String = {
    val tbl = (0 until nTables).map { t =>
      val bucket = (0 until nBits).map { j =>
        s"(CASE WHEN ${signedFold(hyperplane(t, j, dim))} >= 0" +
          s" THEN ${1L << j} ELSE 0 END)"
      }.mkString("(", " + ", ")")
      s"struct_pack(table_id := $t, bucket := $bucket)"
    }.mkString("[", ",\n    ", "]")
    s"""keyed AS MATERIALIZED (
       |  SELECT vec_id, u.table_id AS table_id, u.bucket AS bucket FROM (
       |    SELECT vec_id, unnest($tbl) AS u FROM emb))""".stripMargin
  }

  private def lshCtes(k: Int, queryMod: Int, nBits: Int, nTables: Int,
      dim: Int, out: String): String = {
    val probes = (Seq("bucket") ++
      (0 until nBits).map(j => s"xor(bucket, ${1L << j})"))
      .mkString("[", ", ", "]")
    s"""${lshKeyedCte(nBits, nTables, dim)},
       |probes AS (
       |  SELECT query_id, q_table, unnest($probes) AS q_bucket FROM (
       |    SELECT vec_id AS query_id, table_id AS q_table, bucket
       |    FROM keyed WHERE vec_id % $queryMod = 0)),
       |lcand AS (
       |  SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
       |  FROM probes p JOIN keyed c
       |    ON c.table_id = p.q_table AND c.bucket = p.q_bucket
       |   AND c.vec_id <> p.query_id),
       |${rankTailSql(k, out, "lcand")}""".stripMargin
  }

  private def ivfCtes(k: Int, queryMod: Int, nList: Int, nProbe: Int,
      dim: Int, out: String): String = {
    val scores = (0 until nList).map { c =>
      s"struct_pack(c := $c, s := ${signedFold(centroid(c, dim))})"
    }.mkString("[", ",\n    ", "]")
    s"""cs AS MATERIALIZED (
       |  SELECT vec_id, u.c AS c, u.s AS s FROM (
       |    SELECT vec_id, unnest($scores) AS u FROM emb)),
       |assigned AS (
       |  SELECT vec_id, c AS cluster_id FROM (
       |    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY s DESC, c) AS rk FROM cs) WHERE rk = 1),
       |iprobes AS (
       |  SELECT vec_id AS query_id, c AS cluster_id FROM (
       |    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY s DESC, c) AS rk FROM cs
       |    WHERE vec_id % $queryMod = 0) WHERE rk <= $nProbe),
       |icand AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id
       |  FROM iprobes p JOIN assigned a USING (cluster_id)
       |  WHERE a.vec_id <> p.query_id),
       |${rankTailSql(k, out, "icand")}""".stripMargin
  }

  /** [[ivfCtes]] with [[pinnedCentroid]] literals and the TRAINED
    * path's score geometry — `dot / sqrt(||c||²)` (norms differ per
    * pinned centroid, so the division is load-bearing); the sqrt is
    * taken of the same integer in both engines (correctly rounded →
    * identical bits). */
  private def pinnedIvfCtes(k: Int, queryMod: Int, nList: Int,
      nProbe: Int, dim: Int, out: String): String = {
    val scores = (0 until nList).map { c =>
      val w = pinnedCentroid(c, dim)
      val sq = w.map(x => x.toDouble * x).sum.toLong
      s"struct_pack(c := $c, s := (${weightedFold(w)}) / sqrt($sq.0))"
    }.mkString("[", ",\n    ", "]")
    s"""cs AS MATERIALIZED (
       |  SELECT vec_id, u.c AS c, u.s AS s FROM (
       |    SELECT vec_id, unnest($scores) AS u FROM emb)),
       |assigned AS (
       |  SELECT vec_id, c AS cluster_id FROM (
       |    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY s DESC, c) AS rk FROM cs) WHERE rk = 1),
       |iprobes AS (
       |  SELECT vec_id AS query_id, c AS cluster_id FROM (
       |    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY s DESC, c) AS rk FROM cs
       |    WHERE vec_id % $queryMod = 0) WHERE rk <= $nProbe),
       |icand AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id
       |  FROM iprobes p JOIN assigned a USING (cluster_id)
       |  WHERE a.vec_id <> p.query_id),
       |${rankTailSql(k, out, "icand")}""".stripMargin
  }

  private def bfCte(k: Int, queryMod: Int, out: String): String =
    s"""$out AS (
       |  SELECT query_id, neighbor_id, rank FROM (
       |    SELECT q.query_id, e2.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY list_cosine_similarity(q.e, e2.e) DESC,
       |          e2.vec_id) AS rank
       |    FROM (SELECT vec_id AS query_id, e FROM emb
       |          WHERE vec_id % $queryMod = 0) q
       |    CROSS JOIN emb e2 WHERE e2.vec_id <> q.query_id)
       |  WHERE rank <= $k)""".stripMargin

  private def recallTailSql(method: String, exact: String,
      approx: String): String =
    s"""SELECT CAST('$method' AS VARCHAR) AS method,
       |  count(DISTINCT x.query_id)::BIGINT AS n_queries,
       |  count(*)::BIGINT AS n_exact,
       |  CAST(sum(CASE WHEN a.query_id IS NULL THEN 0 ELSE 1 END)
       |    AS BIGINT) AS n_hit,
       |  CAST(CAST(CAST(sum(CASE WHEN a.query_id IS NULL THEN 0 ELSE 1 END)
       |      AS DOUBLE) / count(*) AS DECIMAL(9,6)) AS DOUBLE)
       |    AS recall_at_k
       |FROM $exact x LEFT JOIN $approx a
       |  ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id"""
      .stripMargin

  /** DuckDB replay of [[embeddingNearDupLsh]]: the same keyed-bucket
    * table, candidate pairs colliding in ≥1 table, and the exact
    * cosine filter the all-pairs [[embeddingNearDupSql]] oracle
    * already proves cross-engine-stable on this threshold. */
  def embeddingNearDupLshSql(threshold: Double = 0.44, nBits: Int = 6,
      nTables: Int = 4, dim: Int = 64): String =
    s"""WITH $EmbCte,
       |${lshKeyedCte(nBits, nTables, dim)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
       |  FROM keyed a JOIN keyed b
       |    ON a.table_id = b.table_id AND a.bucket = b.bucket
       |   AND a.vec_id < b.vec_id)
       |SELECT vec_id_a, vec_id_b FROM cand
       |JOIN emb ea ON ea.vec_id = vec_id_a
       |JOIN emb eb ON eb.vec_id = vec_id_b
       |WHERE list_cosine_similarity(ea.e, eb.e) >= $threshold
       |ORDER BY 1, 2""".stripMargin

  /** CTEs replaying the PQ default-codebook path: `uvec` is the
    * unit-normalized vector with the same FLOAT rounding Spark's
    * `CAST(x / norm AS FLOAT)` applies (both engines' float casts are
    * correctly rounded, so the bits agree); `pqc` codes every vector
    * by the same L2 argmax (±1 centroids ⇒ the score is a signed fold
    * minus subDim/2); `qt` is each query's flat ADC table; `adc`
    * replays `adcScore`'s j-ascending lookup fold via `list_reduce`.
    * Output CTE `short`: the top k·rerank ADC shortlist. */
  private def pqCtes(k: Int, queryMod: Int, m: Int, ksub: Int, dim: Int,
      rerank: Int,
      adcFrom: String = "FROM qt q JOIN pqc n ON n.vec_id <> q.query_id")
      : String = {
    val subDim = dim / m
    val books = Array.tabulate(m)(j => pqCodebook(j, ksub, subDim))
    def signedSum(j: Int, signs: Array[Float]): String =
      signs.zipWithIndex.map { case (s, i) =>
        val idx = j * subDim + i + 1
        if (s > 0) s"u[$idx]" else s"(-u[$idx])"
      }.mkString(" + ")
    val codeStructs = (0 until m).flatMap { j =>
      books(j).zipWithIndex.map { case (cent, c) =>
        s"struct_pack(j := $j, c := $c, s := " +
          s"(${signedSum(j, cent)}) - ${subDim / 2.0})"
      }
    }.mkString("[", ",\n      ", "]")
    val tblExprs = (0 until m).flatMap { j =>
      books(j).map(cent => s"(${signedSum(j, cent)})")
    }.mkString("[", ",\n      ", "]")
    val normFold = "list_reduce(list_transform(range(1, " + (dim + 1) +
      "), i -> e[i] * e[i]), (a, b) -> a + b)"
    s"""un AS (SELECT vec_id, e, sqrt($normFold) AS nrm FROM emb),
       |uvec AS MATERIALIZED (
       |  SELECT vec_id, list_transform(range(1, ${dim + 1}),
       |    i -> CAST(CAST(e[i] / nrm AS REAL) AS DOUBLE)) AS u
       |  FROM un),
       |pq0 AS (SELECT vec_id, u2.j AS j, u2.c AS c, u2.s AS s FROM (
       |    SELECT vec_id, unnest($codeStructs) AS u2 FROM uvec)),
       |pqc AS MATERIALIZED (
       |  SELECT vec_id, list(c ORDER BY j) AS codes FROM (
       |    SELECT vec_id, j, c FROM (
       |      SELECT vec_id, j, c, row_number() OVER (
       |        PARTITION BY vec_id, j ORDER BY s DESC, c) AS rk FROM pq0)
       |    WHERE rk = 1) GROUP BY vec_id),
       |qt AS MATERIALIZED (
       |  SELECT vec_id AS query_id, $tblExprs AS tbl
       |  FROM uvec WHERE vec_id % $queryMod = 0),
       |adc AS (SELECT q.query_id, n.vec_id AS neighbor_id,
       |    list_reduce(list_transform(range(0, $m),
       |      j -> q.tbl[j * $ksub + n.codes[j + 1] + 1]),
       |      (a, b) -> a + b) AS score
       |  $adcFrom),
       |short AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rk
       |    FROM adc) WHERE rk <= ${k * rerank})""".stripMargin
  }

  def knnPqSql(k: Int = 10, queryMod: Int = 100, m: Int = 16,
      ksub: Int = 16, dim: Int = 64, rerank: Int = 8): String =
    s"""WITH $EmbCte,
       |${pqCtes(k, queryMod, m, ksub, dim, rerank)},
       |${rankTailSql(k, "res", "short")}
       |SELECT query_id, neighbor_id, rank FROM res
       |ORDER BY query_id, rank""".stripMargin

  /** The IVF-PQ shortlist CTE chain (stand-in coarse assignment →
    * list-pruned ADC scan → k·rerank shortlist), shared VERBATIM by
    * [[knnIvfPqSql]] and [[knnIvfPqRecallPinnedSql]] (the
    * [[mrlShortlistCtes]] discipline). Expects `emb`; leaves `short`. */
  private def ivfPqShortlistCtes(k: Int, queryMod: Int, nList: Int,
      nProbe: Int, m: Int, ksub: Int, dim: Int, rerank: Int): String = {
    val scores = (0 until nList).map { c =>
      s"struct_pack(c := $c, s := ${signedFold(centroid(c, dim))})"
    }.mkString("[", ",\n    ", "]")
    s"""cs AS MATERIALIZED (
       |  SELECT vec_id, u.c AS c, u.s AS s FROM (
       |    SELECT vec_id, unnest($scores) AS u FROM emb)),
       |assigned AS (
       |  SELECT vec_id, c AS cluster_id FROM (
       |    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY s DESC, c) AS rk FROM cs) WHERE rk = 1),
       |iprobes AS (
       |  SELECT vec_id AS query_id, c AS cluster_id FROM (
       |    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY s DESC, c) AS rk FROM cs
       |    WHERE vec_id % $queryMod = 0) WHERE rk <= $nProbe),
       |${pqCtes(k, queryMod, m, ksub, dim, rerank,
          adcFrom = "FROM qt q " +
            "JOIN iprobes p ON p.query_id = q.query_id " +
            "JOIN assigned a ON a.cluster_id = p.cluster_id " +
            "JOIN pqc n ON n.vec_id = a.vec_id AND n.vec_id <> q.query_id")}"""
      .stripMargin
  }

  /** [[knnIvfPq]] with the deterministic stand-in coarse centroids and
    * default codebooks (the quick catalog face): the [[ivfCtes]]-style
    * assignment prunes the [[pqCtes]] ADC scan to probed lists. */
  def knnIvfPqSql(k: Int = 10, queryMod: Int = 100, nList: Int = 16,
      nProbe: Int = 4, m: Int = 16, ksub: Int = 16, dim: Int = 64,
      rerank: Int = 8): String =
    s"""WITH $EmbCte,
       |${ivfPqShortlistCtes(k, queryMod, nList, nProbe, m, ksub, dim, rerank)},
       |${rankTailSql(k, "res", "short")}
       |SELECT query_id, neighbor_id, rank FROM res
       |ORDER BY query_id, rank""".stripMargin

  /** CTEs replaying [[knnBruteForceInt8]]: the quantizer is explicit
    * SQL arithmetic (`floor(x/scale + 0.5)` with clamps — identical
    * IEEE ops in both engines), and every downstream value is EXACT
    * integer arithmetic, so unlike the float faces there is no
    * fold-order to reproduce at all: the int8 cosine doubles are
    * bit-identical by construction. */
  private def int8Ctes(k: Int, queryMod: Int, dim: Int,
      out: String): String = {
    def idot(a: String, b: String): String =
      s"list_sum(list_transform(range(1, ${dim + 1}), " +
        s"i -> $a[i] * $b[i]))"
    def cosExpr(a: String, b: String): String =
      s"CAST(${idot(a, b)} AS DOUBLE) / (sqrt(CAST(${idot(a, a)}" +
        s" AS DOUBLE)) * sqrt(CAST(${idot(b, b)} AS DOUBLE)))"
    s"""i80 AS (SELECT vec_id, e,
       |    list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
       |  FROM emb),
       |i8 AS MATERIALIZED (SELECT vec_id,
       |    CASE WHEN scale = 0 THEN list_transform(e, x -> CAST(0 AS BIGINT))
       |    ELSE list_transform(e, x -> CAST(greatest(-127.0, least(127.0,
       |      floor(x / scale + 0.5))) AS BIGINT)) END AS q
       |  FROM i80),
       |$out AS (
       |  SELECT query_id, neighbor_id, rank FROM (
       |    SELECT q0.vec_id AS query_id, n0.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q0.vec_id
       |        ORDER BY ${cosExpr("q0.q", "n0.q")} DESC, n0.vec_id) AS rank
       |    FROM (SELECT * FROM i8 WHERE vec_id % $queryMod = 0) q0
       |    JOIN i8 n0 ON n0.vec_id <> q0.vec_id)
       |  WHERE rank <= $k)""".stripMargin
  }

  def knnInt8Sql(k: Int = 10, queryMod: Int = 100, dim: Int = 64): String =
    s"""WITH $EmbCte,
       |${int8Ctes(k, queryMod, dim, "res")}
       |SELECT query_id, neighbor_id, rank FROM res
       |ORDER BY query_id, rank""".stripMargin

  def knnInt8RecallSql(k: Int = 10, queryMod: Int = 100): String =
    s"""WITH $EmbCte,
       |${bfCte(k, queryMod, "bf")},
       |${int8Ctes(k, queryMod, 64, "ap")}
       |${recallTailSql("int8", "bf", "ap")}""".stripMargin

  def knnLshSql(k: Int = 10, queryMod: Int = 100, nBits: Int = 6,
      nTables: Int = 4, dim: Int = 64): String =
    s"""WITH $EmbCte,
       |${lshCtes(k, queryMod, nBits, nTables, dim, "res")}
       |SELECT query_id, neighbor_id, rank FROM res
       |ORDER BY query_id, rank""".stripMargin

  def knnIvfSql(k: Int = 10, queryMod: Int = 100, nList: Int = 16,
      nProbe: Int = 4, dim: Int = 64): String =
    s"""WITH $EmbCte,
       |${ivfCtes(k, queryMod, nList, nProbe, dim, "res")}
       |SELECT query_id, neighbor_id, rank FROM res
       |ORDER BY query_id, rank""".stripMargin

  def knnLshRecallSql(k: Int = 10, queryMod: Int = 100): String =
    s"""WITH $EmbCte,
       |${bfCte(k, queryMod, "bf")},
       |${lshCtes(k, queryMod, 6, 4, 64, "ap")}
       |${recallTailSql("lsh", "bf", "ap")}""".stripMargin

  /** DuckDB replay of [[knnIvfTrainedPinned]]. */
  def knnIvfTrainedPinnedSql(k: Int = 10, queryMod: Int = 100,
      nList: Int = 16, nProbe: Int = 4, dim: Int = 64): String =
    s"""WITH $EmbCte,
       |${pinnedIvfCtes(k, queryMod, nList, nProbe, dim, "res")}
       |SELECT query_id, neighbor_id, rank FROM res
       |ORDER BY query_id, rank""".stripMargin

  def knnIvfRecallSql(k: Int = 10, queryMod: Int = 100): String =
    s"""WITH $EmbCte,
       |${bfCte(k, queryMod, "bf")},
       |${ivfCtes(k, queryMod, 16, 4, 64, "ap")}
       |${recallTailSql("ivf", "bf", "ap")}""".stripMargin

  /** DuckDB replay of [[knnPqRecallPinned]]: the [[pqCtes]] chain
    * [[knnPqSql]] already proves hash-exact, the [[bfCte]] baseline,
    * the shared [[recallTailSql]] arithmetic. */
  def knnPqRecallPinnedSql(k: Int = 10, queryMod: Int = 100,
      m: Int = 16, ksub: Int = 16, dim: Int = 64,
      rerank: Int = 8): String =
    s"""WITH $EmbCte,
       |${bfCte(k, queryMod, "bf")},
       |${pqCtes(k, queryMod, m, ksub, dim, rerank)},
       |${rankTailSql(k, "ap", "short")}
       |${recallTailSql("pq_pinned", "bf", "ap")}""".stripMargin

  /** DuckDB replay of [[knnIvfPqRecallPinned]]: the
    * [[ivfPqShortlistCtes]] chain [[knnIvfPqSql]] already proves
    * hash-exact, plus baseline and recall tail. */
  def knnIvfPqRecallPinnedSql(k: Int = 10, queryMod: Int = 100,
      nList: Int = 16, nProbe: Int = 4, m: Int = 16, ksub: Int = 16,
      dim: Int = 64, rerank: Int = 8): String =
    s"""WITH $EmbCte,
       |${bfCte(k, queryMod, "bf")},
       |${ivfPqShortlistCtes(k, queryMod, nList, nProbe, m, ksub, dim,
          rerank)},
       |${rankTailSql(k, "ap", "short")}
       |${recallTailSql("ivfpq_pinned", "bf", "ap")}""".stripMargin

  /** DuckDB replay of [[knnPcaRecallPinned]]: the
    * [[pcaShortlistCtes]] chain [[knnPcaSql]] already proves
    * hash-exact, plus baseline and recall tail. */
  def knnPcaRecallPinnedSql(k: Int = 10, queryMod: Int = 100,
      pcaK: Int = 16, rerank: Int = 8, dim: Int = 64): String =
    s"""WITH $EmbCte,
       |${bfCte(k, queryMod, "bf")},
       |${pcaShortlistCtes(k, queryMod, pcaK, rerank, dim)},
       |${rankTailSql(k, "ap", "short")}
       |${recallTailSql("pca_pinned", "bf", "ap")}""".stripMargin

  /** recall@10 of [[knnLsh]] vs [[knnBruteForce]] — both sides
    * deterministic, so the recall number itself carries a DuckDB
    * oracle ([[knnLshRecallSql]]). */
  def knnLshRecall(embeddings: DataFrame, k: Int = 10,
      queryMod: Int = 100): DataFrame =
    annRecall(knnBruteForce(embeddings, k, queryMod),
      knnLsh(embeddings, k, queryMod), "lsh")

  /** recall@10 of [[knnIvf]] vs [[knnBruteForce]] — oracle-checked
    * like [[knnLshRecall]] ([[knnIvfRecallSql]]). */
  def knnIvfRecall(embeddings: DataFrame, k: Int = 10,
      queryMod: Int = 100): DataFrame =
    annRecall(knnBruteForce(embeddings, k, queryMod),
      knnIvf(embeddings, k, queryMod), "ivf")

  /** Symmetric per-vector int8 quantization — the vector-store
    * compression step (4× smaller than float32, integer SIMD dots):
    * scale = max|x|/127, q_i = ⌊x_i/scale + 0.5⌋ clamped to ±127.
    * The rounding is written as floor(y + 0.5) — NOT round() — on
    * both engines, because floor is IEEE-exact while the engines'
    * round() tie conventions are not guaranteed to agree; with
    * identical double inputs both sides then produce identical codes.
    * All-zero vectors quantize to scale 0 and zero codes. Per-row
    * higher-order functions, scan-side, no shuffle. */
  def quantizeEmbeddings(embeddings: DataFrame): DataFrame = {
    graft.functions.Registry.ensure(embeddings.sparkSession)
    embeddings
      .withColumn("max_abs",
        expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
      .withColumn("scale",
        expr("CASE WHEN max_abs = 0.0 THEN CAST(0.0 AS DOUBLE) " +
          "ELSE max_abs / 127.0 END"))
      .withColumn("q", expr(
        """CASE WHEN max_abs = 0.0
          |  THEN transform(embedding, x -> CAST(0 AS TINYINT))
          |  ELSE transform(embedding, x -> CAST(greatest(-127.0,
          |    least(127.0, floor(CAST(x AS DOUBLE) / scale + 0.5)))
          |    AS TINYINT)) END""".stripMargin))
  }

  /** Oracle face of [[quantizeEmbeddings]]: per-vector integer
    * summaries of the code array (exact — no float leaves the row)
    * plus the DECIMAL-quantized scale. A disagreement in ANY code
    * element moves q_sum/q_min/q_max and breaks the hash. */
  def embeddingQuantization(embeddings: DataFrame): DataFrame =
    quantizeEmbeddings(embeddings)
      .select(col("vec_id"),
        expr("CAST(CAST(scale AS DECIMAL(18,9)) AS DOUBLE)").as("scale_q"),
        expr("CAST(array_min(q) AS INT)").as("q_min"),
        expr("CAST(array_max(q) AS INT)").as("q_max"),
        expr("aggregate(q, 0L, (a, v) -> a + CAST(v AS BIGINT))").as("q_sum"),
        expr("CAST(vec_dot_i8(q, q) AS BIGINT)").as("q_sq_sum"))
      .orderBy("vec_id")

  def embeddingQuantizationSql: String =
    """WITH s AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
      |    list_max([abs(x) for x in CAST(embedding AS DOUBLE[])]) AS max_abs
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id,
      |    CASE WHEN max_abs = 0 THEN 0.0 ELSE max_abs / 127.0 END AS scale,
      |    CASE WHEN max_abs = 0 THEN [0 for x in emb]
      |      ELSE [CAST(greatest(-127.0, least(127.0,
      |        floor(x / (max_abs / 127.0) + 0.5))) AS INT) for x in emb]
      |    END AS ql
      |  FROM s)
      |SELECT vec_id,
      |  CAST(CAST(scale AS DECIMAL(18,9)) AS DOUBLE) AS scale_q,
      |  list_min(ql)::INT AS q_min, list_max(ql)::INT AS q_max,
      |  list_sum(ql)::BIGINT AS q_sum,
      |  list_sum([x * x for x in ql])::BIGINT AS q_sq_sum
      |FROM q ORDER BY vec_id""".stripMargin

  /** Brute-force top-k over the QUANTIZED codes — proof the compressed
    * store answers the same queries: cosine over int8 codes needs only
    * integer dots (the per-vector scales cancel inside the cosine), so
    * scoring is exact 64-bit arithmetic via the codegen'd
    * [[graft.functions.Int8VecDot vec_dot_i8]] kernel — no float fold
    * anywhere in the hot loop. Rows-only (quantization perturbs
    * rankings near ties); fidelity is measured by [[knnInt8Recall]]
    * and floor-asserted in ContractSpec. */
  def knnBruteForceInt8(embeddings: DataFrame, k: Int = 10,
      queryMod: Int = 100): DataFrame = {
    val quant = quantizeEmbeddings(embeddings).select(col("vec_id"), col("q"))
    val queries = quant.toDF("query_id", "q_a")
      .where(pmod(col("query_id"), lit(queryMod)) === 0)
    val scored = quant.toDF("neighbor_id", "q_b")
      .join(broadcast(queries), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (expr("CAST(vec_dot_i8(q_a, q_b) AS DOUBLE)") /
          (expr("sqrt(CAST(vec_dot_i8(q_a, q_a) AS DOUBLE))") *
            expr("sqrt(CAST(vec_dot_i8(q_b, q_b) AS DOUBLE))"))).as("cos_sim"))
    rankTopK(scored, k)
  }

  /** recall@10 of int8-quantized search vs the float32 exact baseline
    * (rows-only) — the number that says whether 4× compression is free
    * at this corpus's similarity structure. */
  def knnInt8Recall(embeddings: DataFrame, k: Int = 10,
      queryMod: Int = 100): DataFrame =
    annRecall(knnBruteForce(embeddings, k, queryMod),
      knnBruteForceInt8(embeddings, k, queryMod), "int8")

  // ------------------------------------------------- product quantization

  /** PQ codebook for subspace `j`: `ksub` centroids of `subDim` floats,
    * trained per subspace in production ([[pqFit]]); these deterministic
    * ±1 stand-ins share a norm, so nearest-by-L2 == argmax dot (the
    * same trick as [[centroid]]). */
  private def pqCodebook(j: Int, ksub: Int, subDim: Int): Array[Array[Float]] = {
    // ±1 vectors span only 2^subDim sign patterns: more centroids than
    // that MUST collide, degenerating assignment (observed: recall
    // collapse at ksub=32/subDim=4). Trained codebooks have no such
    // limit, but they start from these.
    require(ksub <= (1 << subDim),
      s"ksub=$ksub exceeds the $subDim-dim sign space (max ${1 << subDim})")
    Array.tabulate(ksub)(c => hyperplane(j * 1000003 + 17, c + 31, subDim))
  }

  /** Product-quantize unit-normalized vectors: split dim into `m`
    * subspaces, code each against its subspace codebook → one
    * tinyint code per subspace (m bytes per vector — 32× smaller than
    * float32 at m=8/dim=64). Normalization first makes the ADC dot an
    * approximation of COSINE, matching the exact baseline's metric.
    * Per-row expressions only (m·ksub codegen'd dots per row via
    * vec_dot on slices) — scan-side, no shuffle. */
  def pqEncode(embeddings: DataFrame, m: Int = 16, ksub: Int = 16,
      dim: Int = 64,
      codebooks: Option[Array[Array[Array[Float]]]] = None): DataFrame = {
    graft.functions.Registry.ensure(embeddings.sparkSession)
    val subDim = dim / m
    val books = codebooks.getOrElse(
      Array.tabulate(m)(j => pqCodebook(j, ksub, subDim)))
    // codes are stored as signed bytes: a caller-supplied book with >128
    // centroids would silently wrap codes negative and adcScore would
    // read a wrong table slot — fail loudly instead
    require(books.forall(_.length <= 128),
      s"codebooks must have <=128 centroids (byte codes); got ${books.map(_.length).max}")
    val norm = expr("sqrt(vec_dot(embedding, embedding))")
    val unit = expr(s"transform(embedding, x -> CAST(x / " +
      s"sqrt(vec_dot(embedding, embedding)) AS FLOAT))")
    // L2 assignment (argmax dot − ||c||²/2): the centroid RECONSTRUCTS
    // the subvector, so nearest-by-distance is the coding rule — same
    // geometry pqFit trains with. (Equivalent to raw-dot argmax for the
    // equal-norm ±1 default books; it matters for trained ones.)
    val codes = array((0 until m).map { j =>
      val sub = expr(s"slice(u, ${j * subDim + 1}, $subDim)")
      val scores = array(books(j).map { c =>
        val sq = c.map(x => x.toDouble * x).sum
        call_function("vec_dot", sub, typedLit(c)) - lit(sq / 2.0)
      }: _*)
      (array_position(scores, array_max(scores)).cast("int") - 1).cast("byte")
    }: _*)
    // keeps every input column (so a coarse cluster_id rides along for
    // IVF-PQ); adds `codes`
    embeddings
      .where(norm > 0.0)
      .withColumn("u", unit)
      .withColumn("codes", codes)
      .drop("u")
  }

  /** The ADC sum: score = Σ_j tbl[j·ksub + codes[j]] — m lookups into
    * the query's precomputed table. */
  private def adcScore(m: Int, ksub: Int): Column =
    expr(s"""aggregate(sequence(0, ${m - 1}),
      |CAST(0.0 AS DOUBLE),
      |(acc, j) -> acc + element_at(tbl,
      |  j * $ksub + CAST(element_at(codes, j + 1) AS INT) + 1))"""
      .stripMargin)

  /** Per-query flat ADC table column: entry j·ksub + c =
    * dot(q_j, cent_{j,c}) over the unit-normalized query in `u`. */
  private def adcTable(books: Array[Array[Array[Float]]],
      subDim: Int): Column =
    array(books.indices.flatMap { j =>
      val sub = expr(s"slice(u, ${j * subDim + 1}, $subDim)")
      books(j).map(c => call_function("vec_dot", sub, typedLit(c)))
    }: _*)

  /** ANN top-k by ASYMMETRIC DISTANCE COMPUTATION over PQ codes: each
    * (unit-normalized) query precomputes its m×ksub dot table against
    * the codebooks (a per-query column, built once), and scoring a
    * database vector is m table lookups summed — never touching the
    * original floats. This is the memory-bound regime PQ exists for:
    * at 100 TB the code table is 32× smaller than the vectors and the
    * scan streams codes only.
    *
    * `rerank`: the standard ADC + exact re-rank composition — the code
    * scan shortlists the top k·rerank per query, then ONLY those
    * shortlist rows (queries × k·rerank — a broadcastable sliver of
    * the corpus) fetch their full floats for an exact cosine re-rank.
    * The 100 TB cost shape is unchanged (the full scan still reads
    * codes only; the float fetch is point lookups), while recall
    * recovers from code quantization (fixture: 0.42 → ≥0.8 at
    * rerank=8). `rerank <= 1` returns raw ADC ranks. Rows-only (still
    * approximate: a true neighbor outside the ADC shortlist stays
    * lost); fidelity reported by [[knnPqRecall]]. */
  def knnPq(embeddings: DataFrame, k: Int = 10, queryMod: Int = 100,
      m: Int = 16, ksub: Int = 16, dim: Int = 64,
      codebooks: Option[Array[Array[Array[Float]]]] = None,
      rerank: Int = 8): DataFrame = {
    graft.functions.Registry.ensure(embeddings.sparkSession)
    val subDim = dim / m
    val books = codebooks.getOrElse(
      Array.tabulate(m)(j => pqCodebook(j, ksub, subDim)))
    val encoded = pqEncode(embeddings, m, ksub, dim, codebooks)
      .select(col("vec_id").as("neighbor_id"), col("codes"))
    val queries = embeddings
      .where(pmod(col("vec_id"), lit(queryMod)) === 0)
      .where(expr("vec_dot(embedding, embedding)") > 0.0)
      .withColumn("u", expr("transform(embedding, x -> CAST(x / " +
        "sqrt(vec_dot(embedding, embedding)) AS FLOAT))"))
      .select(col("vec_id").as("query_id"),
        adcTable(books, subDim).as("tbl"))
    val scored = encoded
      .join(broadcast(queries), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        adcScore(m, ksub).as("cos_sim"))
    rerankExact(embeddings, scored, k, queryMod, rerank)
  }

  /** Exact-cosine re-rank of an approximate score frame's top
    * k·rerank shortlist (see [[knnPq]]'s doc for the cost shape). */
  private def rerankExact(embeddings: DataFrame, scored: DataFrame,
      k: Int, queryMod: Int, rerank: Int): DataFrame =
    if (rerank <= 1) rankTopK(scored, k)
    else {
      val shortlist = rankTopK(scored, k * rerank)
        .select(col("query_id"), col("neighbor_id"))
      val neighbors = embeddings
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"))
      val queryVecs = embeddings
        .where(pmod(col("vec_id"), lit(queryMod)) === 0)
        .where(expr("vec_dot(embedding, embedding)") > 0.0)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      val exact = neighbors
        .join(broadcast(shortlist), Seq("neighbor_id"))
        .join(broadcast(queryVecs), Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          (expr("vec_dot(q_emb, n_emb)") /
            (expr("sqrt(vec_dot(q_emb, q_emb))") *
              expr("sqrt(vec_dot(n_emb, n_emb))"))).as("cos_sim"))
      rankTopK(exact, k)
    }

  /** IVF-PQ — the composition that IS the production ANN architecture
    * at 100 TB (coarse quantizer + product codes, the FAISS IndexIVFPQ
    * shape): [[ivfAssign]]'s lists prune the search to nProbe clusters
    * per query, then PQ codes score only the survivors by ADC. The
    * probe is the same equi-join on `cluster_id` as [[knnIvf]] (at
    * scale: a cluster-pruned scan of an IVF list table
    * that stores CODES instead of vectors — 16× less storage AND a
    * fraction of it read per query). Two stacked approximations →
    * rows-only; fidelity reported by [[knnIvfPqRecall]]. */
  def knnIvfPq(embeddings: DataFrame, k: Int = 10, queryMod: Int = 100,
      nList: Int = 16, nProbe: Int = 4, m: Int = 16, ksub: Int = 16,
      dim: Int = 64,
      codebooks: Option[Array[Array[Array[Float]]]] = None,
      rerank: Int = 8,
      coarseCents: Option[Array[Array[Float]]] = None): DataFrame = {
    graft.functions.Registry.ensure(embeddings.sparkSession)
    val subDim = dim / m
    val books = codebooks.getOrElse(
      Array.tabulate(m)(j => pqCodebook(j, ksub, subDim)))
    // coarse quantizer: caller-trained centroids (the production path —
    // [[kmeansFit]]) or the deterministic stand-ins
    def coarseAssign(df: DataFrame): DataFrame = coarseCents match {
      case Some(cs) => assignWith(df, cs)
      case None => ivfAssign(df, nList, dim)
    }
    def coarseScores(df: DataFrame): DataFrame = coarseCents match {
      case Some(cs) =>
        df.withColumn("cent_scores", array(cs.map { c =>
          val norm = math.sqrt(c.map(x => x.toDouble * x).sum)
          call_function("vec_dot", col("embedding"), typedLit(c)) / lit(norm)
        }: _*))
      case None => withScores(df, nList, dim)
    }
    // one scan: coarse list + codes per row, then only codes travel
    val encoded = pqEncode(coarseAssign(embeddings), m, ksub,
      dim, codebooks)
      .select(col("vec_id").as("neighbor_id"), col("cluster_id"), col("codes"))
    val probes = probeRows(coarseScores(
      embeddings.where(pmod(col("vec_id"), lit(queryMod)) === 0)
        .where(expr("vec_dot(embedding, embedding)") > 0.0)),
      nProbe)
      .withColumn("u", expr("transform(q_emb, x -> CAST(x / " +
        "sqrt(vec_dot(q_emb, q_emb)) AS FLOAT))"))
      .select(col("query_id"), col("cluster_id"),
        adcTable(books, subDim).as("tbl"))
    val scored = encoded
      .join(broadcast(probes), Seq("cluster_id"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        adcScore(m, ksub).as("cos_sim"))
    // no dedup needed: each vector lives in exactly ONE coarse list, so
    // a (query, vector) pair joins at most once even with nProbe > 1.
    // Same ADC + exact-re-rank composition as [[knnPq]] (FAISS's
    // IndexIVFPQR shape): recall lost to code quantization comes back
    // for a shortlist-sized float fetch.
    rerankExact(embeddings, scored, k, queryMod, rerank)
  }

  /** recall@10 of the FULL production IVF-PQ path vs exact float32
    * (rows-only): trained coarse centroids ([[kmeansFit]]), trained
    * codebooks ([[pqFit]]), 6/16 lists probed, ADC + exact re-rank —
    * list pruning × code quantization, the compressed-index fidelity
    * number. (Fixture-observed 0.70 at sf0.001; the deterministic
    * stand-in centroids at the operator's quick-face default nProbe=4
    * measure 0.42, bounded by their own list recall.) */
  def knnIvfPqRecall(embeddings: DataFrame, k: Int = 10,
      queryMod: Int = 100): DataFrame =
    annRecall(knnBruteForce(embeddings, k, queryMod),
      // nProbe=8, rerank=16: the measured knee of the recall/cost
      // surface (RecallProbe: 0.82 @ sf0.001, 0.84 @ sf0.01; recall is
      // coarse-list-bound, so probes buy what a larger shortlist
      // can't). 8/16 lists is a tiny-fixture ratio — production runs
      // nList ~ sqrt(corpus) with nProbe/nList << 1.
      knnIvfPq(embeddings, k, queryMod, nProbe = 8, rerank = 16,
        codebooks = Some(pqFit(embeddings)),
        coarseCents = Some(kmeansFit(
          embeddings.select(col("vec_id"), col("embedding"))))), "ivfpq")

  /** [[knnIvfPqRecall]]'s PINNED twin: stand-in coarse centroids +
    * [[pqCodebook]] codebooks at the quick face's defaults — the same
    * assign/ADC/re-rank functions, fully deterministic, so the recall
    * number carries a DuckDB oracle ([[knnIvfPqRecallPinnedSql]]).
    * Lower recall than the trained face by construction (stand-in
    * lists bound it — the 0.42 the trained face's doc cites); the
    * number here is a CODE-PATH check, not the fidelity claim. */
  def knnIvfPqRecallPinned(embeddings: DataFrame, k: Int = 10,
      queryMod: Int = 100): DataFrame =
    annRecall(knnBruteForce(embeddings, k, queryMod),
      knnIvfPq(embeddings, k, queryMod), "ivfpq_pinned")

  /** Train PQ codebooks: spherical k-means per subspace over the
    * unit-normalized slices — m independent [[kmeansIterate]] runs,
    * each shuffling only ksub·subDim doubles per Lloyd round. At
    * 100 TB this trains on a deterministic sample, like [[kmeansFit]]. */
  def pqFit(embeddings: DataFrame, m: Int = 16, ksub: Int = 16,
      dim: Int = 64, iters: Int = 3,
      sampleMod: Int = 2): Array[Array[Array[Float]]] = {
    graft.functions.Registry.ensure(embeddings.sparkSession)
    val subDim = dim / m
    // codebooks are statistics of the distribution, not of every row —
    // train on a deterministic sample exactly as kmeansFit's doc
    // prescribes for 100 TB (the full corpus is still what gets coded)
    val unit = embeddings
      .where(pmod(col("vec_id"), lit(sampleMod)) === 0)
      .where(expr("vec_dot(embedding, embedding)") > 0.0)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x / " +
        "sqrt(vec_dot(embedding, embedding)) AS FLOAT))").as("u"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the m subspace fits are INDEPENDENT — submit them as concurrent
    // Spark jobs (safe: each only aggregates the shared cached frame)
    // instead of m·iters sequential rounds, whose fixed job-launch
    // latency dominated wall time (measured 17.6 s → ~3 s at sf0.1)
    import scala.concurrent.{Await, ExecutionContext, Future}
    implicit val ec: ExecutionContext = ExecutionContext.global
    try {
      val fits = (0 until m).map { j => Future {
        val sub = unit.select(col("vec_id"),
          expr(s"slice(u, ${j * subDim + 1}, $subDim)").as("embedding"))
        // l2 = reconstruction k-means, matching pqEncode's coding rule
        kmeansIterate(sub, pqCodebook(j, ksub, subDim), ksub, iters, l2 = true)
      }}
      Await.result(Future.sequence(fits),
        scala.concurrent.duration.Duration.Inf).toArray
    } finally { unit.unpersist(); () }
  }

  /** recall@10 of PQ-ADC search (trained codebooks) vs the float32
    * exact baseline (rows-only) — the 32×-compression fidelity number. */
  def knnPqRecall(embeddings: DataFrame, k: Int = 10,
      queryMod: Int = 100): DataFrame =
    annRecall(knnBruteForce(embeddings, k, queryMod),
      knnPq(embeddings, k, queryMod,
        codebooks = Some(pqFit(embeddings))), "pq")

  /** [[knnPqRecall]]'s PINNED-codebook twin (the
    * knn_ivf_trained_pinned convention): the SAME encode/ADC/re-rank
    * functions the trained face runs, with the deterministic
    * [[pqCodebook]] parameters — so both rank sets replay in DuckDB
    * and the recall number itself is hash-exact
    * ([[knnPqRecallPinnedSql]]). The trained face stays the fidelity
    * measurement; this face puts its code path under the hard oracle. */
  def knnPqRecallPinned(embeddings: DataFrame, k: Int = 10,
      queryMod: Int = 100): DataFrame =
    annRecall(knnBruteForce(embeddings, k, queryMod),
      knnPq(embeddings, k, queryMod), "pq_pinned")

  /** ANN top-k via multi-table LSH bucketing + exact re-rank of the
    * candidate union. Approximate: a neighbor missed by every table is
    * lost — rows-only query, recall measured against [[knnBruteForce]]
    * in tests.
    *
    * MULTI-PROBE: each query always probes its own bucket plus every
    * 1-bit neighbor bucket per table, as its SQL twin does. A true
    * neighbor lands in an adjacent bucket whenever exactly one
    * hyperplane splits the pair — by far the most likely miss — so
    * probing the nBits neighbors recovers most of it for a
    * ×(nBits+1) fan-out of the (tiny, sampled) QUERY side only; the
    * index side is untouched. This is the standard probe-vs-tables
    * trade: same recall lift as ~5× more tables at a fraction of the
    * index size (Lv et al., "Multi-Probe LSH", VLDB'07). */
  def knnLsh(embeddings: DataFrame, k: Int = 10, queryMod: Int = 100,
      nBits: Int = 6, nTables: Int = 4): DataFrame = {
    // both the query side and the candidate side consume the keyed
    // frame — persist the 32-projection hashing pass
    val keyed = lshKeys(embeddings, nBits, nTables)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val queries = keyed
      .where(pmod(col("vec_id"), lit(queryMod)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("table_id").as("q_table"), col("bucket").as("q_bucket"))
      .select(col("query_id"), col("q_emb"), col("q_table"),
        explode(array(col("q_bucket") +: (0 until nBits).map(j =>
          col("q_bucket").bitwiseXOR(lit(1L << j))): _*)).as("q_bucket"))
    val candidates = keyed
      .join(broadcast(queries),
        col("table_id") === col("q_table") &&
          col("bucket") === col("q_bucket") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("q_emb"),
        col("vec_id").as("neighbor_id"), col("embedding"))
      .distinct()
    val scored = candidates
      .select(col("query_id"), col("neighbor_id"),
        (expr("vec_dot(q_emb, embedding)") /
          (expr("sqrt(vec_dot(q_emb, q_emb))") *
            expr("sqrt(vec_dot(embedding, embedding))"))).as("cos_sim"))
    rankTopK(scored, k)
  }

  // ------------------------------------------------------------- PCA

  /** Principal components of the embedding corpus.
    *
    * @param components row `c` is the c-th component (unit, d floats)
    * @param eigenvalues variance along each component, descending
    * @param mean        corpus mean vector
    * @param totalVar    trace of the covariance (sum of ALL d
    *                    eigenvalues, not just the kept k)
    */
  final case class PcaModel(components: Array[Array[Double]],
      eigenvalues: Array[Double], mean: Array[Double], totalVar: Double) {
    def varianceExplained: Double = eigenvalues.sum / totalVar
  }

  /** Fit PCA with ONE distributed pass + k×k driver math: the
    * [[graft.functions.GramAgg]] upper-triangle second moment and the
    * [[graft.functions.VecSumAgg]] mean stream the corpus once into a
    * d(d+1)/2-double buffer; the covariance `C = S/n − m·mᵀ` and its
    * Jacobi eigendecomposition are driver-side d×d arithmetic
    * (microseconds at d=64) — the same shape as the k-means centroid
    * collect. No row ever leaves the executors.
    *
    * Eigenvectors are sign-canonicalized (largest-|coordinate| entry
    * positive) so the model is unique and re-runs are identical. */
  def pcaFit(embeddings: DataFrame, k: Int = 16): PcaModel = {
    val spark = embeddings.sparkSession
    graft.functions.Registry.ensure(spark)
    val row = embeddings.agg(
      expr("vec_gram(embedding)").as("g"),
      expr("vec_sum(embedding)").as("s")).head()
    val gram = row.getStruct(0).getSeq[Double](0).toArray
    val n = row.getStruct(0).getLong(1)
    val sum = row.getStruct(1).getSeq[Double](0).toArray
    val d = sum.length
    require(n > 1 && d > 0 && k >= 1 && k <= d,
      s"pcaFit: n=$n d=$d k=$k")
    val mean = sum.map(_ / n)
    val cov = Array.ofDim[Double](d, d)
    var idx = 0
    for (i <- 0 until d; j <- i until d) {
      val c = gram(idx) / n - mean(i) * mean(j)
      cov(i)(j) = c; cov(j)(i) = c
      idx += 1
    }
    val (vals, vecs) = jacobiEigen(cov)
    val order = vals.indices.sortBy(i => -vals(i)).take(k)
    val comps = order.map { c =>
      val v = Array.tabulate(d)(r => vecs(r)(c))
      val pivot = v.indices.maxBy(i => math.abs(v(i)))
      if (v(pivot) < 0) v.map(x => -x) else v
    }.toArray
    PcaModel(comps, order.map(vals).toArray, mean,
      (0 until d).map(i => cov(i)(i)).sum)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, eigenvector COLUMNS), unordered. O(d³) per sweep,
    * converges quadratically; at the d≤256 this engine fits on the
    * driver it is exact to machine precision in <15 sweeps. */
  private[graft] def jacobiEigen(
      m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = Array.tabulate(d, d)((i, j) => m(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 50 && off > 1e-22) {
      off = 0.0
      for (p <- 0 until d; q <- p + 1 until d) off += a(p)(q) * a(p)(q)
      if (off > 1e-22) {
        for (p <- 0 until d; q <- p + 1 until d) if (a(p)(q) != 0.0) {
          val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
          val t = math.signum(theta) /
            (math.abs(theta) + math.sqrt(theta * theta + 1.0)) match {
              case 0.0 => 1.0 // theta == 0 -> 45-degree rotation
              case x => x
            }
          val c = 1.0 / math.sqrt(t * t + 1.0)
          val s = t * c
          for (i <- 0 until d) {
            val aip = a(i)(p); val aiq = a(i)(q)
            a(i)(p) = c * aip - s * aiq
            a(i)(q) = s * aip + c * aiq
          }
          for (j <- 0 until d) {
            val apj = a(p)(j); val aqj = a(q)(j)
            a(p)(j) = c * apj - s * aqj
            a(q)(j) = s * apj + c * aqj
          }
          for (i <- 0 until d) {
            val vip = v(i)(p); val viq = v(i)(q)
            v(i)(p) = c * vip - s * viq
            v(i)(q) = s * vip + c * viq
          }
        }
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Project embeddings onto a fitted model: `proj_c = x·v_c − m·v_c`.
    * The mean-dot is a driver constant, so centering never touches the
    * rows; each component is one codegen'd sequential double fold over
    * the vector (same `zip_with`+`aggregate` kernel the hybrid-search
    * scorer uses) — a pure scan-side map, no shuffle, broadcast-free
    * (components ride the plan as literals). */
  def pcaProject(embeddings: DataFrame, model: PcaModel): DataFrame = {
    val projCols = model.components.zipWithIndex.map { case (v, c) =>
      val meanDot = model.mean.zip(v).map { case (m, x) => m * x }.sum
      val lits = v.mkString(", ")
      expr(
        s"""aggregate(zip_with(embedding, array($lits),
           |  (x, v) -> CAST(x AS DOUBLE) * v),
           |  CAST(0.0 AS DOUBLE), (acc, e) -> acc + e) - ($meanDot)"""
          .stripMargin).as(s"pc$c")
    }
    embeddings.select(col("vec_id") +: projCols: _*)
  }

  /** Pinned orthogonal ±1 projection basis: rows 1..`kComp` of the
    * Sylvester-Hadamard matrix `H(r, i) = (-1)^popcount(r AND i)`
    * (row 0 — all ones — skipped). The rows are EXACTLY mutually
    * orthogonal with common norm sqrt(dim), so projecting is an
    * orthogonal map up to one global scale cosine ignores — and every
    * entry is ±1, making the projection a signed double fold both
    * engines replay bit-for-bit (the [[pqCodebook]] default-codebook
    * convention: a deterministic stand-in with the trained face's
    * exact plan shape, oracle-able where eigenvectors are not). */
  private[graft] def pinnedBasis(kComp: Int, dim: Int): Array[Array[Float]] = {
    require(Integer.bitCount(dim) == 1 && kComp < dim,
      s"pinnedBasis needs power-of-two dim > kComp; got dim=$dim k=$kComp")
    Array.tabulate(kComp) { c =>
      Array.tabulate(dim)(i =>
        if (Integer.bitCount((c + 1) & i) % 2 == 0) 1f else -1f)
    }
  }

  /** The `embedding_pca` query face: per-row coordinates in the PINNED
    * Hadamard basis ([[pinnedBasis]]), quantized for stable output —
    * hash-exact against the DuckDB signed-fold replay. The TRAINED
    * eigenbasis is [[pcaFit]] + [[pcaProject]] (rows-only: no SQL
    * engine fits eigenvectors), served through [[knnPcaTrained]];
    * `PcaSpec` holds its math to account and [[knnPcaRecall]]
    * measures it as data. */
  def embeddingPca(embeddings: DataFrame, k: Int = 4,
      dim: Int = 64): DataFrame = {
    graft.functions.Registry.ensure(embeddings.sparkSession)
    val basis = pinnedBasis(k, dim)
    embeddings.select(col("vec_id") +:
      basis.zipWithIndex.map { case (b, c) =>
        expr(s"CAST(CAST(vec_dot(embedding, ${floatArrayLit(b)}) " +
          s"AS DECIMAL(20,8)) AS DOUBLE)").as(s"pc$c")
      }.toSeq: _*)
      .orderBy("vec_id")
  }

  private def floatArrayLit(v: Array[Float]): String =
    v.map(x => s"CAST($x AS FLOAT)").mkString("array(", ", ", ")")

  /** ANN by dimensionality-reduction pruning: candidates score in the
    * `pcaK`-dim projected space (4× less arithmetic and I/O per pair
    * at 16/64), then the `k·rerank` shortlist re-scores on full
    * vectors — the counterpart of [[knnPq]]'s ADC+re-rank. This
    * catalog face projects onto the PINNED Hadamard basis
    * ([[pinnedBasis]]) so the whole pipeline — projection folds, float
    * casts, projected cosine, exact re-rank — is deterministic
    * arithmetic the DuckDB oracle replays hash-exactly
    * ([[knnPcaSql]]); [[knnPcaTrained]] is the trained-eigenbasis
    * twin with the identical plan. */
  def knnPca(embeddings: DataFrame, k: Int = 10, queryMod: Int = 100,
      pcaK: Int = 16, rerank: Int = 8, dim: Int = 64): DataFrame = {
    graft.functions.Registry.ensure(embeddings.sparkSession)
    val basis = pinnedBasis(pcaK, dim)
    val proj = embeddings.select(col("vec_id"),
      array(basis.map(b => expr(
        s"CAST(vec_dot(embedding, ${floatArrayLit(b)}) AS FLOAT)")): _*)
        .as("embedding"))
    knnProjected(embeddings, proj, k, queryMod, rerank)
  }

  /** [[knnPca]]'s trained twin: projections come from a fitted
    * [[pcaFit]] eigenbasis, CENTERED (mean-dot subtracted), which is
    * what makes nearby full-dim vectors stay nearby after projection.
    * Rows-only (iterative-FP model state); measured by
    * [[knnPcaRecall]]. `rerank <= 1` disables the exact pass (raw
    * subspace quality, what [[PcaSpec]] tracks as data). */
  def knnPcaTrained(embeddings: DataFrame, k: Int = 10,
      queryMod: Int = 100, pcaK: Int = 16, rerank: Int = 8): DataFrame = {
    val model = pcaFit(embeddings, pcaK)
    val proj = pcaProject(embeddings, model)
      .select(col("vec_id"), array((0 until pcaK).map(c =>
        col(s"pc$c").cast("float")): _*).as("embedding"))
    knnProjected(embeddings, proj, k, queryMod, rerank)
  }

  /** Shared reduced-space scorer: projected cosine over the broadcast
    * query sample, then [[rerankExact]]'s full-vector shortlist pass. */
  private def knnProjected(embeddings: DataFrame, proj: DataFrame,
      k: Int, queryMod: Int, rerank: Int): DataFrame = {
    graft.functions.Registry.ensure(embeddings.sparkSession)
    val base = proj.select(col("vec_id"), col("embedding"),
      expr("sqrt(vec_dot(embedding, embedding))").as("norm"))
    val queries = base.where(pmod(col("vec_id"), lit(queryMod)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
    val scored = base
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (expr("vec_dot(q_emb, embedding)") / (col("q_norm") * col("norm")))
          .as("cos_sim"))
    rerankExact(embeddings, scored, k, queryMod, rerank)
  }

  /** Matryoshka-style truncated-dimension search: score in the
    * embedding's FIRST `mrlDim` coordinates, exact-re-rank the
    * shortlist (Kusupati et al., "Matryoshka Representation Learning",
    * NeurIPS 2022 — MRL-trained encoders front-load information so a
    * prefix of the vector is itself a usable embedding; the search
    * side needs no model at all, just `slice`). The cheapest
    * dimensionality-reduction face in the battery: unlike PCA there is
    * nothing to train or pin — which also makes BOTH faces fully
    * oracle-able (the projection is exact in either engine). On these
    * non-MRL-trained fixture embeddings the prefix is an arbitrary
    * coordinate subset, so measured recall is the floor an MRL encoder
    * would improve on; the recall face reports it as data.
    *
    * Scale shape: identical to [[knnPca]] — broadcast query sample vs
    * one collection stream in the reduced space (4× fewer multiplies
    * at mrlDim=16), then [[rerankExact]]'s shortlist pass. */
  def knnMrl(embeddings: DataFrame, k: Int = 10, queryMod: Int = 100,
      mrlDim: Int = 16, rerank: Int = 8): DataFrame = {
    val proj = embeddings.select(col("vec_id"),
      expr(s"slice(embedding, 1, $mrlDim)").as("embedding"))
    knnProjected(embeddings, proj, k, queryMod, rerank)
  }

  /** recall@10 of the truncated-prefix search vs the full-dim exact
    * baseline — hash-exact end to end (both sides deterministic). */
  def knnMrlRecall(embeddings: DataFrame, k: Int = 10,
      queryMod: Int = 100, mrlDim: Int = 16, rerank: Int = 8): DataFrame =
    annRecall(knnBruteForce(embeddings, k, queryMod),
      knnMrl(embeddings, k, queryMod, mrlDim, rerank), s"mrl$mrlDim")

  /** The MRL projected-search CTE chain (prefix slice → projected
    * cosine → k·rerank shortlist), shared VERBATIM by [[knnMrlSql]]
    * and [[knnMrlRecallSql]] so the two oracles can never drift apart
    * one-builder-at-a-time (the rankTailSql discipline). Expects the
    * [[EmbCte]] `emb` relation in scope; leaves `short`. */
  private def mrlShortlistCtes(k: Int, queryMod: Int, mrlDim: Int,
      rerank: Int): String = {
    val pdot = (a: String, b: String) =>
      s"list_reduce(list_transform(range(1, ${mrlDim + 1}), " +
        s"i -> $a[i] * $b[i]), (x, y) -> x + y)"
    s"""pv AS MATERIALIZED (
       |  SELECT vec_id, e[1:$mrlDim] AS p FROM emb),
       |pq2 AS (SELECT vec_id AS query_id, p AS qp,
       |    sqrt(${pdot("p", "p")}) AS qn
       |  FROM pv WHERE vec_id % $queryMod = 0),
       |pscored AS (
       |  SELECT q.query_id, n.vec_id AS neighbor_id,
       |    ${pdot("q.qp", "n.p")}
       |      / (q.qn * sqrt(${pdot("n.p", "n.p")})) AS score
       |  FROM pq2 q JOIN pv n ON n.vec_id <> q.query_id),
       |short AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rk
       |    FROM pscored) WHERE rk <= ${k * rerank})""".stripMargin
  }

  /** DuckDB replay of [[knnMrl]]: prefix slice of the DOUBLE-cast
    * embedding, the same left-to-right dot fold, the shared
    * exact-cosine rank tail. */
  def knnMrlSql(k: Int = 10, queryMod: Int = 100, mrlDim: Int = 16,
      rerank: Int = 8): String =
    s"""WITH $EmbCte,
       |${mrlShortlistCtes(k, queryMod, mrlDim, rerank)},
       |${rankTailSql(k, "res", "short")}
       |SELECT query_id, neighbor_id, rank FROM res
       |ORDER BY query_id, rank""".stripMargin

  /** DuckDB replay of [[knnMrlRecall]]: both pipelines plus the
    * [[annRecall]] arithmetic (quantized through DECIMAL(9,6)). */
  def knnMrlRecallSql(k: Int = 10, queryMod: Int = 100,
      mrlDim: Int = 16, rerank: Int = 8): String = {
    s"""WITH $EmbCte,
       |exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, e2.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(q.e, e2.e) DESC,
       |          e2.vec_id) AS rank
       |    FROM emb q JOIN emb e2 ON e2.vec_id <> q.vec_id
       |    WHERE q.vec_id % $queryMod = 0)
       |  WHERE rank <= $k),
       |${mrlShortlistCtes(k, queryMod, mrlDim, rerank)},
       |${rankTailSql(k, "approx", "short")}
       |SELECT 'mrl$mrlDim' AS method,
       |  count(DISTINCT x.query_id)::BIGINT AS n_queries,
       |  count(*)::BIGINT AS n_exact,
       |  sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
       |    AS n_hit,
       |  CAST(CAST(CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1
       |    ELSE 0 END) AS DOUBLE) / count(*) AS DECIMAL(9,6)) AS DOUBLE)
       |    AS recall_at_k
       |FROM exact x LEFT JOIN approx a
       |  ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id""".stripMargin
  }

  /** recall@10 of 64→16-dim TRAINED-PCA-pruned search (exact re-rank
    * of the 8k-candidate shortlist) vs the full-dim exact baseline
    * (rows-only) — the trained face's fidelity as data. */
  def knnPcaRecall(embeddings: DataFrame, k: Int = 10,
      queryMod: Int = 100, pcaK: Int = 16, rerank: Int = 8): DataFrame =
    annRecall(knnBruteForce(embeddings, k, queryMod),
      knnPcaTrained(embeddings, k, queryMod, pcaK, rerank), "pca16")

  /** [[knnPcaRecall]]'s PINNED-basis twin: [[knnPca]]'s Hadamard
    * projection at the same pcaK/rerank — the shared
    * [[knnProjected]]/[[rerankExact]] path with deterministic
    * parameters, so the recall number carries a DuckDB oracle
    * ([[knnPcaRecallPinnedSql]]). */
  def knnPcaRecallPinned(embeddings: DataFrame, k: Int = 10,
      queryMod: Int = 100, pcaK: Int = 16, rerank: Int = 8): DataFrame =
    annRecall(knnBruteForce(embeddings, k, queryMod),
      knnPca(embeddings, k, queryMod, pcaK, rerank), "pca_pinned")

  /** DuckDB replay of the pinned-basis [[knnPca]]: `pv` applies the
    * same ±1 signed folds with the same `CAST(… AS REAL)` rounding,
    * the projected cosine is the same left-to-right double fold as
    * `vec_dot`, and the shortlist feeds the shared exact-cosine rank
    * tail. */
  /** The pinned-basis PCA shortlist CTE chain (signed-fold projection
    * → projected cosine → k·rerank shortlist), shared VERBATIM by
    * [[knnPcaSql]] and [[knnPcaRecallPinnedSql]] (the
    * [[mrlShortlistCtes]] discipline). Expects `emb`; leaves `short`. */
  private def pcaShortlistCtes(k: Int, queryMod: Int, pcaK: Int,
      rerank: Int, dim: Int): String = {
    val basis = pinnedBasis(pcaK, dim)
    val pvec = basis.map(b => s"CAST(${signedFold(b)} AS REAL)")
      .mkString("[", ",\n      ", "]")
    val pdot = (a: String, b: String) =>
      s"list_reduce(list_transform(range(1, ${pcaK + 1}), " +
        s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), " +
        "(x, y) -> x + y)"
    s"""pv AS MATERIALIZED (
       |  SELECT vec_id, $pvec AS p FROM emb),
       |pq2 AS (SELECT vec_id AS query_id, p AS qp,
       |    sqrt(${pdot("p", "p")}) AS qn
       |  FROM pv WHERE vec_id % $queryMod = 0),
       |pscored AS (
       |  SELECT q.query_id, n.vec_id AS neighbor_id,
       |    ${pdot("q.qp", "n.p")}
       |      / (q.qn * sqrt(${pdot("n.p", "n.p")})) AS score
       |  FROM pq2 q JOIN pv n ON n.vec_id <> q.query_id),
       |short AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rk
       |    FROM pscored) WHERE rk <= ${k * rerank})""".stripMargin
  }

  def knnPcaSql(k: Int = 10, queryMod: Int = 100, pcaK: Int = 16,
      rerank: Int = 8, dim: Int = 64): String =
    s"""WITH $EmbCte,
       |${pcaShortlistCtes(k, queryMod, pcaK, rerank, dim)},
       |${rankTailSql(k, "res", "short")}
       |SELECT query_id, neighbor_id, rank FROM res
       |ORDER BY query_id, rank""".stripMargin

  /** DuckDB replay of the pinned-basis [[embeddingPca]] coordinates:
    * signed folds quantized through the same DECIMAL(20,8) cast. */
  def embeddingPcaSql(k: Int = 4, dim: Int = 64): String = {
    val basis = pinnedBasis(k, dim)
    val cols = basis.zipWithIndex.map { case (b, c) =>
      s"CAST(CAST((${signedFold(b)}) AS DECIMAL(20,8)) AS DOUBLE) AS pc$c"
    }.mkString(",\n  ")
    s"""WITH $EmbCte
       |SELECT vec_id,
       |  $cols
       |FROM emb ORDER BY vec_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // NN-descent k-NN graph
  // ---------------------------------------------------------------

  /** Approximate k-NN GRAPH over the whole collection by NN-descent
    * (Dong, Charikar & Li, "Efficient k-nearest neighbor graph
    * construction for generic similarity measures", WWW 2011) — the
    * one ANN index family the IVF/PQ/LSH/PCA/MRL faces don't cover:
    * those answer external queries against an index; this builds the
    * all-nodes neighbor graph that clustering, semantic dedup and
    * graph-based ANN (HNSW-style) start from. The principle: a
    * neighbor of a neighbor is likely a neighbor — start from a
    * deterministic pseudo-random graph, then each round proposes every
    * pair of nodes that share a current neighbor ("local join"),
    * scores the proposals, and keeps each node's top-k.
    *
    * Deterministic by construction (hash init, fixed-fold vec_dot,
    * (cos desc, idx) total tie-break) but data-dependent FP state
    * accumulates across rounds, so the face is rows-only by the
    * trained-twin convention; its measured quality face is
    * [[nnDescentRecall]] (floored in ContractSpec like the other
    * trained indexes).
    *
    * Scale shape: ids densify ONCE through [[Analytics.rankByRange]]
    * (range exchange, never a single-partition window); each round is
    * the symmetrized-edge self-equi-join on the shared-neighbor key
    * (Σ_u deg(u)² = n·(2k)² candidate rows — linear in n at fixed k,
    * never all-pairs), ONE (a, b)-keyed dedup-and-merge aggregate
    * over the bare pair ids (proposals + previous edges, map-side
    * pre-deduped BEFORE any scoring), then two idx-keyed joins
    * against the persisted (idx, embedding, norm) frame scoring each
    * DISTINCT pair exactly once, and a PARTITIONED per-node top-k
    * window. Each round's edge frame persists (the §7.9 iterative-op
    * rule: round r+1 reads round r twice — as both join sides of the
    * local join); `rounds` is FIXED (constant plan size), and NND's
    * own convergence result says 2–3 rounds capture most of the
    * recall at this k.
    *
    * Every round runs the FULL local join over fixed `rounds`: no
    * sampled join and no early exit. SCALE.md §7.11 measured Dong et
    * al.'s §3.2 ρ-sampled join at this configuration (k = 10,
    * rounds = 2): recall@10 fell 0.90 → 0.26 at ρ = 0.5, because at
    * fixed small rounds the descent's reach grows like (ρ·2k)^r.
    * §7.12 measured the §2.3 churn exit: it saves rounds only at
    * rounds ≥ 4, a depth no catalog face runs, and a data-dependent
    * round count would make the face's timing bimodal.
    *
    * Output: (node_id, neighbor_id, rank) for every node, ordered by
    * (node_id, rank) — the [[knnBruteForce]] shape over all nodes. */
  def nnDescentGraph(embeddings: DataFrame, k: Int = 10,
      rounds: Int = 2): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k,rounds >= 1; got $k,$rounds")
    graft.functions.Registry.ensure(embeddings.sparkSession)
    // eager: the embedding-carrying rank is materialized once and the
    // `nodes` cache built from it — the configuration the r19 NND
    // A/B pinned (lazy re-derivation measured noisier/slower under
    // the round-0 init + round-1 double consumption)
    val (ranked, n) = Analytics.rankByRange(
      embeddings.select(col("vec_id"), col("embedding")), Seq("vec_id"),
      eager = true)
    val nodes = ranked
      .select((col("__rank") - 1L).as("idx"), col("vec_id"),
        col("embedding"),
        expr("sqrt(vec_dot(embedding, embedding))").as("norm"))
      .persist()
    // deterministic pseudo-random init: k hash offsets in [1, n−1]
    // per node (never 0, so no self loops once n ≥ 2; the a ≠ b
    // filter below covers the n == 1 degenerate, where off is forced
    // to 1 and wraps back onto idx). Colliding offsets are collapsed
    // at the pair grain HERE — before scoring — so round-0 never
    // spends two top-k slots on the same neighbor
    val init = nodes.select(col("idx"),
        explode(expr(
          s"""transform(sequence(1, $k), j ->
             |  pmod(xxhash64(concat(CAST(idx AS STRING), ':',
             |    CAST(j AS STRING))), ${math.max(n - 1, 1)}) + 1L)"""
            .stripMargin)).as("off"))
      .select(col("idx").as("a"), pmod(col("idx") + col("off"),
        lit(n)).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
    // Superseded round frames are dropped eagerly, but ONLY for MID
    // rounds: round r < rounds materializes (count()) — which also
    // fills its predecessor's cache through lineage — and then
    // unpersists the predecessor (the §7.9 persist rule's complement:
    // without the count the unpersist would force recomputation, and
    // without the unpersist every generation stays pinned for the
    // session — the r15 audit nit). The FINAL round stays LAZY: an
    // eager barrier there serializes the last (heaviest) round away
    // from the caller's action — measured +6 s on the recall face,
    // whose brute-force baseline otherwise computes in PARALLEL with
    // the final round inside one job DAG. Exit state: nodes + the
    // last two generations cached (bounded, ContextCleaner-released
    // when the caller drops the frame — the btStrength convention);
    // every earlier generation is gone.
    var edges = nndTopK(nndScore(init, nodes), k).persist()
    for (r <- 1 to rounds) {
      val sym = edges.select(col("a"), col("b"))
        .unionAll(edges.select(col("b").as("a"), col("a").as("b")))
      // local join: nodes sharing a current neighbor, each unordered
      // pair proposed once then mirrored.
      val cand = sym.as("x").join(sym.as("y"),
          col("x.a") === col("y.a") && col("x.b") < col("y.b"))
        .select(col("x.b").as("a"), col("y.b").as("b"))
      val prop = cand.unionAll(cand.select(col("b").as("a"),
        col("a").as("b")))
      // AGGREGATE-FIRST merge (r19, guide §2.4 "share one exchange"):
      // dedup proposals AND fold in the previous round's edges in ONE
      // (a, b)-keyed aggregate BEFORE the scoring joins, so vec_dot
      // runs once per DISTINCT pair instead of once per proposal
      // (Σ_u deg(u)² proposals collapse to ≤ n·(2k)² distinct pairs)
      // and the exchange carries bare 16-byte (a, b) rows, map-side
      // pre-deduped, instead of scored rows. Re-scoring the carried
      // edges is free of drift: cos_sim is a deterministic fixed-fold
      // function of (a, b), so the max() the old merge took over
      // {new score, old score} is the same value this computes once.
      // The explicit repartition on `a` in front establishes the ONE
      // partitioning that the dedup aggregate ((a) ⊂ (a, b) satisfies
      // its clustering), the first scoring join and the per-node
      // top-k window all reuse — without it the aggregate exchanges
      // on (a, b) and the window re-exchanges the scored stream on
      // (a) right after.
      // (r18 had measured a distinct() on `prop` ALONE regressing
      // 10.6 → 15 s — that shape kept the old post-scoring merge
      // aggregate, so the dedup exchange was pure addition; folding
      // the dedup INTO the merge is what removes it. r19 measured,
      // sf0.1 warm: task time 113–119 → 92–99 s, shuffle 28 → 12 MB,
      // jobs 43 → 41, wall 11.9 → 11.0 s — wall moves less than task
      // time because the serialized round-1 materialization, not
      // executor work, owns the critical path at this sf.)
      val pairs = prop
        .unionAll(edges.select(col("a"), col("b")))
        .repartition(col("a"))
        .distinct()
      val merged = nndScore(pairs, nodes)
      // Mid-round generations beyond the first TRUNCATE lineage
      // (eager localCheckpoint): each round's logical plan otherwise
      // nests ~4 copies of its predecessor's (the sym self-join plus
      // two unions), so a deep descent's PLAN grows 4^r even while
      // the persist/unpersist discipline bounds its DATA — measured
      // at rounds = 6 the analysis-time blowup hit Spark's 2 GiB
      // plan-string cap before any executor did real work. Round 1
      // keeps the r16 persist+count path byte-identical (the
      // rounds = 2 catalog face's pinned band); a superseded
      // checkpointed generation is released by the ContextCleaner
      // when `edges` rebinds (unpersist() below is the explicit
      // release for the persisted round-1 frame).
      val next =
        if (r < rounds && r >= 2) nndTopK(merged, k).localCheckpoint(true)
        else nndTopK(merged, k).persist()
      if (r < rounds) {
        next.count()
        // explicit release works only for PERSISTED predecessors (the
        // round-1 frame): unpersist() clears CacheManager entries and
        // is a documented no-op on a localCheckpoint'd frame's RDD
        // blocks — superseded CHECKPOINTED generations (r >= 3) are
        // instead GC-released by the ContextCleaner when `edges`
        // rebinds below. Acceptable because at most one superseded
        // checkpoint (n·k rows) awaits collection at a time; if deep
        // descents ever show storage pressure, track the checkpointed
        // RDDs and call rdd.unpersist() directly.
        edges.unpersist()
      }
      edges = next
    }
    // the returned frame stays LAZY over the final round's cache and
    // the node frame, so a caller's filter (nnDescentRecall keeps 1%
    // of nodes) pushes INTO these joins — an eager checkpoint here
    // measured 2.4× on the recall face by materializing all n·k rows
    // first. The two live caches (n·k edges + n nodes, both bounded)
    // release via the ContextCleaner when the caller drops the frame
    // (the btStrength convention); only SUPERSEDED round frames are
    // unpersisted above.
    edges
      .join(nodes.select(col("idx").as("a"), col("vec_id").as("node_id")),
        Seq("a"))
      .join(nodes.select(col("idx").as("b"),
        col("vec_id").as("neighbor_id")), Seq("b"))
      .select(col("node_id"), col("neighbor_id"), col("rank"))
      .orderBy("node_id", "rank")
  }

  // score (a, b) idx pairs: two idx-keyed joins against the persisted
  // node frame, one codegen'd vec_dot per pair
  private def nndScore(pairs: DataFrame, nodes: DataFrame): DataFrame =
    pairs
      .join(nodes.select(col("idx").as("a"), col("embedding").as("ea"),
        col("norm").as("na")), Seq("a"))
      .join(nodes.select(col("idx").as("b"), col("embedding").as("eb"),
        col("norm").as("nb")), Seq("b"))
      .select(col("a"), col("b"),
        (expr("vec_dot(ea, eb)") / (col("na") * col("nb"))).as("cos_sim"))

  // per-node top-k with the (cos desc, idx) total tie-break —
  // PARTITIONED window (one hash shuffle on the node key)
  private def nndTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("a"))
      .orderBy(col("cos_sim").desc, col("b"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Recall@k of the NN-descent graph against the exact brute-force
    * baseline on the [[knnBruteForce]] query sample — the graph's
    * measured-quality face (one row; ContractSpec floors it). */
  def nnDescentRecall(embeddings: DataFrame, k: Int = 10,
      rounds: Int = 2, queryMod: Int = 100): DataFrame = {
    val graph = nnDescentGraph(embeddings, k, rounds)
      .where(pmod(col("node_id"), lit(queryMod)) === 0)
      .select(col("node_id").as("query_id"), col("neighbor_id"))
    annRecall(knnBruteForce(embeddings, k, queryMod), graph,
      s"nnd_k${k}_r$rounds")
  }
}
