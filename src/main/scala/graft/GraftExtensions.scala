package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions._

/** Production packaging of every custom Catalyst piece in the engine:
  * set `spark.sql.extensions=graft.GraftExtensions` (spark-submit /
  * cluster config) and all graft functions plus the TopKPerGroup
  * planner strategy are available in every session — no imperative
  * per-session `register(...)` calls needed, and SQL-only users (JDBC,
  * notebooks) get the full surface.
  *
  * The imperative `register` helpers on each function object remain
  * for embedded/test use; both routes build the identical expressions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def fn(ext: SparkSessionExtensions, name: String, usage: String)(
      builder: Seq[Expression] => Expression): Unit =
    ext.injectFunction((FunctionIdentifier(name),
      new ExpressionInfo(
        classOf[GraftExtensions].getName, null, name, usage,
        "", "", "", "", "", "", "built-in"),
      builder))

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    // rewrite row_number-window + rank<=k filters into bounded-heap
    // TopKPerGroup (no partition sort); see TopKRewriteRule guards
    ext.injectOptimizerRule(_ => graft.plans.TopKRewriteRule)

    fn(ext, "vec_dot",
      "vec_dot(a, b) - codegen'd double dot product of two float arrays") {
      exprs => FloatVecDot(exprs(0), exprs(1))
    }
    fn(ext, "vec_dot_i8",
      "vec_dot_i8(a, b) - codegen'd exact long dot product of two tinyint arrays") {
      exprs => Int8VecDot(exprs(0), exprs(1))
    }
    fn(ext, "minhash_sig",
      "minhash_sig(tokens, k, numPerm) - per-row MinHash signature of word k-grams")(
      MinHashFunctions.sigBuilder)
    fn(ext, "minhash_bands",
      "minhash_bands(sig, bands) - LSH band keys of a MinHash signature")(
      MinHashFunctions.bandsBuilder)
    fn(ext, "winnow_fingerprints",
      "winnow_fingerprints(text, k, w) - distinct winnowing fingerprints of k-char grams")(
      WinnowFingerprints.builder)
    fn(ext, "token_shingle_hashes",
      "token_shingle_hashes(text, l) - portable hash per l-token shingle position")(
      TokenShingleHashes.builder)
    fn(ext, "poly_hash62",
      "poly_hash62(str) - engine-portable 62-bit polynomial string hash")(
      PolyHash62.builder)
    fn(ext, "simhash_agg",
      "simhash_agg(hash, weight) - 64-bit weighted SimHash aggregate") {
      exprs => SimHashAgg(exprs(0), exprs(1))
    }
    fn(ext, "simhash64",
      "simhash64(tokens) - per-row 64-bit SimHash of a token array") {
      exprs => SimHashDoc(exprs(0))
    }
    fn(ext, "topk_sketch",
      "topk_sketch(col, k, capacity) - Space-Saving heavy-hitters sketch")(
      TopKSketchFunctions.builder)
    fn(ext, "ngram_stats",
      "ngram_stats(tokens, n) - struct(n_ngrams, n_distinct_ngrams) per row")(
      NgramStats.builder)
    fn(ext, "vec_sum",
      "vec_sum(vec) - element-wise sum aggregate of float arrays: struct(sum, n)") {
      exprs => VecSumAgg(exprs(0))
    }
    fn(ext, "zvalue",
      "zvalue(bits, c1, c2, ...) - Morton (Z-order) bit-interleave of integer codes")(
      ZValue.builder)
    fn(ext, "char_ngrams",
      "char_ngrams(text, n) - generator: one row per overlapping character n-gram")(
      CharNgrams.builder)
    fn(ext, "bloom_agg",
      "bloom_agg(key, n_items, n_bits) - Bloom-filter aggregate over xxhash64'd longs")(
      BloomFunctions.aggBuilder)
    fn(ext, "bloom_probe",
      "bloom_probe(bloom, key) - membership probe against a bloom_agg blob")(
      BloomFunctions.probeBuilder)
    fn(ext, "lcs_len",
      "lcs_len(a, b) - longest-common-subsequence length of two token arrays")(
      LcsFunctions.lcsBuilder)
  }
}
