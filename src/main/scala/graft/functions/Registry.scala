package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import FunctionArgs.intLit

/** The engine's SQL function surface: one table of (name, builder)
  * pairs, and the one route that puts it into a session.
  *
  * Operators guard their SQL-facing expressions with
  * `Registry.ensure(df.sparkSession)`: the first call in a session
  * registers every function in the table, every later call is one map
  * probe under a short lock. This keeps registration work (and the
  * `SimpleFunctionRegistry ... replaced a previously registered
  * function` WARN it emits on re-registration) out of hot paths and
  * timed bench regions. Registration is per session rather than
  * injected at session build (`spark.sql.extensions` is a static conf,
  * read once when the context is created) because
  * `SparkEntry.queries` takes any `SparkSession` it is handed.
  */
object Registry {
  /** Every graft SQL function. A builder whose function takes a
    * compile-time integer (k, n, bands, capacity, ...) reads it through
    * [[FunctionArgs.intLit]]. */
  private[graft] val table: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("vec_dot", e => FloatVecDot(e(0), e(1))),
    ("vec_dot_i8", e => Int8VecDot(e(0), e(1))),
    ("vec_sum", e => VecSumAgg(e(0))),
    ("vec_gram", e => GramAgg(e(0))),
    ("minhash_sig", e => MinHashSig(e(0),
      intLit("minhash_sig", e, 1), intLit("minhash_sig", e, 2))),
    ("minhash_bands", e => MinHashBands(e(0), intLit("minhash_bands", e, 1))),
    // the analyzer wraps an AggregateFunction in an aggregate position
    ("simhash_agg", e => SimHashAgg(e(0), e(1))),
    ("simhash64", e => SimHashDoc(e(0))),
    ("winnow_fingerprints", e => WinnowFingerprints(e(0),
      intLit("winnow_fingerprints", e, 1), intLit("winnow_fingerprints", e, 2))),
    ("token_shingle_hashes", e => TokenShingleHashes(e(0),
      intLit("token_shingle_hashes", e, 1))),
    ("poly_hash62", e => PolyHash62(e(0))),
    ("topk_sketch", e => TopKSketchAgg(e(0),
      intLit("topk_sketch", e, 1), intLit("topk_sketch", e, 2))),
    ("ngram_stats", e => NgramStats(e(0), intLit("ngram_stats", e, 1))),
    ("zvalue", e => ZValue(e)),
    ("char_ngrams", e => CharNgrams(e(0), intLit("char_ngrams", e, 1))),
    // Spark's own runtime-filter expressions as explicit functions, so a
    // filter built once over a corpus (one blob in the standard
    // `util.sketch.BloomFilter` serialization) can be persisted and
    // probed by later batches. Both sides hash with xxhash64 (LongType
    // in); bloom_probe's filter argument must be foldable.
    ("bloom_agg", { e =>
      require(e.length == 3,
        s"bloom_agg(key, n_items, n_bits) takes 3 arguments, got ${e.length}")
      new BloomFilterAggregate(e(0), e(1), e(2), 0, 0)
    }),
    ("bloom_probe", { e =>
      require(e.length == 2,
        s"bloom_probe(bloom, key) takes 2 arguments, got ${e.length}")
      new BloomFilterMightContain(e(0), e(1))
    }),
    ("lcs_len", e => LcsLen(e(0), e(1))),
    ("sorted_inter_size", e => SortedLongInterSize(e(0), e(1))),
    ("logreg_grad", e => LogRegGradAgg(e(0), e(1), e(2), e(3), e(4))))

  /** Sessions already registered, weakly held so stopped sessions
    * GC normally; the map is tiny (sessions per JVM) and the lock is
    * cheap enough for hot paths (steady state is one map probe under
    * it). Registration itself runs INSIDE the lock, and the session
    * is marked done only AFTER every function registered: a
    * concurrent caller can never observe a half-registered session,
    * and a registration failure leaves the session unmarked so the
    * next ensure() retries instead of silently serving a partial
    * function surface. */
  private val done = new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()

  def ensure(spark: SparkSession): Unit = done.synchronized {
    if (!done.containsKey(spark)) {
      table.foreach { case (name, builder) =>
        spark.sessionState.functionRegistry
          .createOrReplaceTempFunction(name, builder, "built-in")
      }
      done.put(spark, java.lang.Boolean.TRUE)
      ()
    }
  }
}
