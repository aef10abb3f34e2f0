package graft.functions

import org.apache.spark.sql.SparkSession

/** Memoized once-per-session registration of every graft function.
  *
  * Operators guard their SQL-facing expressions with
  * `Registry.ensure(df.sparkSession)` instead of calling the
  * individual `X.register` helpers: the first call in a session
  * registers the full surface, every later call is one map probe
  * under a short lock. This keeps registration work (and the
  * `SimpleFunctionRegistry ... replaced a previously registered
  * function` WARN it emits on re-registration) out of hot paths and
  * timed bench regions.
  *
  * Cluster deployments that set
  * `spark.sql.extensions=graft.GraftExtensions` get the same surface
  * injected at session build; `ensure` then re-registers once per
  * session with identical builders, so both routes stay equivalent.
  */
object Registry {
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
      registerAll(spark)
      done.put(spark, java.lang.Boolean.TRUE)
      ()
    }
  }

  private def registerAll(spark: SparkSession): Unit = {
      VectorFunctions.register(spark)
      VecSumAgg.register(spark)
      GramAgg.register(spark)
      MinHashFunctions.register(spark)
      SimHashFunctions.register(spark)
      WinnowFingerprints.register(spark)
      TokenShingleHashes.register(spark)
      PolyHash62.register(spark)
      TopKSketchFunctions.register(spark)
      NgramStats.register(spark)
      ZValue.register(spark)
      CharNgrams.register(spark)
      BloomFunctions.register(spark)
      LcsFunctions.register(spark)
      SetFunctions.register(spark)
      LogRegFunctions.register(spark)
    }
}
