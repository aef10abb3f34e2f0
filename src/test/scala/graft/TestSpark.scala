package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test JVM, built through
  * [[EngineSession.withEngineConf]] so the tests run under the engine's
  * execution contract. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = EngineSession.withEngineConf(SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val Sf0001 = "/root/testdata/sf0.001"
}
