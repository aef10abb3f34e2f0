package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test JVM, built by
  * [[EngineSession.local]] so the tests run under the engine's
  * execution contract. */
object TestSpark {
  lazy val spark: SparkSession = EngineSession.local("4")
  val Sf0001 = "/root/testdata/sf0.001"
}
