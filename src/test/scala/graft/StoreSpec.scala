package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables
import graft.operators.Metrics

/** Exact distinct counts behind the `set_dthr` store family. */
class StoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("salted exact distinct equals plain exact distinct") {
    val ev = Tables.logEvents(spark, TestSpark.Sf0001)
    val plain = Metrics.uniqueUsersPerMinute(ev).collect().toSeq
    val salted = Metrics.uniqueUsersPerMinuteSalted(ev).collect().toSeq
    assert(salted === plain)
  }
}
