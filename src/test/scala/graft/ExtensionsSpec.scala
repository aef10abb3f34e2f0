package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.types.IntegerType

/** `spark.sql.extensions=graft.GraftExtensions` wires the full custom
  * surface into a fresh session: SQL-only function access and the
  * TopKPerGroup planner strategy, with no imperative register calls. */
class ExtensionsSpec extends AnyFunSuite {

  test("extensions class registers functions and planner strategy") {
    val base = TestSpark.spark // shared context must exist first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // `spark.sql.extensions` is a STATIC conf — on a fresh cluster it is
    // read at context creation; the test JVM's context already exists,
    // so use the equivalent programmatic route through the same class
    val s = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions())
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate() // do NOT stop: it shares the test JVM's SparkContext
    try {
      import s.implicits._
      // functions reachable from pure SQL
      val dot = s.sql(
        """SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
          |               array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d"""
          .stripMargin).collect()(0).getDouble(0)
      assert(dot === 11.0)
      assert(s.sql("SELECT size(minhash_sig(split('a b c d e', ' '), 4, 64)) AS n")
        .collect()(0).getInt(0) === 64)
      assert(s.sql("SELECT size(winnow_fingerprints('abcdefghijklmnop', 8, 4)) AS n")
        .collect()(0).getInt(0) >= 1)
      assert(s.sql(
        "SELECT simhash_agg(poly_hash62(t), 1L) AS h FROM VALUES ('a'), ('b') AS v(t)")
        .collect()(0).getLong(0) !== 0L)
      // per-row kernel agrees with the aggregate formulation
      val pair = s.sql(
        """SELECT simhash64(array('a', 'b')) AS d,
          |  (SELECT simhash_agg(poly_hash62(t), 1L) FROM VALUES ('a'), ('b') AS v(t)) AS a"""
          .stripMargin).collect()(0)
      assert(pair.getLong(0) === pair.getLong(1))
      // poly_hash62 reference values: portable definition is pinned —
      // h131("ab") = (97*131+98) = 12805, h137("ab") = (97*137+98) = 13387
      assert(s.sql("SELECT poly_hash62('ab') AS h").collect()(0).getLong(0)
        === (12805L | (13387L << 31)))
      val tk = s.sql(
        "SELECT map_keys(topk_sketch(t, 1, 8))[0] AS top FROM VALUES ('a'), ('b'), ('a') AS v(t)")
        .collect()(0).getString(0)
      assert(tk === "a")
      // round-3 additions: ngram_stats, vec_sum
      val ng = s.sql(
        "SELECT ngram_stats(split('a b a b a b', ' '), 3) AS st")
        .collect()(0).getStruct(0)
      assert((ng.getLong(0), ng.getLong(1)) === (4L, 2L))
      val vsRow = s.sql(
        """SELECT vec_sum(v) AS s FROM VALUES
          |  (array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))),
          |  (array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS t(v)""".stripMargin)
        .collect()(0).getStruct(0)
      assert(vsRow.getSeq[Double](0) === Seq(4.0, 6.0))
      assert(vsRow.getLong(1) === 2L)

      // planner strategy injected: plan the logical node directly,
      // without TopK.topKPerGroup's experimental-strategies fallback
      val df = Seq(("x", 3), ("x", 1), ("x", 2), ("y", 9)).toDF("g", "v")
      val rankAttr = AttributeReference("rk", IntegerType, nullable = false)()
      val ranked = org.apache.spark.sql.GraftBridge.ofRows(s,
        graft.plans.TopKPerGroup(df.queryExecution.analyzed,
          Seq("g"), Seq("v" -> true), 2, rankAttr))
      val got = ranked.collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
      assert(got === Set(("x", 3, 1), ("x", 2, 2), ("y", 9, 1)))
      // exec nodes print with the Exec suffix stripped
      assert(ranked.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
