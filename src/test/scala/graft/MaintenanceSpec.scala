package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Maintenance

class MaintenanceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("upsert: update wins on collision, survivors keep values, inserts land") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "v", "x")
    val updates = Seq((2L, "B2", 99.0), (4L, "d", 40.0)).toDF("k", "v", "x")
    val got = Maintenance.upsert(base, updates, Seq("k"))
      .as[(Long, String, Double)].collect().sortBy(_._1).toList
    assert(got === List((1L, "a", 10.0), (2L, "B2", 99.0),
      (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("upsert with an empty delta is the identity") {
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val got = Maintenance.upsert(base, base.limit(0), Seq("k"))
      .as[(Long, String)].collect().sortBy(_._1).toList
    assert(got === List((1L, "a"), (2L, "b")))
  }

  test("mergeCounts folds delta aggregates: existing keys sum, new keys insert") {
    val snap = Seq(("a", 10L), ("b", 5L)).toDF("k", "visits")
    val delta = Seq(("b", 2L), ("c", 7L)).toDF("k", "visits")
    val got = Maintenance.mergeCounts(snap, delta, Seq("k"), "visits")
      .as[(String, Long)].collect().sortBy(_._1).toList
    assert(got === List(("a", 10L), ("b", 7L), ("c", 7L)))
  }

  test("incremental visits fold equals the one-shot aggregate (merge law)") {
    val ev = graft.sources.Tables.logEvents(spark, TestSpark.Sf0001)
    val folded = graft.operators.Metrics.visitsIncremental(ev)
      .as[(String, Long)].collect().toList
    val oneShot = graft.operators.Metrics.visitsPerMinute(ev)
      .as[(String, Long)].collect().toList
    assert(folded === oneShot)
  }

  test("snapshotDiff tags I/U/D, drops unchanged, and is null-safe") {
    val old = Seq((1L, Option("a")), (2L, Option("b")), (3L, None),
      (4L, Option("keep"))).toDF("k", "v")
    val neu = Seq((1L, Option("a2")), (3L, None), (4L, Option("keep")),
      (5L, Option("new"))).toDF("k", "v")
    val got = Maintenance.snapshotDiff(old, neu, Seq("k"), Seq("v"))
      .as[(Long, String, Option[String], Option[String])]
      .collect().sortBy(_._1).toList
    // k=3 null→null is unchanged (null-safe compare) and k=4 is equal:
    // neither may appear
    assert(got === List(
      (1L, "U", Some("a"), Some("a2")),
      (2L, "D", Some("b"), None),
      (5L, "I", None, Some("new"))))
  }

  test("snapshotDiff round-trips: applying the diff to old rebuilds new") {
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v")
    val neu = Seq((1L, "a"), (2L, "B"), (5L, "e")).toDF("k", "v")
    val diff = Maintenance.snapshotDiff(old, neu, Seq("k"), Seq("v"))
    val touched = diff.select("k")
    val rebuilt = old.join(touched, Seq("k"), "left_anti")
      .unionByName(diff.where($"op" =!= "D")
        .select($"k", $"new_v".as("v")))
    assert(rebuilt.as[(Long, String)].collect().sorted.toList ===
      neu.as[(Long, String)].collect().sorted.toList)
  }

  test("zvalue interleaves bits round-robin and propagates nulls") {
    graft.functions.ZValue.register(spark)
    import org.apache.spark.sql.functions.expr
    // x = 0b1010, y = 0b0101 interleave (x bit i -> out 2i, y -> 2i+1):
    // x sets out bits {2,6}, y sets {1,5} -> 01100110 = 0x66; swapping
    // the args flips the pairing -> 10011001 = 0x99
    val got = Seq((10L, 5L)).toDF("x", "y")
      .select(expr("zvalue(4, x, y)"), expr("zvalue(4, y, x)"),
        expr("zvalue(2, x, y)"), // masks to low 2 bits: 0b10,0b01 -> 0110
        expr("zvalue(4, x, y, x)"), // 3-way: bit i of x at 3i and 3i+2
        expr("zvalue(4, x, CAST(NULL AS BIGINT))"))
      .as[(Long, Long, Long, Long, Option[Long])].head()
    assert(got._1 === 0x66L)
    assert(got._2 === 0x99L)
    assert(got._3 === 0x6L)
    // 3-way reference computed independently
    def ref3(vals: Seq[Long], bits: Int): Long =
      (0 until bits).flatMap(i => vals.zipWithIndex.map { case (v, j) =>
        ((v >> i) & 1L) << (i * vals.size + j) }).reduce(_ | _)
    assert(got._4 === ref3(Seq(10L, 5L, 10L), 4))
    assert(got._5 === None)
  }

  test("zvalue matches a random-input reference through codegen") {
    graft.functions.ZValue.register(spark)
    import org.apache.spark.sql.functions.expr
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(200)((rnd.nextLong().abs & 0xffffL,
      rnd.nextLong().abs & 0xffffL))
    val got = rows.toDF("x", "y").select($"x", $"y",
      expr("zvalue(16, x, y)").as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) =>
      val want = (0 until 16).map(i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1)))
        .reduce(_ | _)
      assert(z === want, s"x=$x y=$y")
    }
  }
}
