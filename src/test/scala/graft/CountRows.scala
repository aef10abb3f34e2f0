package graft

/** Result-cardinality probe (test scope): count a catalog query's
  * output rows at several data dirs in one session — the evidence tool
  * behind SCALE.md §7.2 (it separated "operator time grew" from "the
  * TRUE result set grew" when the 30× scaling point flagged
  * dedup_ngram_jaccard, exposing the fixture's quadratic pair blow-up).
  *
  * Run: `sbt "Test/runMain graft.CountRows <query> <dir> [dir ...]"`.
  */
object CountRows {
  def main(args: Array[String]): Unit = {
    val spark = EngineSession.local("32")
    spark.sparkContext.setLogLevel("ERROR")
    val name = args(0)
    require(SparkEntry.queries.contains(name), s"unknown query $name")
    args.drop(1).foreach { d =>
      println(s"ROWS $name $d ${SparkEntry.queries(name)(spark, d).count()}")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
