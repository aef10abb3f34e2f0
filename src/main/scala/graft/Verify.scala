package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // engine-contract configs live in ONE place — graft.EngineSession
    val spark = EngineSession.local(cpus)
    new java.io.File(outDir).mkdirs()
    // optional SPARK_GRAFT_ONLY subset (same contract as Bench)
    val selected = SparkEntry.onlySelected(spark, "[verify] ABORT")
    // A query that fails here produces no parquet dump, and the driver's
    // compare then silently drops it from the round's correctness report
    // (it happened: round 9 lost 3 queries to a one-line source change).
    // Retry once — transient executor/OOM flakes recover — and end with a
    // loud FAILED summary so a real regression can't hide.
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    selected.foreach { case (name, fn) =>
      def attempt(): Unit = fn(spark, sfDir).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name")
      try attempt()
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed (retrying): ${e.getMessage}")
        try attempt()
        catch { case e2: Throwable =>
          System.err.println(s"[verify] $name failed: ${e2.getMessage}")
          failed += name
        }
      }
      spark.catalog.clearCache()
    }
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] FAILED ${failed.size}/${selected.size}: ${failed.sorted.mkString(",")}")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
