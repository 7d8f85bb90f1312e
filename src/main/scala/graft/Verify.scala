package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // dev loop: extra args name specific queries to dump (driver passes 2)
    val only = args.drop(2).toSet
    val spark = graft.core.ScaleDefaults.localSession()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // one retry: across a ~300-query single-JVM sweep a query can
      // fail transiently (GC pause hitting a broadcast timeout, tmp
      // eviction) — both observed failing-then-passing unchanged. A
      // retry that then matches the oracle is a correct result; a
      // genuine defect fails both attempts and still reports.
      def attempt(): Unit = fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      try attempt()
      catch { case e1: Throwable =>
        System.err.println(s"[verify] $name attempt 1 failed (retrying): ${e1.getMessage}")
        try attempt()
        catch { case e2: Throwable =>
          System.err.println(s"[verify] $name failed: ${e2.getMessage}")
        }
      }
      // per-query persists (LSH signatures, CC labels) must not pile up
      // across the 60+ query run
      spark.sharedState.cacheManager.clearCache()
    }
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
