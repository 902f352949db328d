package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    JvmCheck.warnIfModulesClosed()
    val Array(sfDir, outDir) = args
    val spark = LocalSession(defaultCpus = 4)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=csv-of-names limits the run (dev tool; driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
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
    // oracleSqlFor, not oracleSql: corpus-dependent rows (d07's derived
    // SimHash width) must dump the SQL matching the plan THIS run executed —
    // a static 64-bit d07 oracle replayed on a >32k-doc corpus would
    // hash-mismatch the derived 128-bit route (r18 ADVICE).
    val json = SparkEntry.oracleSqlFor(spark, sfDir)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Caches.clearAll()
    spark.stop()
  }
}
