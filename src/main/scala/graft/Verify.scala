package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // dev-only third arg: comma-separated op names to dump a SUBSET
    // while iterating (tools/oracle_check.py only compares the dirs
    // present). The driver always calls with two args = full dump.
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").filter(_.nonEmpty).toSet else Set.empty
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = api.GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // as in Bench: each query computes from the parquet inputs, never
      // from an entry an earlier query's build left in the SQL cache
      spark.sharedState.cacheManager.clearCache()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    writeOracleJson(outDir, SparkEntry.oracleSql)
    spark.stop()
  }

  /** Dump oracle SQL as JSON for the DuckDB side. Shared with
    * tools.CapBoundaryCheck so the truncating-regime certification
    * always compares against the SQL of the CURRENTLY COMPILED code,
    * never a stale prior Verify dump (ADVICE r15). */
  private[graft] def writeOracleJson(outDir: String,
      oracles: Map[String, String]): Unit = {
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
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
