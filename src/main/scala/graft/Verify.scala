package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for a DuckDB oracle compare. Exits nonzero,
  * naming the failed queries on stderr, when any query threw. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional dev filter: extra args name queries to dump (driver passes 2)
    val only = args.drop(2).toSet
    val spark = GraftSession()
    val failed =
      try dump(spark, sfDir, outDir,
        SparkEntry.queries.filter { case (name, _) => only.isEmpty || only(name) })
      finally spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Write each query's output to `outDir/<name>` and `oracle_sql.json`;
    * a query that throws is reported on stderr and skipped, never
    * stopping the rest. Returns the names of the queries that threw. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failed = queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed
  }
}
