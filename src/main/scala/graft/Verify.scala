package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare (tools/check.py).
  * Usage: [SPARK_GRAFT_QUERIES=q1,q2] runMain graft.Verify <sfDir> <outDir>
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // optional comma-separated subset for targeted re-checks (the Bench
    // convention): only those results and oracle entries are written, so
    // tools/check.py gates just them. Unset, every query is dumped.
    val subset = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).toSet)
    val unknown = subset.toSeq.flatten.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"SPARK_GRAFT_QUERIES names unregistered queries: ${unknown.sorted.mkString(", ")}")
    def wanted(name: String) = subset.forall(_.contains(name))
    val spark = Run.session(Run.cores)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => wanted(name) }
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
    val json = SparkEntry.oracleSql
      .filter { case (name, _) => wanted(name) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
