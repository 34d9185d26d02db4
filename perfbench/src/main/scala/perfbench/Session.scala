package perfbench

import org.apache.spark.sql.SparkSession

/** The one session recipe every workload uses: the settings of the engine's
  * `graft.Bench` at `local[N]`, with all scratch state under the run's own
  * work directory.
  */
object Session {

  def settings(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.shuffle.sort.bypassMergeThreshold" -> "0")

  def start(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    settings(cores).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The recipe as recorded in every result. */
  def describe(cores: Int): Map[String, Any] =
    Map("master" -> s"local[$cores]") ++ settings(cores).toMap
}
