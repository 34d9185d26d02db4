package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe every main and the test session use.
  *
  * `cores` is the run's width: `SPARK_GRAFT_CPUS` when set, else the
  * JVM's processor count. `session(cores)` runs `local[cores]` with as
  * many shuffle partitions, AQE on, UTC, no UI, a large codegen cache and
  * the sort-based shuffle writer. `conf` adds a caller's own keys, such
  * as `Demo`'s warehouse dir.
  */
object Run {

  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  private def recipe(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // the generated-class cache defaults to 100 entries; 113 queries x
    // several codegen stages each evict EVERYTHING between a query's
    // interleaved samples, so every sample would re-pay janino
    // compilation (~0.1-0.2 s/stage — a uniform +45% on the first
    // interleaved run). Steady-state execution is what the bench is
    // after; compilation amortizes to nothing over a real corpus.
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    // Shuffle writer: with R reducers under the bypass threshold
    // (default 200), every map task writes R partition files and then
    // merges them — at shuffle.partitions=32 that is 32 file
    // creates + codec streams per map task (M x R tiny files), which
    // profiling showed costing 100-160 ms of shuffle-write time per
    // map task for kilobyte-sized shuffles (the dominant fixed cost
    // of EVERY exchange at bench scale). Threshold 0 selects the
    // sort-based writer: ONE output file + index per map task,
    // whatever R is. On a production cluster R > 200 so the bypass
    // path never fires and this setting is a no-op — it only removes
    // the small-R filesystem-metadata pathology.
    "spark.shuffle.sort.bypassMergeThreshold" -> "0")

  def session(cores: Int, conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]")
    (recipe(cores) ++ conf).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
