package graft

/** Mirrors the driver's smoke check: SparkEntry.entry must return >0 rows. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Run.session(Run.cores)
    val n = SparkEntry.entry(spark).count()
    println(s"ENTRY_ROWS=$n")
    assert(n > 0, "driver smoke check would fail: entry() returned 0 rows")
    spark.stop()
  }
}
