package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shared test session is built by the mains' recipe, `Run.session`,
  * at `local[4]`. The values are read from the context's SparkConf, which
  * suites that flip a runtime SQL conf cannot change.
  */
class RunSpec extends AnyFunSuite with SparkSpec {

  test("the test session carries the session recipe at 4 cores") {
    val conf = spark.sparkContext.getConf
    assert(spark.sparkContext.master == "local[4]")
    val recipe = Map(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "4096",
      "spark.shuffle.sort.bypassMergeThreshold" -> "0")
    assert(recipe.map { case (k, _) => k -> conf.get(k, "<unset>") } == recipe)
  }
}
