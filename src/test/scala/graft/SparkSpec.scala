package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (JVM-wide): the mains' recipe
  * at a fixed `local[4]`. Plan assertions look for artifact names in scan
  * locations, which Spark abbreviates past `maxMetadataStringLength`
  * (default 100) — shorter than a scan path under `target/test-tmp`.
  */
object SparkTest {
  lazy val session: SparkSession =
    Run.session(4, "spark.sql.maxMetadataStringLength" -> "1000")
}

trait SparkSpec {
  lazy val spark: SparkSession = SparkTest.session
}
