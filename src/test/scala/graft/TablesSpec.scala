package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Regression guard for `Tables.events`: the driver's testdata has shipped
  * `ts` as INT64 nanos (pre-r9) and as TIMESTAMP(MICROS, NTZ) (r9+). The
  * loader must accept either encoding and yield identical `ts`/`ts_ns` for
  * the same instants, so the next regeneration can't silently break 31
  * queries again.
  */
class TablesSpec extends AnyFunSuite with SparkSpec {

  // Whole-microsecond instants (nanos % 1000 == 0) so both encodings can
  // represent them exactly; plus one sub-microsecond case for the nanos path.
  private val microInstantsNs = Seq(
    1700000000000000000L, // 2023-11-14T22:13:20Z
    1700000000123456000L,
    1893456000000001000L  // 2030-01-01T00:00:00.000001Z
  )

  private def writeFixture(dir: String, tsField: StructField, tsValue: Long => Any): Unit = {
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      tsField,
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)
    ))
    val rows = microInstantsNs.zipWithIndex.map { case (ns, i) =>
      Row(i.toLong, tsValue(ns), 42L, "view", 1.5, "{}")
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  test("events loader yields identical ts/ts_ns for INT64-nanos and TIMESTAMP_NTZ-micros encodings") {
    val base = Files.createTempDirectory("tables-spec").toString
    val nanosDir = s"$base/nanos"
    val ntzDir   = s"$base/ntz"

    // Legacy encoding: ts as a raw INT64 nanosecond epoch (what the
    // nanosAsLong read of parquet TIMESTAMP(NANOS) surfaces).
    writeFixture(nanosDir, StructField("ts", LongType), ns => ns)
    // Current encoding: ts as TIMESTAMP_NTZ at microsecond resolution.
    writeFixture(ntzDir, StructField("ts", TimestampNTZType),
      ns => java.time.LocalDateTime.ofEpochSecond(
        ns / 1000000000L, (ns % 1000000000L).toInt, java.time.ZoneOffset.UTC))

    val a = Tables.events(spark, nanosDir).orderBy("event_id")
      .select("event_id", "ts", "ts_ns").collect()
    val b = Tables.events(spark, ntzDir).orderBy("event_id")
      .select("event_id", "ts", "ts_ns").collect()
    assert(a.toSeq == b.toSeq)
    // ts_ns carries the exact epoch; ts is its microsecond truncation.
    assert(a.map(_.getLong(2)).toSeq == microInstantsNs)
  }

  test("events loader keeps sub-microsecond nanos in ts_ns on the legacy path") {
    val dir = Files.createTempDirectory("tables-spec-ns").toString
    val exactNs = 1700000000123456789L
    writeFixture(dir, StructField("ts", LongType), _ => exactNs)
    val row = Tables.events(spark, dir).select("ts", "ts_ns").head()
    assert(row.getLong(1) == exactNs)
    assert(row.getTimestamp(0).getTime == exactNs / 1000000L) // ms truncation of the same instant
  }

  test("events loader reads the driver testdata (TIMESTAMP_NTZ micros) without analysis errors") {
    val df = Tables.events(spark, "/root/testdata/sf0.001")
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.schema("ts_ns").dataType == LongType)
    val r = df.agg(count(lit(1)), min("ts_ns"), max("ts_ns")).head()
    assert(r.getLong(0) > 0)
    // micros-encoded data: every ns epoch is a whole microsecond
    val rem = df.filter(col("ts_ns") % 1000 =!= 0).count()
    assert(rem == 0L)
    // ts and ts_ns agree
    val mism = df.filter(unix_micros(col("ts")) * 1000L =!= col("ts_ns")).count()
    assert(mism == 0L)
  }

  test("a rewritten table supersedes its memoized scan") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tables-spec-rewrite").toString
    (1 to 3).foreach { n =>
      (1 to n).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      assert(Tables.documents(spark, dir).count() == n.toLong)
    }
    assert(Tables.scanCache.size(s"$dir/documents.parquet") == 1)
  }

  test("a missing table path raises Spark's PATH_NOT_FOUND naming the path") {
    val dir = Files.createTempDirectory("tables-spec-missing").toString + "/absent"
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Tables.documents(spark, dir))
    assert(e.getCondition == "PATH_NOT_FOUND")
    assert(e.getMessage.contains(s"$dir/documents.parquet"))
  }
}
