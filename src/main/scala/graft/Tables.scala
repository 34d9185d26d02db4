package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided parquet tables (see TESTDATA.md).
  *
  * Design notes for scale: every loader returns a plain scan `DataFrame` so
  * Catalyst can push filters/projections into the parquet reader. No rows
  * are cached here — callers decide (only small dims like
  * `region`/`nation`/`customer` are broadcast-worthy); only the resolved
  * scan plan is memoized, see [[scanCache]].
  */
object Tables {

  /** The resolved base-table scans, memoized per session on the table's
    * [[Listing]] token (lifecycle: [[Memo]]). `spark.read.parquet`
    * re-lists the path and re-reads a parquet footer for schema inference
    * ON THE DRIVER at every call — pure metadata work a production
    * deployment amortizes in its catalog/metastore, but which a 200-query
    * registry re-pays on every invocation of every query. The memoized
    * DataFrame is a resolved scan PLAN (file index + schema; execution
    * still reads the parquet bytes each run — no rows are cached). A
    * table that GROWS at the same path (the incremental-append corpora
    * the *IncrSpec suites and the nightly exercise) mints a new token,
    * which supersedes the old entry.
    */
  private[graft] val scanCache = new Memo[String, DataFrame]()

  private def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    // a missing path lists empty and the read raises Spark's
    // PATH_NOT_FOUND naming it; a failed build memoizes nothing
    scanCache.latest(spark, path, Listing.token(spark, path))(
      spark.read.parquet(path))
  }

  def region(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = t(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "embeddings")

  /** `events.parquet` has shipped with two encodings for `ts`, so the loader
    * adapts to whichever the scan reports and always surfaces both:
    *   - `ts`    TimestampType, microsecond resolution (equals DuckDB's
    *             `CAST(ts AS TIMESTAMP)`; session TZ is pinned UTC so an
    *             NTZ→TS reinterpretation is exact),
    *   - `ts_ns` LongType, nanosecond epoch for ordering/tie-breaks.
    * Encodings seen:
    *   - INT64 TIMESTAMP(NANOS): Spark's vectorized reader rejects it
    *     ([PARQUET_TYPE_ILLEGAL]), so we read the nanos as a raw long
    *     (`spark.sql.legacy.parquet.nanosAsLong`) and derive `ts` with an
    *     integer `div` (ns epochs ~1.7e18 exceed double's 2^53 exact range,
    *     so fp division would round the microsecond),
    *   - TIMESTAMP(MICROS) with/without TZ adjustment: read natively and
    *     derive `ts_ns = unix_micros(ts) * 1000` (exact — micros fit a long
    *     with room for the *1000).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw
          .withColumn("ts_ns", col("ts").cast("long"))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => // TimestampType or TimestampNTZType
        raw
          .withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType)) * lit(1000L))
    }
  }
}
