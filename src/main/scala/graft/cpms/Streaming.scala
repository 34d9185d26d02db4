package graft.cpms

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The hot/cold dual-path ingest pipeline (reference src/ingestion.py +
  * src/stream_processor.py + hot_path*.tf) as one Structured Streaming job:
  *
  *   raw JSON strings --from_json(PERMISSIVE)--> enriched events
  *     ├─ COLD: land in the lake, partitioned by ingest date `dt` and
  *     │        batch `epoch` (realizes the date-partitioning the
  *     │        reference only comments about, ingestion.py:32-34 — K1)
  *     └─ HOT:  drop keyless records (P4) -> per-batch latest state per
  *              user (A3) -> merge into the keyed aggregates table (T3/K3)
  *
  * Semantics decisions (SURVEY §7.4.1): cross-batch "latest" is event-time
  * arg-max — what the reference's serving read observes (main.py:58-61) —
  * rather than arrival order; in-batch dedup also uses event time, with the
  * divergence covered by tests. An event-time tie across batches goes to
  * the newer batch, as the reference's put_item on (user_id, timestamp)
  * overwrites. No watermark, matching T4: late records are retained but
  * never served.
  */
object Streaming {

  /** F6: unwrap a base64 wire envelope (the reference consumes Kinesis
    * records as base64 payloads, stream_processor.py:25) into the raw JSON
    * `value` column expected by [[parseEvents]].
    */
  def decodeWire(wire: DataFrame): DataFrame =
    wire.select(unbase64(col("value")).cast("string").as("value"))

  /** Parse + enrich one micro-batch/stream of raw JSON event strings
    * (column `value`). PERMISSIVE parsing keeps corrupt payloads as NULL
    * rows for counting/skipping (T6, stream_processor.py:42-43); ingestion
    * enrichment adds event_id/timestamp when absent (ingestion.py:26-29).
    */
  def parseEvents(raw: DataFrame): DataFrame =
    raw
      .withColumn("e", from_json(col("value"), Schemas.trackingV1))
      .withColumn("corrupt", col("e").isNull)
      .withColumn("event_id", coalesce(col("e.event_id"), expr("uuid()")))
      .withColumn("ts", coalesce(
        to_timestamp(from_unixtime(col("e.timestamp").cast("double"))), // F3
        current_timestamp()))
      .select(col("value"), col("corrupt"), col("event_id"), col("ts"),
              col("e.user_id").as("user_id"),
              col("e.heart_rate").as("heart_rate"),
              col("e.steps").as("steps"),
              col("e.calories").as("calories"))

  /** Union-type event parsing (SURVEY §1.1): the stream mixes
    * `tracking_v1` and `manual_entry_v1` payloads discriminated by their
    * `schema` field. One pass parses against both StructTypes and routes on
    * the discriminator; unknown/corrupt schemas surface as `corrupt` for
    * the T6 skip-and-count path. Column sets are unioned (absent fields
    * null), so downstream consumers see one stable wide schema.
    */
  def parseMixedEvents(raw: DataFrame): DataFrame = {
    val t = from_json(col("value"), Schemas.trackingV1)
    val m = from_json(col("value"), Schemas.manualEntryV1)
    raw
      .withColumn("schema_kind",
        coalesce(get_json_object(col("value"), "$.schema"), lit("?")))
      .withColumn("t", when(col("schema_kind") === "tracking_v1", t))
      .withColumn("m", when(col("schema_kind") === "manual_entry_v1", m))
      .withColumn("corrupt", col("t").isNull && col("m").isNull)
      .select(
        col("value"), col("schema_kind"), col("corrupt"),
        coalesce(col("t.event_id"), col("m.event_id"), expr("uuid()")).as("event_id"),
        coalesce(col("t.user_id"), col("m.user_id")).as("user_id"),
        coalesce(
          to_timestamp(from_unixtime(
            coalesce(col("t.timestamp"), col("m.timestamp")).cast("double"))),
          current_timestamp()).as("ts"),
        col("t.heart_rate").as("heart_rate"), col("t.steps").as("steps"),
        col("t.calories").as("calories"), col("t.distance").as("distance"),
        col("m.sleep_duration").as("sleep_duration"),
        col("m.stress_level").as("stress_level"),
        col("m.caffeine_intake").as("caffeine_intake"),
        col("m.screen_time").as("screen_time"),
        coalesce(col("t.cognitive_predict"), col("m.cognitive_predict"))
          .as("cognitive_predict"))
  }

  /** Reduce a (micro-)batch to its latest record per user — event-time
    * arg-max with event_id tie-break (A3; see divergence note above).
    */
  def latestPerUserInBatch(events: DataFrame): DataFrame =
    Queries.latestBy(
      events.filter(col("user_id").isNotNull && !col("corrupt")), // P4 + T6
      struct(col("ts"), col("event_id")))

  /** Merge batch-latest rows into the keyed aggregates table: read-modify-
    * write compaction keeping the event-time max per user (K3 upsert,
    * last-write-wins by event time; on an equal `ts` the batch's row
    * replaces the stored one).
    */
  def mergeAggregates(spark: SparkSession, batchLatest: DataFrame, aggDir: String): Unit = {
    // crash recovery: a crash mid-swap leaves only the aside copy —
    // restore it before merging, or the exists-check below would silently
    // reset the table to just this batch
    graft.Landing.recover(spark, aggDir)
    val fs = new org.apache.hadoop.fs.Path(aggDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existing =
      if (fs.exists(new org.apache.hadoop.fs.Path(aggDir)))
        spark.read.schema(Schemas.aggregates).parquet(aggDir)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.aggregates)
    val merged = Queries.latestBy(
      existing.withColumn("newer", lit(0))
        .unionByName(batchLatest.withColumn("newer", lit(1))),
      struct(col("ts"), col("newer")))
    // two-phase write: the overwritten table is also this batch's input,
    // so it lands through the rename swap ([[graft.Landing]]), never an
    // in-place overwrite
    graft.Landing.swap(spark, aggDir) { staging =>
      merged.write.mode("overwrite").parquet(staging)
      Map.empty
    }
  }

  /** Streaming ingest dedup (T6 extension): the reference's Kinesis
    * delivery is at-least-once, so consumers can observe the same record
    * twice. Dedup by event_id within the watermark horizon —
    * dropDuplicatesWithinWatermark keeps O(ids within horizon) state and
    * evicts it as the watermark advances, where a plain dropDuplicates on
    * a stream would grow state forever.
    */
  def dedupStream(parsed: DataFrame, horizon: String = "10 minutes"): DataFrame =
    parsed
      .filter(col("event_id").isNotNull)
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("event_id")

  /** Watermarked stream-stream inner join (T2/T5 extension): correlate the
    * wearable hot path with the manual self-report stream per user within
    * a +-30min event-time window (the reference stores both and the
    * backend correlates at read time, main.py:139-151; doing it in-stream
    * serves the joined view directly). Both sides carry watermarks and the
    * join condition bounds event-time distance, so each side's buffered
    * state is evicted once the other side's watermark passes — bounded
    * state, the only way a stream-stream join survives at scale.
    */
  def correlateStreams(wearables: DataFrame, manual: DataFrame): DataFrame = {
    val w = wearables
      .select(col("user_id"), col("ts").as("w_ts"), col("heart_rate"))
      .withWatermark("w_ts", "30 minutes")
    val m = manual
      .select(col("user_id").as("m_user"), col("ts").as("m_ts"),
              col("stress_level"))
      .withWatermark("m_ts", "30 minutes")
    w.join(
      m,
      col("user_id") === col("m_user") &&
        col("m_ts") >= col("w_ts") - expr("INTERVAL 30 MINUTES") &&
        col("m_ts") <= col("w_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("w_ts"), col("m_ts"),
              col("heart_rate"), col("stress_level"))
  }

  /** Streaming sessionization (T5 extension; the in-stream spelling of
    * q24's batch lag-gap-cumsum): `session_window` groups each user's
    * events into dynamically-merging sessions that CLOSE after `gap` of
    * event-time silence — a late-but-in-watermark event that lands
    * between two provisional sessions merges them, which no fixed
    * tumbling/sliding window can express. State per key is one open
    * session (bounded); the watermark finalizes and evicts closed
    * sessions, so append mode emits each exactly once. At scale this
    * shuffles on (user_id, session) like any keyed streaming aggregate —
    * no global ordering, no cross-user state.
    */
  def sessionizeStream(events: DataFrame, gap: String = "30 minutes",
                       horizon: String = "1 hour"): DataFrame =
    events
      .filter(col("user_id").isNotNull)
      .withWatermark("ts", horizon)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
              col("session_window.start").as("session_start"),
              col("session_window.end").as("session_end"),
              col("n_events"))

  /** Start the dual-path query over a streaming DataFrame of raw JSON
    * strings (column `value`). One stream, both sinks written per batch in
    * foreachBatch (T9): the raw payloads land in the lake under
    * `dt=<ingest date>/epoch=<batchId>` ([[graft.Door.land]]), and the
    * batch's latest row per user merges into the aggregates table.
    * foreachBatch is at-least-once; both sinks are idempotent under a
    * replayed batch (the lake overwrites its own epoch, the merge keeps
    * the event-time max), so a replay leaves each sink as one run would.
    */
  def start(
      spark: SparkSession,
      rawStream: DataFrame,
      lakeDir: String,
      aggDir: String,
      checkpointDir: String): StreamingQuery =
    graft.Door.start(rawStream, checkpointDir) { (batch, id) =>
      val events = parseEvents(batch).cache()
      try {
        // COLD path (K1): raw payload, partitioned by ingest date
        graft.Door.land(
          events.select(col("value"), col("event_id"),
                        to_date(col("ts")).as("dt")),
          id, lakeDir, Seq("dt", "epoch"))
        // HOT path (T3): latest state per user into the serving table
        mergeAggregates(spark, latestPerUserInBatch(events), aggDir)
      } finally events.unpersist()
    }
}
