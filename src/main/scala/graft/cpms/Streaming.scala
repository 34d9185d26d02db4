package graft.cpms

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}

/** The hot/cold dual-path ingest pipeline (reference src/ingestion.py +
  * src/stream_processor.py + hot_path*.tf) as one Structured Streaming job:
  *
  *   raw JSON strings --from_json(PERMISSIVE)--> enriched events
  *     ├─ COLD: append to the lake, partitioned by ingest date `dt`
  *     │        (realizes the date-partitioning the reference only
  *     │        comments about, ingestion.py:32-34 — K1)
  *     └─ HOT:  drop keyless records (P4) -> per-batch latest state per
  *              user (A3) -> merge into the keyed aggregates table (T3/K3)
  *
  * Semantics decisions (SURVEY §7.4.1): cross-batch "latest" is event-time
  * arg-max — what the reference's serving read observes (main.py:58-61) —
  * rather than arrival order; in-batch dedup also uses event time, with the
  * divergence covered by tests. No watermark, matching T4: late records are
  * retained but never served.
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
    events
      .filter(col("user_id").isNotNull && !col("corrupt")) // P4 + T6
      .groupBy("user_id")
      .agg(max_by(struct(col("ts"), col("heart_rate"), col("steps"), col("calories")),
                  struct(col("ts"), col("event_id"))).as("r"))
      .select(col("user_id"), col("r.ts").as("ts"), col("r.heart_rate").as("heart_rate"),
              col("r.steps").as("steps"), col("r.calories").as("calories"))

  /** Merge batch-latest rows into the keyed aggregates table: read-modify-
    * write compaction keeping the event-time max per user (K3 upsert,
    * last-write-wins by event time). Single-table overwrite here; at scale
    * the table is hash-bucketed by user_id and only buckets containing
    * batch keys rewrite (same merge expression per bucket).
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
    val merged = existing.unionByName(batchLatest)
      .groupBy("user_id")
      .agg(max_by(struct(col("ts"), col("heart_rate"), col("steps"), col("calories")),
                  col("ts")).as("r"))
      .select(col("user_id"), col("r.ts").as("ts"), col("r.heart_rate").as("heart_rate"),
              col("r.steps").as("steps"), col("r.calories").as("calories"))
    // two-phase write: the overwritten table is also this batch's input,
    // so it lands through the rename swap ([[graft.Landing]]), never an
    // in-place overwrite
    graft.Landing.swap(spark, aggDir) { staging =>
      merged.write.mode("overwrite").parquet(staging)
      Map.empty
    }
  }

  /** Bucketed variant of [[mergeAggregates]] — the 100 TB path: the
    * serving table lives as `bucket=N/` hash partitions of `user_id`, and
    * a batch only rewrites buckets that contain batch keys. Untouched
    * buckets are never read or written, so per-batch cost is
    * O(touched keys / nBuckets of the table), not O(table).
    */
  def mergeAggregatesBucketed(
      spark: SparkSession,
      batchLatest: DataFrame,
      aggDir: String,
      nBuckets: Int): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(aggDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash recovery: a crash mid-swap leaves `bucket=N` missing with only
    // the `.swap_bucket=N` aside surviving — restore any such orphan before
    // reading, or the bucket silently reads empty and the next swap's
    // aside delete destroys its last copy
    if (fs.exists(new Path(aggDir))) {
      fs.listStatus(new Path(aggDir)).foreach { st =>
        val nm = st.getPath.getName
        if (nm.startsWith(".swap_bucket="))
          graft.Landing.restore(fs, st.getPath,
            new Path(aggDir, "bucket=" + nm.stripPrefix(".swap_bucket=")))
      }
    }
    val withBucket = batchLatest.withColumn(
      "bucket", pmod(hash(col("user_id")), lit(nBuckets)))
    val touched = withBucket.select("bucket").distinct()
      .collect().map(_.getInt(0)).sorted // bounded by nBuckets — driver-safe
    if (touched.isEmpty) return
    // ONE job for all touched buckets: read them via partition pruning,
    // union with the batch, merge, and write `partitionBy(bucket)` to a
    // staging dir. (A per-bucket loop would serialize the epoch into
    // O(touched) driver-scheduled jobs.) Untouched buckets are never read
    // or written; the final swap is O(touched) metadata renames.
    val existingTouched =
      if (fs.exists(new Path(aggDir)))
        spark.read.schema(Schemas.aggregates.add("bucket", "int"))
          .parquet(aggDir)
          .filter(col("bucket").isin(touched.map(Integer.valueOf): _*))
      else
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          Schemas.aggregates.add("bucket", "int"))
    val merged = existingTouched
      .unionByName(withBucket)
      // bucket is functionally determined by user_id; grouping on both
      // keeps it available for the partitioned write without a re-hash
      .groupBy("bucket", "user_id")
      .agg(max_by(struct(col("ts"), col("heart_rate"), col("steps"), col("calories")),
                  col("ts")).as("r"))
      .select(col("user_id"), col("r.ts").as("ts"),
              col("r.heart_rate").as("heart_rate"),
              col("r.steps").as("steps"), col("r.calories").as("calories"),
              col("bucket"))
    // one staging write for every touched bucket; the swap step below
    // commits each bucket out of it instead of renaming the whole table
    graft.Landing.staged(spark, aggDir) { (_, staging) =>
      merged.write.partitionBy("bucket").mode("overwrite")
        .parquet(staging.toString)
      fs.mkdirs(new Path(aggDir))
      touched.foreach { b =>
        // per-bucket rename-aside swap: the old bucket moves to a
        // dot-prefixed dir (invisible to parquet readers) before the new
        // one renames in, so a crash leaves either the old or the new
        // bucket recoverable — never a deleted-but-unreplaced hole
        graft.Landing.replace(fs, new Path(s"$staging/bucket=$b"),
          new Path(s"$aggDir/bucket=$b"), new Path(s"$aggDir/.swap_bucket=$b"))
      }
    }
  }

  /** One parsed hot-path event (typed view of [[parseEvents]] output). */
  final case class HotEvent(
      user_id: String, event_id: String, ts: java.sql.Timestamp,
      heart_rate: Option[Int], steps: Option[Int], calories: Option[Int])

  /** Stateful alternative to the foreachBatch merge (SURVEY T3, K3):
    * per-key state via flatMapGroupsWithState holding only the event-time
    * max record per user — O(distinct keys) state in the state store,
    * emitted on change (Update mode). This is the path that scales past a
    * table rewrite: state lives partitioned in the checkpoint, no
    * read-modify-write of the serving table per batch.
    */
  def latestStateStream(events: Dataset[HotEvent]): Dataset[HotEvent] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[HotEvent, HotEvent](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: String, batch: Iterator[HotEvent], state: GroupState[HotEvent]) =>
          val candidates = state.getOption.iterator ++ batch
          val latest = candidates.maxBy(e => (e.ts.getTime, e.event_id))
          if (state.getOption.contains(latest)) Iterator.empty
          else { state.update(latest); Iterator.single(latest) }
      }
  }

  /** [[latestStateStream]] on the Spark 4 `transformWithState` API — the
    * current-generation stateful operator (SPARK-49564): explicit typed
    * state handles (ValueState here), RocksDB-backed, with per-state TTL
    * and timers available where flatMapGroupsWithState offers only one
    * state object and one timeout. Same semantics as the fMGWS path:
    * event-time arg-max per key, emit only on change (proven equivalent
    * under permutation in PropertiesSpec/StreamingSpec).
    *
    * Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`); callers set it on
    * the session before starting the query.
    */
  def latestStateStreamTws(events: Dataset[HotEvent]): Dataset[HotEvent] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new LatestEventProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Per-key latest-event state for [[latestStateStreamTws]]. */
  final class LatestEventProcessor
      extends StatefulProcessor[String, HotEvent, HotEvent] {
    @transient private var latest: ValueState[HotEvent] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      latest = getHandle.getValueState[HotEvent](
        "latest", org.apache.spark.sql.Encoders.product[HotEvent], TTLConfig.NONE)

    override def handleInputRows(
        key: String,
        rows: Iterator[HotEvent],
        timers: TimerValues): Iterator[HotEvent] = {
      val prior = if (latest.exists()) Some(latest.get()) else None
      val best = (prior.iterator ++ rows).maxBy(e => (e.ts.getTime, e.event_id))
      if (prior.contains(best)) Iterator.empty
      else { latest.update(best); Iterator.single(best) }
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

  /** Typed view of [[parseEvents]] for the stateful path. */
  def toHotEvents(parsed: DataFrame): Dataset[HotEvent] = {
    import parsed.sparkSession.implicits._
    parsed
      .filter(col("user_id").isNotNull && !col("corrupt"))
      .select(col("user_id"), col("event_id"), col("ts"), col("heart_rate"), col("steps"), col("calories"))
      .as[HotEvent]
  }

  /** Start the dual-path query over a streaming DataFrame of raw JSON
    * strings (column `value`). One stream, both sinks written per epoch in
    * foreachBatch (T9); checkpointing gives exactly-once per sink epoch
    * (T6).
    */
  def start(
      spark: SparkSession,
      rawStream: DataFrame,
      lakeDir: String,
      aggDir: String,
      checkpointDir: String,
      nBuckets: Int = 0): StreamingQuery =
    rawStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val events = parseEvents(batch).cache()
        try {
          // COLD path (K1): raw payload + ingest-date partition
          events.select(col("value"), col("event_id"),
                        to_date(col("ts")).as("dt"))
            .write.mode("append").partitionBy("dt").parquet(lakeDir)
          // HOT path (T3): latest state per user into the serving table.
          // nBuckets > 0 selects the 100 TB layout: the table lives as
          // bucket=N hash partitions and a batch rewrites only touched
          // buckets in one job; 0 keeps the single-table rewrite (small
          // deployments, simpler reads)
          val latest = latestPerUserInBatch(events)
          if (nBuckets > 0) mergeAggregatesBucketed(spark, latest, aggDir, nBuckets)
          else mergeAggregates(spark, latest, aggDir)
        } finally events.unpersist()
      }
      .start()
}
