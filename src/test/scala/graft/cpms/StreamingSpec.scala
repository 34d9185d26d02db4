package graft.cpms

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming hot/cold path semantics (SURVEY §2.9 T1-T9):
  * batch dedup keeps the event-time-latest record per user, keyless and
  * corrupt records are skipped not fatal, cross-batch serving state is the
  * event-time arg-max, and the cold lake keeps every raw payload
  * date-partitioned.
  */
class StreamingSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def ev(user: String, epoch: Double, hr: Int, steps: Int = 100): String =
    s"""{"event_id":"e-$user-$epoch","user_id":"$user","device_id":"dev_$user",
       |"schema":"tracking_v1","cognitive_predict":false,"steps":$steps,
       |"distance":0.01,"heart_rate":$hr,"calories":5,"timestamp":"$epoch"}"""
      .stripMargin.replaceAll("\n", "")

  test("hot/cold dual path: dedup, skip rules, event-time latest served (T3/T6/T9)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    implicit val sctx = spark.sqlContext
    val mem = MemoryStream[String]
    val raw = mem.toDF().withColumnRenamed("value", "value")

    // batch 1: u1 twice (later event-time wins), u2 once, one keyless,
    // one corrupt payload
    mem.addData(
      ev("u1", 1000.0, hr = 70),
      ev("u1", 2000.0, hr = 80),
      ev("u2", 1500.0, hr = 90),
      """{"schema":"tracking_v1","timestamp":"1700.0","heart_rate":55}""",
      "not json at all{{{")
    val q1 = Streaming.start(spark, raw, s"$dir/lake", s"$dir/agg", s"$dir/ckpt")
    q1.awaitTermination()

    val agg1 = spark.read.parquet(s"$dir/agg")
    val byUser1 = agg1.collect().map(r => r.getAs[String]("user_id") -> r.getAs[Int]("heart_rate")).toMap
    assert(byUser1 === Map("u1" -> 80, "u2" -> 90))

    // batch 2: u1 late (older event-time) -> stored in lake, NOT served;
    // u2 newer -> replaces
    mem.addData(ev("u1", 500.0, hr = 60), ev("u2", 3000.0, hr = 95))
    val q2 = Streaming.start(spark, raw, s"$dir/lake", s"$dir/agg", s"$dir/ckpt")
    q2.awaitTermination()

    val byUser2 = spark.read.parquet(s"$dir/agg").collect()
      .map(r => r.getAs[String]("user_id") -> r.getAs[Int]("heart_rate")).toMap
    assert(byUser2 === Map("u1" -> 80, "u2" -> 95),
           "late event must not overwrite newer served state (T4)")

    // cold path keeps everything, including keyless + corrupt raw payloads
    val lake = spark.read.parquet(s"$dir/lake")
    assert(lake.count() === 7)
    assert(lake.columns.contains("dt"))
  }

  test("a batch replayed after its commit is lost lands each event once (T6)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-replay")
    val in = java.nio.file.Files.createDirectories(dir.resolve("in"))
    for (f <- 0 until 2)
      java.nio.file.Files.writeString(in.resolve(s"part-$f.json"),
        (0 until 5).map(i => ev(s"u$i", 1000.0 * (f + 1) + i, hr = 60 + f))
          .mkString("", "\n", "\n"))
    def run(): Unit = {
      val raw = spark.readStream.option("maxFilesPerTrigger", "1")
        .text(in.toString)
      val q = Streaming.start(spark, raw, s"$dir/lake", s"$dir/agg", s"$dir/ckpt")
      q.awaitTermination()
      assert(q.exception.isEmpty)
    }
    run()
    // batch 1 landed in both sinks but its commit was lost: the restart
    // runs it again under the same batch id
    java.nio.file.Files.delete(dir.resolve("ckpt/commits/1"))
    java.nio.file.Files.deleteIfExists(dir.resolve("ckpt/commits/.1.crc"))
    run()
    val lake = spark.read.parquet(s"$dir/lake")
    assert(lake.count() === 10)
    assert(lake.groupBy("event_id").count().filter($"count" =!= 1).count() === 0,
           "a replayed batch must not duplicate its lake rows")
    val agg = spark.read.parquet(s"$dir/agg")
    assert(agg.count() === 5)
    assert(agg.filter($"heart_rate" =!= 61).count() === 0)
  }

  test("in-batch dedup is event-time argmax with event_id tiebreak (A3)") {
    val batch = Seq(ev("u9", 100.0, 1), ev("u9", 300.0, 3), ev("u9", 200.0, 2))
      .toDF("value")
    val out = Streaming.latestPerUserInBatch(Streaming.parseEvents(batch)).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Int]("heart_rate") === 3)
  }

  test("at-least-once delivery dedups by event_id within the watermark (T6)") {
    implicit val sctx = spark.sqlContext
    val mem = MemoryStream[String]
    val out = Streaming.dedupStream(Streaming.parseEvents(mem.toDF()))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    val e1 = ev("d1", 1000.0, 70) // fixed event_id comes from the payload
    mem.addData(e1, e1)           // duplicate inside one batch
    q.processAllAvailable()
    mem.addData(e1)               // redelivery in a later batch
    mem.addData(ev("d2", 1500.0, 80))
    q.processAllAvailable()
    q.stop()
    val users = spark.table("dedup_out").groupBy("user_id").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(users === Map("d1" -> 1, "d2" -> 1), s"duplicates survived: $users")
  }

  test("watermarked stream-stream join correlates wearables with self-reports (T2/T5)") {
    implicit val sctx = spark.sqlContext
    val wear = MemoryStream[String]
    val man = MemoryStream[String]
    val joined = Streaming.correlateStreams(
      Streaming.parseEvents(wear.toDF()),
      Streaming.parseMixedEvents(man.toDF()))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("corr_out").start()
    // u1: manual report 10 min after the wearable sample -> joins;
    // u2: 2h apart -> outside the +-30min correlation window
    wear.addData(ev("u1", 3600.0, 72), ev("u2", 3600.0, 90))
    man.addData(manualEv("u1", 4200.0, 7), manualEv("u2", 10800.0, 3))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("corr_out")
      .collect().map(r => (r.getAs[String]("user_id"),
                           r.getAs[Int]("heart_rate"),
                           r.getAs[Int]("stress_level")))
    assert(rows.toSeq === Seq(("u1", 72, 7)), s"got: ${rows.toSeq}")
  }

  test("epoch-string timestamps normalize to TimestampType (F3)") {
    val batch = Seq(ev("u1", 1714230000.5, 70)).toDF("value")
    val ts = Streaming.parseEvents(batch).select("ts").head().getTimestamp(0)
    assert(ts.toInstant.getEpochSecond === 1714230000L)
  }

  private def manualEv(user: String, epoch: Double, stress: Int): String =
    s"""{"event_id":"m-$user-$epoch","user_id":"$user","device_id":"phone_$user",
       |"schema":"manual_entry_v1","cognitive_predict":true,"sleep_duration":7.5,
       |"stress_level":$stress,"caffeine_intake":100,"screen_time":3.2,
       |"timestamp":"$epoch"}""".stripMargin.replaceAll("\n", "")

  test("mixed-schema stream routes on the discriminator (S2 union type)") {
    val batch = Seq(
      ev("u1", 1000.0, 70),
      manualEv("u2", 2000.0, 8),
      """{"schema":"unknown_v9","user_id":"u3"}""",
      "garbage((").toDF("value")
    val out = Streaming.parseMixedEvents(batch).collect()
      .map(r => r.getAs[String]("schema_kind") -> r).toMap
    assert(out("tracking_v1").getAs[Int]("heart_rate") === 70)
    assert(out("tracking_v1").getAs[Any]("stress_level") === null)
    assert(out("manual_entry_v1").getAs[Int]("stress_level") === 8)
    assert(out("manual_entry_v1").getAs[Any]("heart_rate") === null)
    assert(out("manual_entry_v1").getAs[Boolean]("cognitive_predict"))
    assert(out("unknown_v9").getAs[Boolean]("corrupt"))
    assert(out("?").getAs[Boolean]("corrupt"))
  }

  test("streaming windowed aggregation with watermark (T5 streaming form)") {
    implicit val sctx = spark.sqlContext
    val mem = MemoryStream[String]
    val windowed = Streaming.parseEvents(mem.toDF())
      .filter(!$"corrupt")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "5 minutes"), $"user_id")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    val q = windowed.writeStream.outputMode("update")
      .format("memory").queryName("win_out").start()
    // epochs 0 and 400 land in different 5-minute windows
    mem.addData(ev("w1", 10.0, 70), ev("w1", 100.0, 71), ev("w1", 400.0, 72))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("win_out")
      .select($"window.start".cast("long").as("ws"), $"n").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows === Map(0L -> 2L, 300L -> 1L))
  }

  test("append-mode watermark finalizes closed windows only (T4/T5 eviction)") {
    implicit val sctx = spark.sqlContext
    val mem = MemoryStream[String]
    val agg = Streaming.parseEvents(mem.toDF())
      .filter(!$"corrupt")
      .withWatermark("ts", "1 minute")
      .groupBy(window($"ts", "5 minutes"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("append_out").start()
    mem.addData(ev("a1", 10.0, 70), ev("a1", 20.0, 71))
    q.processAllAvailable()
    // window [0,300) is still open (watermark = 20s - 60s < 300) -> nothing emitted
    assert(spark.table("append_out").count() === 0)
    // event at t=700 pushes the watermark past 300+60 -> [0,300) finalizes
    mem.addData(ev("a1", 700.0, 72))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("append_out")
      .select($"window.start".cast("long"), $"n").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows === Map(0L -> 2L), "only the closed window may be emitted")
  }

  test("sessionizeStream: cross-batch session merge, gap split, watermark-finalized emit (T5)") {
    implicit val sctx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    def t(min: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-01 ${10 + min / 60}%02d:${min % 60}%02d:00")
    val out = Streaming.sessionizeStream(
      mem.toDF().toDF("user_id", "ts"), gap = "30 minutes", horizon = "1 hour")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sessions_out").start()
    // batch 1 opens a provisional session [10:00, 10:35)
    mem.addData((1L, t(0)), (1L, t(5)))
    q.processAllAvailable()
    // batch 2: 10:20 lands INSIDE the gap -> merges the provisional
    // session (what a fixed tumbling window cannot do); 11:30 is >30min
    // after 10:20 -> a second session
    mem.addData((1L, t(20)), (1L, t(90)))
    q.processAllAvailable()
    // nothing finalized yet: watermark = 11:30 - 1h = 10:30 < 10:50 end
    assert(spark.table("sessions_out").count() === 0)
    // 14:00 pushes the watermark to 13:00 -> both u1 sessions close;
    // u2's own session stays open and must NOT appear
    mem.addData((2L, t(240)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sessions_out")
      .select($"user_id", $"session_start", $"session_end", $"n_events")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .toSet
    assert(rows === Set(
      (1L, t(0), t(50), 3L),    // merged: 10:00,10:05,10:20 -> ends 10:20+30m
      (1L, t(90), t(120), 1L)), // split: 11:30 alone -> ends 12:00
      s"unexpected session set: $rows")
  }

  test("cold lake reads prune on the dt partition (K1/partition pruning)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lake").toString
    Seq(("a", java.sql.Date.valueOf("2024-01-01")),
        ("b", java.sql.Date.valueOf("2024-01-02")))
      .toDF("value", "dt").write.mode("overwrite").partitionBy("dt").parquet(dir)
    val pruned = spark.read.parquet(dir).filter($"dt" === "2024-01-02")
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("2024-01-02"))
    assert(pruned.count() === 1)
  }

  test("hot path over real event data: to_json -> parse -> dedup == q09 argmax (F7/A3)") {
    import org.apache.spark.sql.functions._
    // serialize sf0.001 events as wire JSON (F7 to_json), run the streaming
    // parse+dedup batch path, and cross-check against the oracle-verified
    // q09 latest-per-key query over the same table
    val dir = "/root/testdata/sf0.001"
    val wire = graft.Tables.events(spark, dir).select(
      to_json(struct(
        concat(lit("e"), col("event_id")).as("event_id"),
        col("user_id").cast("string").as("user_id"),
        lit("tracking_v1").as("schema"),
        col("value").cast("int").as("heart_rate"),
        (unix_micros(col("ts")) / 1000000.0).cast("string").as("timestamp")))
        .as("value"))
    val served = Streaming.latestPerUserInBatch(Streaming.parseEvents(wire))
      .select(col("user_id"), col("heart_rate")).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    val expected = graft.SparkEntry.queries("q09_latest_per_key")(spark, dir)
      .select(col("user_id").cast("string"), col("value").cast("int")).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(served === expected)
  }

  test("aggregates merge auto-recovers a crashed mid-swap table from its aside") {
    import org.apache.hadoop.fs.Path
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def latest(rows: Seq[String]) =
      Streaming.latestPerUserInBatch(Streaming.parseEvents(rows.toDF("value")))

    // simulate a crash between rename(dst, aside) and rename(staging,
    // dst) — only the aside survives
    val dir = java.nio.file.Files.createTempDirectory("graft-recover").toString + "/agg"
    Streaming.mergeAggregates(spark, latest(Seq(ev("ra", 1000.0, 70))), dir)
    assert(fs.rename(new Path(dir), new Path(dir + ".old")))
    Streaming.mergeAggregates(spark, latest(Seq(ev("rb", 2000.0, 90))), dir)
    val flat = spark.read.schema(Schemas.aggregates).parquet(dir).collect()
      .map(r => r.getAs[String]("user_id") -> r.getAs[Int]("heart_rate")).toMap
    assert(flat === Map("ra" -> 70, "rb" -> 90),
           "pre-crash rows must survive recovery, not reset to the new batch")
  }

  test("an event-time tie across batches serves the newer batch's row (K3)") {
    // parseEvents truncates ts to whole seconds, so two batches can carry
    // the same ts for one user; like the reference's put_item on
    // (user_id, timestamp), the later write must win
    val dir = java.nio.file.Files.createTempDirectory("graft-tie").toString + "/agg"
    val users = (1 to 200).map(i => s"tie$i")
    def merge(hr: Int): Unit = Streaming.mergeAggregates(spark,
      Streaming.latestPerUserInBatch(Streaming.parseEvents(
        users.map(u => ev(u, 1000.0, hr)).toDF("value"))), dir)
    merge(70)
    merge(90)
    val served = spark.read.schema(Schemas.aggregates).parquet(dir).collect()
      .map(r => r.getAs[String]("user_id") -> r.getAs[Int]("heart_rate")).toMap
    assert(served === users.map(_ -> 90).toMap)
  }

  test("base64 wire envelope decodes to parseable JSON (F6)") {
    val json = ev("u7", 1234.0, 66)
    val b64 = java.util.Base64.getEncoder.encodeToString(json.getBytes("UTF-8"))
    val parsed = Streaming.parseEvents(Streaming.decodeWire(Seq(b64).toDF("value")))
    val r = parsed.head()
    assert(!r.getAs[Boolean]("corrupt"))
    assert(r.getAs[String]("user_id") === "u7")
    assert(r.getAs[Int]("heart_rate") === 66)
  }
}
