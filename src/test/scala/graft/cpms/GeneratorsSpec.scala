package graft.cpms

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GeneratorsSpec extends AnyFunSuite with SparkSpec {

  test("generated wearable events parse cleanly and respect value domains") {
    val users = Seq("user-aaaa-1111", "user-bbbb-2222", "user-cccc-3333")
    val wire = Generators.wearableEvents(spark, users, 1000)
    val parsed = Streaming.parseEvents(wire)
    assert(parsed.filter(col("corrupt")).count() === 0)
    val stats = parsed.agg(
      min("heart_rate"), max("heart_rate"), min("steps"), max("steps"),
      countDistinct("user_id")).head()
    assert(stats.getInt(0) >= 65 && stats.getInt(1) <= 130)
    assert(stats.getInt(2) >= 0 && stats.getInt(3) <= 15)
    assert(stats.getLong(4) === 3)
    // deterministic per seed
    val again = Generators.wearableEvents(spark, users, 1000)
    assert(wire.exceptAll(again).isEmpty)
  }

  test("stress: 100k generated events through parse+dedup keeps one row per user") {
    val users = (1 to 500).map(i => f"stress-user-$i%04d")
    val wire = Generators.wearableEvents(spark, users, 100000).repartition(16)
    val served = Streaming.latestPerUserInBatch(Streaming.parseEvents(wire))
    assert(served.count() === 500)
    // every served record is that user's max timestamp (id 99500..99999)
    val minTs = served.agg(min(unix_timestamp(col("ts")))).head().getLong(0)
    assert(minTs >= 1700000000L + 99500)
  }

  test("stress: full dual-path streaming query over 50k generated events, 2 epochs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-volume").toString
    val users = (1 to 200).map(i => f"vol-user-$i%03d")
    implicit val sctx = spark.sqlContext
    val mem = MemoryStream[String]
    def feed(offset: Long, n: Long): Unit = {
      val batch = Generators.wearableEvents(spark, users, n)
        .selectExpr(s"value") // ids/timestamps offset by re-seeding below
      mem.addData(batch.collect().map(_.getString(0)).toIndexedSeq)
    }
    feed(0, 25000)
    Streaming.start(spark, mem.toDF(), s"$dir/lake", s"$dir/agg", s"$dir/ckpt")
      .awaitTermination()
    feed(25000, 25000)
    Streaming.start(spark, mem.toDF(), s"$dir/lake", s"$dir/agg", s"$dir/ckpt")
      .awaitTermination()
    val agg = spark.read.schema(Schemas.aggregates).parquet(s"$dir/agg")
    assert(agg.count() === 200, "one latest state per user")
    assert(spark.read.parquet(s"$dir/lake").count() === 50000,
           "cold lake must retain every raw event exactly once")
  }

  test("star-schema CSVs are byte-identical per seed, with equal tallies") {
    import java.nio.file.{Files, Paths}
    def write(seed: Long) = {
      val dir = Files.createTempDirectory("star").toString
      (dir, Generators.starSchemaCsv(dir, seed = seed))
    }
    val (a, ta) = write(7L)
    val (b, tb) = write(7L)
    val files = Seq("users.csv", "cognitive_scores.csv", "tracking_risks.csv")
    files.foreach { f =>
      assert(Files.readAllBytes(Paths.get(a, f)) sameElements
               Files.readAllBytes(Paths.get(b, f)), s"$f differs between runs")
    }
    assert(ta === tb)
    def rows(f: String) = Files.readAllLines(Paths.get(a, f)).size - 1 // header
    assert(rows("users.csv") === Generators.StarUsers)
    assert(rows("cognitive_scores.csv") === ta.ownedScores + ta.orphans)
    assert(rows("tracking_risks.csv") === ta.ownedRisks + ta.orphans)
    val (c, _) = write(8L)
    assert(!(Files.readAllBytes(Paths.get(a, "users.csv")) sameElements
               Files.readAllBytes(Paths.get(c, "users.csv"))), "seed is ignored")
  }

  test("mixed generated streams route correctly by discriminator") {
    val users = Seq("mix-user-1")
    val both = Generators.wearableEvents(spark, users, 50)
      .unionAll(Generators.manualEntries(spark, users, 50))
    val parsed = Streaming.parseMixedEvents(both)
    val counts = parsed.groupBy("schema_kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === Map("tracking_v1" -> 50, "manual_entry_v1" -> 50))
    assert(parsed.filter(col("corrupt")).count() === 0)
  }
}
