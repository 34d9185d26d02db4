package graft.cpms

import org.apache.spark.sql.functions._

/** End-to-end CPMS pipeline demo: batch ETL of the reference star schema,
  * dashboard analytics, the streaming hot/cold path over synthetic events,
  * and predict-readiness scoring — the library's full query surface in one
  * runnable main.
  *
  * Usage: runMain graft.cpms.Demo [csvDir] [workDir]
  *
  * Without `csvDir`, the star schema is a seeded fixture written under
  * `workDir/csv` by `Generators.starSchemaCsv`. Without `workDir`, the
  * demo works in a fresh `cpms-demo*` temp dir and deletes it on exit; a
  * given `workDir` is kept.
  */
object Demo {
  def main(args: Array[String]): Unit = args.lift(1) match {
    case Some(workDir) => run(args.headOption, workDir)
    case None =>
      val workDir = java.nio.file.Files.createTempDirectory("cpms-demo").toString
      try run(args.headOption, workDir)
      finally {
        val p = new org.apache.hadoop.fs.Path(workDir)
        p.getFileSystem(new org.apache.hadoop.conf.Configuration()).delete(p, true)
      }
  }

  private def run(csvArg: Option[String], workDir: String): Unit = {
    val csvDir = csvArg.getOrElse {
      val dir = s"$workDir/csv"
      println(s"[demo] fixture: ${Generators.starSchemaCsv(dir)} in $dir")
      dir
    }
    // the managed tables of step 5 live under workDir: a warehouse in the
    // cwd would keep their locations and fail the next run's saveAsTable
    val spark = graft.Run.session(graft.Run.cores,
      "spark.sql.warehouse.dir" -> s"$workDir/warehouse")
    import spark.implicits._

    // 1. batch ETL (db_loader semantics)
    val n = Etl.normalize(spark, csvDir)
    println(s"[demo] etl: users=${n.users.count()} scores=${n.cognitiveScores.count()} " +
      s"risks=${n.trackingRisks.count()} orphans=${n.csOrphans}/${n.trOrphans}")

    // 2. dashboard endpoint (main.py:133-173)
    val recent = Queries.dashboardRecent(n.users, n.cognitiveScores, n.trackingRisks)
    val stats = Queries.dashboardStats(n.cognitiveScores).collect().head
    println(s"[demo] dashboard: recent=${recent.count()} rows, " +
      s"critical_alerts=${stats.getLong(0)}, avg_score=${stats.getInt(1)}")

    // 3. streaming hot/cold dual path over synthetic wearable events
    def ev(u: String, t: Double, hr: Int) =
      s"""{"event_id":"e$u$t","user_id":"$u","schema":"tracking_v1","steps":500,""" +
        s""""distance":0.4,"heart_rate":$hr,"calories":7,"timestamp":"$t"}"""
    val userIds = n.users.select("user_id").as[String].take(3)
    val raw = userIds.zipWithIndex.flatMap { case (u, i) =>
      Seq(ev(u, 1000.0 + i, 70 + i), ev(u, 2000.0 + i, 80 + i))
    }.toSeq.toDF("value")
    implicit val sctx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    mem.addData(raw.as[String].collect().toIndexedSeq)
    val q = Streaming.start(spark, mem.toDF(), s"$workDir/lake", s"$workDir/agg",
                            s"$workDir/ckpt")
    q.awaitTermination()
    val aggs = spark.read.schema(Schemas.aggregates).parquet(s"$workDir/agg")
    println(s"[demo] streaming: aggregates=${aggs.count()} users, " +
      s"lake=${spark.read.parquet(s"$workDir/lake").count()} raw events")

    // 3a. mixed-schema parse (union type routing on the discriminator)
    val mixed = Streaming.parseMixedEvents(
      (raw.as[String].collect().toSeq :+
        s"""{"user_id":"x","schema":"manual_entry_v1","stress_level":5,"timestamp":"99.0"}""")
        .toDF("value"))
    println(s"[demo] mixed parse: " + mixed.groupBy("schema_kind").count()
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" "))

    // 3b. generator-driven load (the reference's simulator scripts as
    //     seeded DataFrames) through the batch hot path
    val genServed = Streaming.latestPerUserInBatch(Streaming.parseEvents(
      Generators.wearableEvents(spark, userIds.toSeq, 10000)))
    println(s"[demo] generated load: 10000 events -> ${genServed.count()} latest states")

    // 4. predict-readiness: features from live aggregates + request, demo
    //    scorer (setup_model.py parity) and a trained MLlib model
    val requests = userIds.map(u =>
      Schemas.PredictRequest(u, 7.0, 4, 5.5, "Moderate", 100, 260.0, 75)).toSeq.toDF()
    val assembled = Scoring.assembleFeatures(requests, Queries.latestPerUser(aggs))
    val demoScored = Scoring.scoreDemo(assembled)
    val training = assembled.withColumn("label",
      lit(90.0) - $"stress_level" * 2 - $"screen_time")
    val mlScored = Scoring.score(Scoring.train(training), assembled)
    Scoring.appendResults(demoScored, s"$workDir/tracking_risks", s"$workDir/cognitive_scores")
    val served = demoScored.select("user_id", "cognitive_score", "status")
      .collect().map(r => s"${r.getString(0).take(8)}:${r.getInt(1)}/${r.getString(2)}")
    println(s"[demo] predict(demo-model): ${served.mkString(" ")}")
    println(s"[demo] predict(mllib): ${mlScored.count()} scored, " +
      s"appended tr=${spark.read.parquet(s"$workDir/tracking_risks").count()} " +
      s"cs=${spark.read.parquet(s"$workDir/cognitive_scores").count()}")
    // 5. production layout (K5): managed tables, facts bucketed on user_id
    //    — the keyed join below plans without an Exchange on either side
    Seq("demo_users", "demo_scores", "demo_risks")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Etl.saveAsTables(n, "demo", 8)
    val bucketJoin = spark.table("demo_scores").select("user_id", "cognitive_score")
      .join(spark.table("demo_risks").select("user_id", "heart_rate"), "user_id")
    val nExchanges = "Exchange hashpartitioning".r
      .findAllIn(bucketJoin.queryExecution.executedPlan.toString).length
    println(s"[demo] bucketed star schema: fact join=${bucketJoin.count()} rows, " +
      s"hash exchanges in plan=$nExchanges")

    // 6. training-corpus curation: per-doc verdict + split-partitioned export
    val sfDir = "/root/testdata/sf0.001"
    val verdict = graft.operators.Curation.curate(spark, sfDir)
    val kept = verdict.filter($"keep" === 1L).count()
    graft.operators.Curation.exportCurated(spark, sfDir, s"$workDir/corpus")
    val splits = spark.read.parquet(s"$workDir/corpus").groupBy("split").count()
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
    println(s"[demo] curation: ${verdict.count()} docs -> $kept kept; exported $splits")

    println("[demo] OK")
    spark.stop()
  }
}
