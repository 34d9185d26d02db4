package graft.cpms

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden end-to-end over the batch star schema (SURVEY §5.2). The
  * reference's own CSVs (120 users / 736 scores / 836 risks, zero orphans)
  * are checked wherever they are present. Every other test normalizes a
  * seeded fixture in FIXTURES.md §1's shape (`Generators.starSchemaCsv`),
  * and its expected values are the tallies the generator counted while
  * writing, not `Etl`'s output: row counts, the planted orphans (counted,
  * then dropped, so no child row's FK misses `users`), the `hearth_rate`
  * rename, and the dashboard numbers the reference backend would serve.
  */
class EtlSpec extends AnyFunSuite with SparkSpec {

  private val refData = "/root/reference/data"
  private lazy val (fixtureDir, tally) = {
    val dir = Files.createTempDirectory("etl-star").toString
    (dir, Generators.starSchemaCsv(dir))
  }
  private lazy val n = Etl.normalize(spark, fixtureDir)

  test("normalizes the reference star schema with zero orphans") {
    assume(Files.exists(Paths.get(refData, "users.csv")), s"no reference CSVs in $refData")
    val ref = Etl.normalize(spark, refData)
    assert(ref.users.count() === 120)
    assert(ref.cognitiveScores.count() === 736)
    assert(ref.trackingRisks.count() === 836)
    assert(ref.csOrphans === 0)
    assert(ref.trOrphans === 0)
    // the rename and dashboard checks below, over the reference data too
    checkRename(ref)
    checkStats(ref)
    checkRecent(ref)
  }

  test("normalizes the generated star schema to its tallies, planted orphans dropped") {
    assert(n.users.count() === Generators.StarUsers)
    assert(n.cognitiveScores.count() === tally.ownedScores)
    assert(n.trackingRisks.count() === tally.ownedRisks)
    assert(n.csOrphans === tally.orphans && n.csOrphans > 0)
    assert(n.trOrphans === tally.orphans)
    // zero orphans after the owner join: every child FK names a user
    assert(n.cognitiveScores.join(n.users, Seq("user_id"), "left_anti").isEmpty)
    assert(n.trackingRisks.join(n.users, Seq("user_id"), "left_anti").isEmpty)
  }

  private def checkRename(t: Etl.Normalized): Unit = {
    val cols = t.trackingRisks.columns.toSet
    assert(cols.contains("heart_rate") && !cols.contains("hearth_rate"))
    assert(cols.contains("user_id"))
    assert(t.cognitiveScores.columns.contains("user_id"))
  }

  test("renames hearth_rate and attaches the user_id FK") {
    checkRename(n)
    // each planted predict pair resolves to one user on both sides
    val paired = n.cognitiveScores.join(n.trackingRisks, Seq("user_id", "timestamp")).count()
    assert(paired === tally.pairs && paired > 0)
  }

  test("python-literal array parse handles empties and quoted ids") {
    import spark.implicits._
    val df = Seq("['a-1', 'b-2']", "[]", null).toDF("arr")
      .select(Etl.parsePyArray(col("arr")).as("p"))
    val got = df.collect().map(r => r.getSeq[String](0))
    assert(got(0) === Seq("a-1", "b-2"))
    assert(got(1) === Seq.empty)
    assert(got(2) === Seq.empty)
  }

  /** Served (critical, avg) equal a recompute; scores 1..100 put avg in 45..55. */
  private def checkStats(t: Etl.Normalized): (Long, Int) = {
    val stats = Queries.dashboardStats(t.cognitiveScores).collect().head
    val critical = stats.getLong(0)
    val avg = stats.getInt(1)
    val expCritical = t.cognitiveScores.filter(col("cognitive_score") < 50).count()
    val expAvg = math.floor(
      t.cognitiveScores.agg(avg_fn).collect().head.getDouble(0)).toInt
    assert(critical === expCritical && critical > 0)
    assert(avg === expAvg && avg >= 45 && avg <= 55)
    (critical, avg)
  }

  test("golden dashboard stats over the normalized tables") {
    val (critical, avg) = checkStats(n)
    // and both agree with the generator's own tallies
    assert(critical === tally.critical)
    assert(avg === (tally.scoreSum / tally.ownedScores).toInt)
  }

  private def avg_fn = avg(col("cognitive_score"))

  /** The 50 newest rows, newest first, classified and null-coalesced. */
  private def checkRecent(t: Etl.Normalized): Array[Row] = {
    val recent = Queries.dashboardRecent(t.users, t.cognitiveScores, t.trackingRisks)
      .collect()
    assert(recent.length === 50)
    val ts = recent.map(_.getAs[java.sql.Timestamp]("timestamp").getTime)
    assert(ts.sameElements(ts.sortBy(-_: Long)), "not sorted newest-first")
    recent.foreach { r =>
      val s = r.getAs[Int]("score")
      assert(r.getAs[String]("status") === (if (s < 50) "Critical" else "Normal"))
      assert(r.getAs[Int]("heart_rate") >= 0) // null-coalesced
    }
    recent
  }

  test("dashboard recent returns 50 newest with status classification") {
    // the planted predict pairs are the newest rows: some scores match a
    // risk row (heart_rate >= 60), the rest are coalesced to 0
    val hr = checkRecent(n).map(_.getAs[Int]("heart_rate"))
    assert(hr.exists(_ >= 60) && hr.contains(0))
  }

  test("saveAsTables bucketed layout joins the production facts without an Exchange (K5)") {
    Seq("prod_users", "prod_scores", "prod_risks")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Etl.saveAsTables(n, "prod", 8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // scores ⋈ risks on user_id: both facts bucketed on the key — the
      // join must read co-located buckets, no hash exchange on either side
      val joined = spark.table("prod_scores").select("user_id", "cognitive_score")
        .join(spark.table("prod_risks").select(col("user_id"), col("heart_rate")),
              "user_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
             s"bucketed fact join still shuffles:\n$plan")
      assert(joined.count() > 0)
      // and the serving aggregate over one fact needs no re-shuffle either
      val agg = spark.table("prod_scores").groupBy("user_id")
        .agg(max("cognitive_score"))
      assert(!agg.queryExecution.executedPlan.toString
               .contains("Exchange hashpartitioning"),
             "keyed aggregate over the bucketed fact re-shuffled")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      Seq("prod_users", "prod_scores", "prod_risks")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("dashboardStats on an empty table serves avg 0 (main.py:172)") {
    val empty = n.cognitiveScores.filter(lit(false))
    val stats = Queries.dashboardStats(empty).collect().head
    assert(stats.getLong(0) === 0L)
    assert(stats.getInt(1) === 0)
  }
}
