package graft.cpms

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic event generators mirroring the reference's load simulators
  * (scripts/gen_wearables.py:41-51, scripts/gen_score_requests.py:35-47),
  * as seeded, partition-parallel DataFrames of wire JSON — the engine's
  * own e2e/stress harness (F10/F12 semantics, deterministic per seed) —
  * plus the batch star schema's CSVs (FIXTURES.md §1) as seeded files.
  */
object Generators {

  /** Users in [[starSchemaCsv]]'s fixture, as in the reference CSVs. */
  final val StarUsers = 120

  /** What [[starSchemaCsv]] wrote, counted as it wrote it. `ownedScores` /
    * `ownedRisks` are the child rows some user's id array names, `orphans`
    * the rows per child table that none names, `pairs` the score/risk
    * pairs sharing user and timestamp, `critical` the owned scores below
    * [[Schemas.CriticalThreshold]] and `scoreSum` the owned scores' sum.
    */
  final case class StarTallies(
      ownedScores: Long, ownedRisks: Long, orphans: Long, pairs: Long,
      critical: Long, scoreSum: Long)

  /** The batch ETL's input (db_loader.py:35-158): `users.csv`,
    * `cognitive_scores.csv` and `tracking_risks.csv` in FIXTURES.md §1's
    * shape with [[StarUsers]] users, written into `dir`. Ported from the
    * benchmark's `serve()` input (perfbench/inputs.py): UUID ids,
    * CSV-quoted Python-literal id arrays, the `hearth_rate` header, ISO
    * timestamps in 2023-01-01..2025-12-01, scores uniform in 1..100, about
    * 2% of users with empty arrays, and one planted orphan per child table
    * that no user's array names. Three users also hold one score/risk pair
    * at a shared timestamp in the span's last 30 days, as `/api/predict`
    * writes them (main.py:113-124), so the dashboard's score ⟕ risk join
    * has matched rows among the newest.
    *
    * A plain seeded JVM RNG, not Spark's `rand(seed)`, draws every value:
    * the files are byte-identical per seed at any core count.
    */
  def starSchemaCsv(dir: String, seed: Long = 42L): StarTallies = {
    val rng = new scala.util.Random(seed)
    def uuid(): String = {
      val h = f"${rng.nextLong()}%016x${rng.nextLong()}%016x"
      s"${h.take(8)}-${h.slice(8, 12)}-4${h.slice(13, 16)}-${h.slice(16, 20)}-${h.drop(20)}"
    }
    val day0 = 1672531200L            // 2023-01-01
    val span = (1764547200L - day0).toInt // to 2025-12-01
    val iso = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
    def at(t: Long): String = iso.format(java.time.Instant.ofEpochSecond(t))
    def pyList(ids: Seq[String]): String = { // str(list), CSV-quoted if it has a comma
      val lit = ids.map(i => s"'$i'").mkString("[", ", ", "]")
      if (lit.contains(',')) s"\"$lit\"" else lit
    }

    val users = Seq.fill(StarUsers)(uuid())
    val pairUsers = rng.shuffle(users.indices.toVector).take(3).toSet
    val us = new StringBuilder("userId,date_of_birth,diet_type,cognitive_scores,risk_trackings\n")
    val cs = new StringBuilder("cs_id,event_id,timestamp,cognitive_score\n")
    val tr = new StringBuilder(
      "tr_id,event_id,timestamp,steps,distance,hearth_rate,calories,risk_metric\n")
    var critical, scoreSum = 0L

    def scoreRow(t: Long): (String, Int) = {
      val s = 1 + rng.nextInt(100)
      val id = uuid()
      cs ++= s"$id,ev-${id.take(13)},${at(t)},$s\n"
      (id, s)
    }
    def ownedScore(t: Long): String = {
      val (id, s) = scoreRow(t)
      scoreSum += s
      if (s < Schemas.CriticalThreshold) critical += 1
      id
    }
    def riskRow(t: Long): String = {
      val id = uuid()
      val distance = "%.2f".formatLocal(java.util.Locale.ROOT, 0.01 + rng.nextDouble() * 15.95)
      tr ++= s"$id,ev-${id.take(13)},${at(t)},${11 + rng.nextInt(19946)},$distance," +
        s"${60 + rng.nextInt(121)},${501 + rng.nextInt(2498)}," +
        s"${Seq("Critical", "High", "Low", "Medium")(rng.nextInt(4))}\n"
      id
    }
    def anyTime(): Long = day0 + rng.nextInt(span)

    var ownedScores, ownedRisks = 0L
    users.zipWithIndex.foreach { case (u, i) =>
      val empty = rng.nextDouble() < 0.02 // users with empty id arrays
      val csIds = Seq.newBuilder[String]
      val trIds = Seq.newBuilder[String]
      if (!empty) {
        (0 until 2 + rng.nextInt(9)).foreach(_ => csIds += ownedScore(anyTime())) // ~6 each
        (0 until 3 + rng.nextInt(9)).foreach(_ => trIds += riskRow(anyTime()))    // ~7 each
      }
      if (pairUsers(i)) { // one predict: score and risk rows at the same instant
        val t = day0 + span - 1 - rng.nextInt(30 * 86400)
        csIds += ownedScore(t)
        trIds += riskRow(t)
      }
      val (c, r) = (csIds.result(), trIds.result())
      ownedScores += c.size
      ownedRisks += r.size
      val dob = f"${1960 + rng.nextInt(46)}-${1 + rng.nextInt(12)}%02d-${1 + rng.nextInt(28)}%02d"
      val diet = Seq("Keto", "Omnivore", "Paleo", "Vegan", "Vegetarian")(rng.nextInt(5))
      us ++= s"$u,$dob,$diet,${pyList(c)},${pyList(r)}\n"
    }
    val orphans = 1 // child rows per table owned by no user
    (0 until orphans).foreach { _ => scoreRow(anyTime()); riskRow(anyTime()) }

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    Seq("users.csv" -> us, "cognitive_scores.csv" -> cs, "tracking_risks.csv" -> tr)
      .foreach { case (name, text) =>
        java.nio.file.Files.write(java.nio.file.Paths.get(dir, name),
          text.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    StarTallies(ownedScores, ownedRisks, orphans, pairUsers.size, critical, scoreSum)
  }

  /** `tracking_v1` wearable events: n events round-robined over the given
    * user ids, value ranges per gen_wearables.py:46-50.
    */
  def wearableEvents(spark: SparkSession, userIds: Seq[String], n: Long,
                     seed: Long = 42L): DataFrame = {
    val users = array(userIds.map(lit): _*)
    spark.range(n).select(
      to_json(struct(
        concat(lit("gen-"), col("id")).as("event_id"),
        element_at(users, (col("id") % userIds.size + 1).cast("int")).as("user_id"),
        concat(lit("dev_"),
               substring(element_at(users, (col("id") % userIds.size + 1).cast("int")), 1, 8))
          .as("device_id"),
        lit("tracking_v1").as("schema"),
        lit(false).as("cognitive_predict"),
        floor(rand(seed) * 16).cast("int").as("steps"),
        round(rand(seed + 1) * 0.05, 3).as("distance"),
        (floor(rand(seed + 2) * 66) + 65).cast("int").as("heart_rate"),
        (floor(rand(seed + 3) * 8) + 1).cast("int").as("calories"),
        // monotone epoch-seconds string, 1s apart per event (F3 form)
        (lit(1700000000L) + col("id")).cast("string").as("timestamp")))
        .as("value"))
  }

  /** `manual_entry_v1` self-report events (gen_score_requests.py:35-47). */
  def manualEntries(spark: SparkSession, userIds: Seq[String], n: Long,
                    seed: Long = 42L): DataFrame = {
    val users = array(userIds.map(lit): _*)
    spark.range(n).select(
      to_json(struct(
        concat(lit("man-"), col("id")).as("event_id"),
        element_at(users, (col("id") % userIds.size + 1).cast("int")).as("user_id"),
        concat(lit("phone_"),
               substring(element_at(users, (col("id") % userIds.size + 1).cast("int")), 1, 8))
          .as("device_id"),
        lit("manual_entry_v1").as("schema"),
        lit(true).as("cognitive_predict"),
        round(rand(seed) * 5 + 4, 1).as("sleep_duration"),
        (floor(rand(seed + 1) * 10) + 1).cast("int").as("stress_level"),
        (floor(rand(seed + 2) * 3) * 100).cast("int").as("caffeine_intake"),
        round(rand(seed + 3) * 11 + 1, 1).as("screen_time"),
        (lit(1700000000L) + col("id")).cast("string").as("timestamp")))
        .as("value"))
  }
}
