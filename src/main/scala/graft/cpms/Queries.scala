package graft.cpms

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference backend's three query endpoints as pure
  * DataFrame => DataFrame functions (src/backend/main.py), Catalyst-planned
  * instead of Postgres/DynamoDB-planned.
  */
object Queries {

  /** GET /api/workers/{user_id}/status — latest aggregates row for one key
    * (main.py:55-65, DynamoDB query Limit=1 ScanIndexForward=False).
    * Point filter + arg-max.
    */
  def workerStatus(aggregates: DataFrame, userId: String): DataFrame =
    latestBy(aggregates.filter(col("user_id") === userId), col("ts"))
      .select(
        col("user_id"),
        col("ts"),
        // serve-side null->0 defaults (main.py:65)
        coalesce(col("heart_rate"), lit(0)).as("heart_rate"),
        coalesce(col("steps"), lit(0)).as("steps"),
        coalesce(col("calories"), lit(0)).as("calories"))

  /** Latest aggregates per key for the whole table (the batch view of the
    * serving store; SURVEY A4/T3).
    */
  def latestPerUser(aggregates: DataFrame): DataFrame =
    latestBy(aggregates, col("ts"))

  /** The hot state's one arg-max: per `user_id`, the (ts, heart_rate,
    * steps, calories) of the row with the largest `order`.
    */
  private[cpms] def latestBy(rows: DataFrame, order: Column): DataFrame =
    rows
      .groupBy("user_id")
      .agg(max_by(struct(col("ts"), col("heart_rate"), col("steps"), col("calories")),
                  order).as("r"))
      .select(col("user_id"), col("r.ts").as("ts"), col("r.heart_rate").as("heart_rate"),
              col("r.steps").as("steps"), col("r.calories").as("calories"))

  /** status classification (main.py:106,166). */
  def status(score: Column): Column =
    when(score < Schemas.CriticalThreshold, "Critical").otherwise("Normal")

  /** GET /api/dashboard/stats "recent_checks" (main.py:139-151,159-167):
    * scores x users inner join, left join risks on the compound
    * (user_id, timestamp) key, top-50 by score time, API row shaping.
    * `users` is the bounded dimension -> broadcast; the top-k plans as
    * TakeOrderedAndProject (no global sort).
    */
  def dashboardRecent(users: DataFrame, scores: DataFrame, risks: DataFrame): DataFrame = {
    val cs = scores.select(col("cs_id"), col("user_id"), col("timestamp"),
                           col("cognitive_score"))
    val tr = risks.select(col("user_id").as("tr_user_id"),
                          col("timestamp").as("tr_timestamp"), col("heart_rate"))
    cs.join(broadcast(users.select("user_id")), Seq("user_id"))
      .join(tr, col("user_id") === col("tr_user_id") &&
                col("timestamp") === col("tr_timestamp"), "left_outer")
      .orderBy(col("timestamp").desc, col("cs_id").desc)
      .limit(50)
      .select(
        col("user_id"),
        col("cognitive_score").as("score"),
        col("timestamp"),
        coalesce(col("heart_rate"), lit(0)).as("heart_rate"), // P7 (main.py:165)
        status(col("cognitive_score")).as("status"))          // P6 (main.py:166)
  }

  /** Dashboard scalar stats (main.py:154-155,169-173): critical alert count
    * + truncated average score (0 when empty).
    */
  def dashboardStats(scores: DataFrame): DataFrame =
    scores.agg(
      count(when(col("cognitive_score") < Schemas.CriticalThreshold, lit(1)))
        .as("critical_alerts"),
      coalesce(floor(avg(col("cognitive_score"))).cast("int"), lit(0))
        .as("avg_score"))
}
