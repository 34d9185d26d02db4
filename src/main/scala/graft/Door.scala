package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** The stream door: how every streaming job of the engine drains its
  * input and lands each micro-batch.
  *
  * Drain policy ([[drain]]): append output mode, a checkpoint dir, and
  * the AvailableNow trigger. A started door processes every file that
  * has arrived, in as many micro-batches as the source's rate limits
  * ask for, then stops; the checkpoint remembers what was read, so a
  * scheduler runs the door again on a cadence and each run picks up
  * only what arrived since. [[start]] is the drain with a per-batch
  * `foreachBatch` body.
  *
  * Epoch layout ([[land]]): `foreachBatch` is at-least-once. A batch
  * whose commit did not land (a crash, a killed driver) runs again under
  * the same batch id on restart. Each batch therefore writes under its
  * own `epoch=<batchId>` partition with dynamic partition overwrite: a
  * replay rewrites exactly the partitions it wrote before and no others,
  * so every row lands once without a read-modify-write of the table.
  * Readers read the whole dir; the other partition columns still prune.
  */
object Door {

  /** The drain writer over `stream`: append mode, checkpointed at
    * `checkpointDir`, AvailableNow. The caller names the sink and starts
    * it.
    */
  def drain(stream: DataFrame, checkpointDir: String): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())

  /** Start a `foreachBatch` door: `body(batch, batchId)` runs once per
    * micro-batch (again on a replay) until the available input is drained.
    */
  def start(stream: DataFrame, checkpointDir: String)
           (body: (DataFrame, Long) => Unit): StreamingQuery =
    drain(stream, checkpointDir).foreachBatch(body).start()

  /** Land batch `id` of `df` as parquet under `dir` in the epoch layout:
    * the column named `epoch` holds `id`, and `layout` lists the
    * partition columns in directory order (default: that column alone).
    * A replay of `id` overwrites the partitions its first run wrote.
    */
  def land(df: DataFrame, id: Long, dir: String,
           layout: Seq[String] = Nil, epoch: String = "epoch"): Unit = {
    val by = if (layout.isEmpty) Seq(epoch) else layout
    require(by.contains(epoch), s"epoch column $epoch is not in layout $by")
    df.withColumn(epoch, lit(id))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(by: _*)
      .parquet(dir)
  }
}
