package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dev tool: measure the STREAMING corpus-maintenance loop end to end —
  * seed a corpus through `Curation.startCorpusMaintenance` (batch 0 pays
  * the cold artifact build), then land N appended crawl slices as further
  * micro-batches and time each one. The claim under test: the per-batch
  * maintenance bill (curate + land + token/prefix index refresh + cluster
  * label delta-merge) scales with the slice, not the accumulated corpus —
  * batch k's wall time stays ~flat as the corpus grows k-fold.
  * Usage: runMain graft.MaintBench <srcCorpusDir> <workDir> [nSlices] [sliceFrac]
  */
object MaintBench {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val work = args(1)
    val nSlices = if (args.length > 2) args(2).toInt else 4
    val frac = if (args.length > 3) args(3).toDouble else 0.02
    val spark = Run.session(Run.cores)

    val workPath = new org.apache.hadoop.fs.Path(work)
    workPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(workPath, true)
    val stage = s"$work/stage"
    val corpus = s"$work/corpus"
    operators.DerivedCache.invalidate(corpus)

    val seed = spark.read.parquet(s"$src/documents.parquet")
      .select("doc_id", "source", "text", "lang")
    val maxId = seed.agg(max("doc_id")).head().getLong(0)
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")

    // stage the seed as the first stream file (batch 0: the cold bill)
    seed.withColumn("ts", lit(t0))
      .select("ts", "doc_id", "source", "text", "lang")
      .write.mode("append").parquet(stage)

    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("doc_id", LongType),
      StructField("source", StringType), StructField("text", StringType),
      StructField("lang", StringType)))
    def runOnce(): Double = {
      val w0 = System.nanoTime()
      operators.Curation.startCorpusMaintenance(
        spark.readStream.schema(schema).parquet(stage),
        corpus, s"$work/ckpt")
        .awaitTermination()
      (System.nanoTime() - w0) / 1e9
    }

    val batch0 = runOnce()
    val perBatch = (1 to nSlices).map { k =>
      // the crawl slice: frac of the seed re-suffixed as new docs (fresh
      // ids, fresh token variants — same shape RefreshBench appends)
      seed
        .filter(pmod(col("doc_id"), lit(math.max(1L, (1 / frac).toLong))) === 0)
        .select((col("doc_id") + (maxId + 1) * k).as("doc_id"),
          col("source"),
          array_join(transform(split(col("text"), " "), (t, i) =>
            when(pmod(i, lit(11)) === 0, concat(t, lit(s"~n$k")))
              .otherwise(t)), " ").as("text"),
          col("lang"))
        .withColumn("ts", lit(new java.sql.Timestamp(
          t0.getTime + k * 3600L * 1000)))
        .select("ts", "doc_id", "source", "text", "lang")
        .write.mode("append").parquet(stage)
      runOnce()
    }

    val landed = spark.read.parquet(s"$corpus/documents.parquet").count()
    def j(xs: Seq[Double]) =
      xs.map(v => "%.3f".formatLocal(java.util.Locale.ROOT, v))
        .mkString("[", ",", "]")
    println(s"""{"metric":"corpus_maintenance","n_slices":$nSlices,""" +
      s""""slice_frac":$frac,"landed_docs":$landed,""" +
      s""""batch0":${"%.3f".formatLocal(java.util.Locale.ROOT, batch0)},""" +
      s""""per_batch":${j(perBatch)}}""")
    spark.stop()
  }
}
