package graft

import org.apache.spark.sql.functions._

/** Dev tool: measure the append-refresh story end to end — cold-derive
  * the incremental DerivedCache artifacts over a corpus copy, append a
  * small slice (the nightly-crawl shape), and time the refresh of each
  * artifact family. The claim under test: refresh cost scales with the
  * appended slice plus bounded finalize work, not with the corpus.
  * Usage: runMain graft.RefreshBench <srcCorpusDir> <workDir> [sliceFrac]
  */
object RefreshBench {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val work = args(1)
    val frac = if (args.length > 2) args(2).toDouble else 0.01
    val spark = Run.session(Run.cores)
    import operators.{Curation, Prep, TrainingData}

    // fresh working corpus + fresh artifact store
    val workPath = new org.apache.hadoop.fs.Path(work)
    workPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(workPath, true)
    spark.read.parquet(s"$src/documents.parquet").repartition(8)
      .write.mode("overwrite").parquet(s"$work/documents.parquet")
    operators.DerivedCache.invalidate(work)

    def timed(name: String)(body: => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      body
      val s = (System.nanoTime() - t0) / 1e9
      (name, s)
    }

    val cold = Seq(
      timed("source_stats")(Prep.sourceStats(spark, work).count()),
      timed("bigram_counts")(Prep.bigramCounts(spark, work).count()),
      timed("bigram_nll")(Prep.bigramNll(spark, work).count()),
      timed("dedup_indexes") {
        TrainingData.dedupTokenIndex(spark, work).count()
        TrainingData.dedupPrefixIndex(spark, work).count()
      },
      timed("cluster_labels")(Curation.dedupClusters(spark, work).count()),
      timed("funnel_stack")(Prep.funnelStack(spark, work).count()))

    // the nightly slice: frac of the corpus re-suffixed as new docs
    val docs = spark.read.parquet(s"$work/documents.parquet")
    val n = docs.count()
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    docs.filter(pmod(col("doc_id"), lit(math.max(1L, (1 / frac).toLong))) === 0)
      .select((col("doc_id") + maxId + 1).as("doc_id"),
        array_join(transform(split(col("text"), " "), (t, i) =>
          when(pmod(i, lit(11)) === 0, concat(t, lit("~new"))).otherwise(t)),
          " ").as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .repartition(1)
      .write.mode("append").parquet(s"$work/documents.parquet")
    Curation.appendRefresh(work)

    val warm = Seq(
      timed("source_stats")(Prep.sourceStats(spark, work).count()),
      timed("bigram_counts")(Prep.bigramCounts(spark, work).count()),
      timed("bigram_nll")(Prep.bigramNll(spark, work).count()),
      timed("dedup_indexes") {
        TrainingData.dedupTokenIndex(spark, work).count()
        TrainingData.dedupPrefixIndex(spark, work).count()
      },
      timed("cluster_labels")(Curation.dedupClusters(spark, work).count()),
      // funnel refresh = incremental model-layer merges + ONE rescore
      // pass over the grown corpus (per-doc verdicts under a global
      // model are not a per-file monoid) — expected to track the
      // corpus, unlike the slice-scaling rows above
      timed("funnel_stack")(Prep.funnelStack(spark, work).count()))

    def j(m: Seq[(String, Double)]) = m.map { case (k, v) =>
      "\"" + k + "\":" + "%.3f".formatLocal(java.util.Locale.ROOT, v)
    }.mkString("{", ",", "}")
    println(s"""{"metric":"append_refresh","n_docs":$n,"slice_frac":$frac,""" +
      s""""cold":${j(cold)},"refresh":${j(warm)}}""")
    spark.stop()
  }
}
