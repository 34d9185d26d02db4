package graft

/** Dev tool: dump formatted physical plans for selected queries (all when
  * no args) to review pushdown / join strategy / codegen coverage.
  * Usage: runMain graft.Explain [sfDir] [queryName...]
  * With -exec as the first query arg, each query is EXECUTED and the
  * final adaptive plan is summarized instead (ReusedExchange / scan /
  * shuffle-stage counts) — the initial plan cannot show AQE stage reuse,
  * which is where multi-consumer corpus passes dedup at runtime.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val exec = args.length > 1 && args(1) == "-exec"
    val rest = args.drop(if (exec) 2 else 1).toSeq
    val names = if (rest.nonEmpty) rest
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = Run.session(Run.cores)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df = SparkEntry.queries(n)(spark, sfDir)
      if (exec) {
        // collect() drives THIS DataFrame's QueryExecution so the printed
        // plan is the final adaptive one (a sink write would plan its own)
        df.collect()
        // count the FINAL adaptive section only: the toString carries the
        // initial plan too (and subquery plans), which double-counts every
        // scan and hides runtime stage reuse — the thing -exec exists to
        // show (a query can print 9 scans while executing exactly 1)
        val p = df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        def c(s: String) = s.r.findAllIn(p).length
        println(s"[exec] ReusedExchange=${c("ReusedExchange")} " +
          s"scans=${c("FileScan parquet")} " +
          s"shuffleStages=${c("ShuffleQueryStage")} " +
          s"broadcastStages=${c("BroadcastQueryStage")}")
        println(p.linesIterator
          .filter(l => l.contains("ReusedExchange") || l.contains("FileScan"))
          .map(_.take(160)).mkString("\n"))
      } else df.explain("formatted")
    }
    spark.stop()
  }
}
