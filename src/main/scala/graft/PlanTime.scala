package graft

/** Dev tool (guide §7.3): split a query's wall time into DRIVER work
  * (DataFrame construction; analysis + optimization + physical planning)
  * and cluster execution — the UI-less stand-in for "nothing is running"
  * driver-side diagnosis. Each query is measured twice warm (the bench's
  * steady state); the second sample is printed.
  * Usage: runMain graft.PlanTime [sfDir] [queryName...]
  */
object PlanTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq
                else Seq("q23_dashboard_recent")
    val spark = Run.session(Run.cores)
    def r3(v: Long) = f"${v / 1e9}%.3f"
    for (n <- names) {
      val fn = SparkEntry.queries(n)
      fn(spark, sfDir).write.mode("overwrite").format("noop").save() // warm
      for (round <- 1 to 2) {
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir) // plan construction (+ any eager steps)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan // analysis -> physical planning
        val t2 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save() // execution (AQE)
        val t3 = System.nanoTime()
        if (round == 2)
          println(s"[plantime] $n construct=${r3(t1 - t0)} " +
            s"plan=${r3(t2 - t1)} exec=${r3(t3 - t2)} total=${r3(t3 - t0)}")
      }
    }
    spark.stop()
  }
}
