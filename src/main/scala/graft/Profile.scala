package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Dev tool (guide §1/§7): execute selected queries and dump the FINAL
  * adaptive plan with per-operator SQL metrics — the text equivalent of
  * the Spark UI's SQL tab, for a UI-less sandbox. Usage:
  *   runMain graft.Profile [sfDir] [queryName...]
  * Each query runs twice (the second, warm run is the one whose metrics
  * are printed, matching what the bench's min-of-passes measures).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq
                else Seq("q23_dashboard_recent")
    val spark = Run.session(Run.cores)

    def walk(p: SparkPlan, depth: Int, out: StringBuilder): Unit = {
      val interesting = p.metrics.filterNot(_._2.value <= 0)
        .map { case (k, m) =>
          val v = m.metricType match {
            case "timing" => s"${m.value} ms"
            case "nsTiming" => f"${m.value / 1e6}%.1f ms"
            case "size" => s"${m.value} B"
            case _ => m.value.toString
          }
          s"$k=$v"
        }.mkString(", ")
      out.append("  " * depth).append(p.nodeName)
      if (interesting.nonEmpty) out.append("  [").append(interesting).append("]")
      out.append('\n')
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1, out)
        case q: QueryStageExec => walk(q.plan, depth + 1, out)
        case r: ReusedExchangeExec => walk(r.child, depth + 1, out)
        case _ => p.children.foreach(walk(_, depth + 1, out))
      }
    }

    def r3(v: Long) = f"${v / 1e9}%.3f"
    for (n <- names) {
      val fn = SparkEntry.queries(n)
      // warm run 1 (builds any session artifacts / JIT)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val t1 = System.nanoTime()
      // warm run 2 through the noop sink — the bench's timed shape
      val t2 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val t3 = System.nanoTime()
      // metrics run: collect() drives THIS DataFrame's QueryExecution so
      // the adaptive plan below carries populated SQL metrics
      val df = fn(spark, sfDir)
      val t4 = System.nanoTime()
      df.collect()
      val t5 = System.nanoTime()
      println(s"\n========== $n  cold=${r3(t1 - t0)} warmNoop=${r3(t3 - t2)}" +
        s" collect=${r3(t5 - t4)} ==========")
      val sb = new StringBuilder
      walk(df.queryExecution.executedPlan, 0, sb)
      println(sb.toString)
    }
    spark.stop()
  }
}
