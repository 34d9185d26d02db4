package perfbench

/** Everything a workload needs to know about its run. */
final case class Ctx(
    workload: String,
    work: String,    // this run's scratch state; fresh per run
    inputs: String,  // seeded inputs made by the launcher
    bench: String,   // the benchmark's own directory (expected values, data)
    seconds: Double,
    trace: Boolean,
    seed: Long,
    cores: Int,
    setups: Int,
    tracePath: String) {

  def properties(rel: String): java.util.Properties = {
    val p = new java.util.Properties()
    val in = new java.io.FileInputStream(s"$inputs/$rel")
    try p.load(in) finally in.close()
    p
  }
}

/** JVM entry of the benchmark. Runs one workload and prints one line
  * `PERFBENCH_RESULT {...}` for the launcher (`perfbench/run.py`).
  *
  * Usage: perfbench.Main --workload W --work DIR --inputs DIR --bench DIR
  *          --seconds S --trace 0|1 --seed N --cores N --trace-file PATH
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = Ctx(
      workload = o("workload"), work = o("work"), inputs = o("inputs"),
      bench = o("bench"), seconds = o.getOrElse("seconds", "10").toDouble,
      trace = o.getOrElse("trace", "0") == "1", seed = o.getOrElse("seed", "1").toLong,
      cores = o("cores").toInt, setups = o.getOrElse("setups", "3").toInt,
      tracePath = o.getOrElse("trace-file", s"${o("work")}/trace.jsonl"))
    if (ctx.workload == "record-registry") {
      Registry.record(ctx, o("names").split(",").toSeq, o("out"))
      return
    }
    if (ctx.workload == "warmup") {
      // a small run of every workload, so a class-data archive dumped at
      // exit holds the classes all of them load
      Ingest.run(ctx.copy(work = s"${ctx.work}/ingest"))
      Serve.run(ctx.copy(work = s"${ctx.work}/serve"))
      Registry.run(ctx.copy(work = s"${ctx.work}/registry"))
      return
    }
    val t0 = System.nanoTime()
    val r = ctx.workload match {
      case "ingest" => Ingest.run(ctx)
      case "serve" => Serve.run(ctx)
      case "registry" => Registry.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val out = Map(
      "attempted" -> r.attempted, "failed" -> r.failed, "problems" -> r.problems,
      "end_to_end" -> r.endToEnd, "per_layer" -> r.layers, "detail" -> r.detail,
      "session" -> Session.describe(ctx.cores),
      "jvm_s" -> Stats.secs(System.nanoTime() - t0),
      "jvm_cpu_s" -> Jvm.cpuSeconds, "jit_cpu_s" -> Jvm.jitSeconds)
    println("PERFBENCH_RESULT " + Json.render(out))
  }
}
