package perfbench

import graft.cpms.{Queries, Schemas, Streaming}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** `ingest`: one `Streaming.start` consumes pre-staged JSON files, one file
  * of 1,000 events per micro-batch, closed loop (the next batch starts only
  * after the last one returns). Default single-table merge.
  */
object Ingest {

  private final case class Pass(wall: Double, cpu: Double, batches: Seq[StreamingQueryProgress])

  private def source(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.option("maxFilesPerTrigger", "1").text(dir)

  private def pass(spark: SparkSession, in: String, state: String): Pass = {
    val (wall, cpu, q) = Stats.measured {
      val q = Streaming.start(spark, source(spark, in),
        s"$state/lake", s"$state/agg", s"$state/ckpt")
      q.awaitTermination()
      q
    }
    q.exception.foreach(e => throw e)
    Pass(wall, cpu, q.recentProgress.toSeq.filter(_.numInputRows > 0))
  }

  private def triggerS(p: StreamingQueryProgress): Double =
    p.durationMs.get("triggerExecution").doubleValue / 1e3

  private def phaseS(p: StreamingQueryProgress, keys: String*): Double =
    keys.map(k => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum / 1e3

  /** Output checks over one finished pass; returns the failed checks. */
  private def check(spark: SparkSession, in: String, state: String,
                    expected: java.util.Properties): Seq[String] = {
    val problems = Seq.newBuilder[String]
    val aggregates = spark.read.schema(Schemas.aggregates).parquet(s"$state/agg")
    // the final state equals the latest row per user recomputed over every
    // valid staged event
    val staged = Streaming.parseEvents(spark.read.text(in))
      .filter(col("user_id").isNotNull && !col("corrupt"))
      .select("user_id", "ts", "heart_rate", "steps", "calories")
    val recomputed = Queries.latestPerUser(staged)
    val a = aggregates.as("a")
    val r = recomputed.as("r")
    def same(c: String) = col(s"a.$c") <=> col(s"r.$c")
    val row = a.join(r, col("a.user_id") === col("r.user_id"), "full_outer").agg(
      count(when(!(same("user_id") && same("ts") && same("heart_rate") && same("steps") &&
                   same("calories")), 1)),
      count(col("a.ts")),
      count(when(col("a.ts").isNotNull &&
                 (col("a.user_id").isNull || col("a.user_id").startsWith("planted-")), 1))).head
    if (row.getLong(0) > 0)
      problems += s"${row.getLong(0)} users differ between the aggregates and the recompute"
    val users = expected.getProperty("valid_users").toLong
    if (row.getLong(1) != users)
      problems += s"aggregates hold ${row.getLong(1)} rows, expected one per valid user ($users)"
    if (row.getLong(2) != 0)
      problems += s"${row.getLong(2)} planted bad records reached the aggregates"
    val lakeRows = spark.read.parquet(s"$state/lake").count()
    val lines = expected.getProperty("lines").toLong
    if (lakeRows != lines) problems += s"lake holds $lakeRows rows, staged $lines"
    problems.result()
  }

  def run(ctx: Ctx): Result = {
    val files = s"${ctx.inputs}/ingest/files"
    val warm = s"${ctx.inputs}/ingest/warm"
    val expected = ctx.properties("ingest/expected.properties")
    val nFiles = new java.io.File(files).list().count(_.endsWith(".json"))
    val events = expected.getProperty("lines").toLong
    var spark = Session.start(ctx.cores, ctx.work)

    // set-up: a stream door started on fresh state, run through one file
    val setups = (1 to ctx.setups).map(k => pass(spark, warm, s"${ctx.work}/setup$k"))

    val main = pass(spark, files, s"${ctx.work}/main")
    val heapMb = Jvm.retainedHeapMb
    val problems = check(spark, files, s"${ctx.work}/main", expected)
    val batchS = main.batches.map(triggerS)
    val eventsPerS = events / main.wall
    // sustained rate: each batch's rows over the time to the next batch's
    // start, median over batches (robust to a stall that hits a few)
    val starts = main.batches.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli)
    val sustained = Stats.median(main.batches.zip(starts.zip(starts.drop(1))).map {
      case (p, (a, b)) => p.numInputRows * 1e3 / math.max(1L, b - a)
    })

    val endToEnd = Map(
      "setup_s" -> Stats.median(setups.map(_.cpu)),
      "cpu_ms_per_op" -> main.cpu * 1e3 / main.batches.size,
      "heap_retained_mb" -> heapMb)
    val wallFigures = Map(
      "ingest_events_per_s" -> eventsPerS,
      "batch_s_p50" -> Stats.median(batchS),
      "batch_s_p90" -> Stats.pct(batchS, 0.9),
      "error_rate" -> problems.size.toDouble / main.batches.size)
    var detail = Map[String, Any](
      "unit_of_work" -> "micro-batch of 1,000 staged events",
      "sustained_events_per_s" -> sustained,
      "batch_samples" -> batchS.size,
      "batch_s_first" -> batchS.head,
      "batch_s_each" -> batchS,
      "batch_phase_s_p50" -> Seq("latestOffset", "walCommit", "queryPlanning", "getBatch",
        "addBatch", "commitOffsets").map(k => k -> Stats.median(main.batches.map(phaseS(_, k)))).toMap,
      "setup_cpu_s_each" -> setups.map(_.cpu),
      "setup_wall_s_each" -> setups.map(_.wall),
      "timed_wall_s" -> main.wall,
      "timed_cpu_s" -> main.cpu,
      "events_staged" -> events,
      "files_staged" -> nFiles,
      "envelope" -> f"ingest_events_per_s=$eventsPerS%.1f (sustained $sustained%.1f) vs BASELINE.md shard ceiling 1000 records/s (${eventsPerS / 1000.0}%.3f of one shard)") ++
      wallFigures

    var layers = Map.empty[String, Double]
    if (ctx.trace) {
      // jobs by the files their plan names: the aggregate merge reads and
      // rewrites `agg`, the cold path appends to `lake`
      val state = s"${ctx.work}/traced"
      val probe = new Probe(plan =>
        if (plan.contains(s"$state/agg")) "merge"
        else if (plan.contains(s"$state/lake")) "cold"
        else "other")
      spark.sparkContext.addSparkListener(probe)
      val trace = new Trace(spark.sparkContext, probe)
      val gc0 = Jvm.gcSeconds
      val jit0 = Jvm.jitSeconds
      val traced = trace.span("cpms.Streaming.start", "ingest")(pass(spark, files, state))
      val gcS = Jvm.gcSeconds - gc0
      val jitS = Jvm.jitSeconds - jit0
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(probe)
      val root = trace.lastClosed
      traced.batches.foreach { p =>
        val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli
        val b = trace.record("cpms.Streaming.batch", s"batch-${p.batchId}", root, t0,
          p.durationMs.get("triggerExecution").longValue)
        var at = t0
        Seq("latestOffset", "walCommit", "queryPlanning", "getBatch", "addBatch", "commitOffsets")
          .foreach { k =>
            Option(p.durationMs.get(k)).foreach { d =>
              trace.record(s"streaming.$k", s"batch-${p.batchId}", b, at, d.longValue)
              at += d.longValue
            }
          }
      }
      trace.write(ctx.tracePath)

      val tallies = probe.snapshot()
      def cat(name: String): Tally = tallies.getOrElse(name, new Tally)
      val all = tallies.values.foldLeft(new Tally)(_ + _)
      val n = traced.batches.size.toDouble
      val addBatch = traced.batches.map(phaseS(_, "addBatch"))
      val aggState = spark.read.schema(Schemas.aggregates).parquet(s"$state/agg")
      val inBytes = Files.walk(new java.io.File(files)).map(_.length).sum.toDouble / nFiles
      val tracedBatchS = traced.batches.map(triggerS)

      // one more pass at local[1] over the first half of the files
      val m = math.max(5, nFiles / 2).min(nFiles)
      val half = new java.io.File(s"${ctx.work}/scaling-in")
      half.mkdirs()
      new java.io.File(files).listFiles().filter(_.getName.endsWith(".json"))
        .sortBy(_.getName).take(m)
        .foreach(f => java.nio.file.Files.copy(f.toPath, new java.io.File(half, f.getName).toPath))
      layers = Map(
        "streaming.latest_offset_s" -> Stats.median(traced.batches.map(phaseS(_, "latestOffset"))),
        "streaming.planning_s" -> Stats.median(traced.batches.map(phaseS(_, "queryPlanning"))),
        "streaming.add_batch_s" -> Stats.median(addBatch),
        "streaming.commit_s" -> Stats.median(traced.batches.map(phaseS(_, "walCommit", "commitOffsets"))),
        "streaming.cold_write_s" -> cat("cold").jobWallMs / 1e3 / n,
        "streaming.merge_s" -> cat("merge").jobWallMs / 1e3 / n,
        "streaming.driver_gap_s" -> (addBatch.sum - all.jobWallMs / 1e3) / n,
        "streaming.jobs_per_batch" -> all.jobs / n,
        "streaming.tasks_per_batch" -> all.tasks / n,
        "streaming.shuffle_bytes_per_batch" -> all.shuffleWrite / n,
        "streaming.state_rows" -> aggState.count().toDouble,
        "streaming.state_bytes" -> Files.bytes(s"$state/agg").toDouble,
        "streaming.rewrite_ratio" -> (cat("merge").outputBytes / n) / inBytes,
        "streaming.lake_files" -> Files.parquetFiles(s"$state/lake").size.toDouble,
        "jvm.gc_s" -> gcS,
        "jvm.jit_s" -> jitS,
        "trace.overhead_s" -> (traced.wall - main.wall)) ++ wallFigures
      detail ++= Map(
        "traced_batch_s_p50" -> Stats.median(tracedBatchS),
        "trace_file" -> ctx.tracePath)

      spark.stop()
      spark = Session.start(1, ctx.work + "/one-core")
      val one = pass(spark, half.getPath, s"${ctx.work}/one-core-state")
      val nCoreS = main.batches.take(m).map(triggerS).sum
      val oneCoreS = one.batches.map(triggerS).sum
      layers += "streaming.core_scaling" -> oneCoreS / nCoreS
      detail += "core_scaling_batches" -> m
    }
    spark.stop()
    Result(attempted = main.batches.size, failed = problems.size, problems = problems,
      endToEnd = endToEnd, layers = layers, detail = detail)
  }
}
