package perfbench

import graft.cpms.{Etl, Queries, Schemas, Scoring, Streaming}
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.util.control.NonFatal

/** `serve`: one client issuing a seeded mix of `status`, `predict` and
  * `dashboard` requests against a star schema, aggregates and model built
  * in set-up. Every predict appends to the fact tables the dashboards read.
  */
object Serve {

  /** Untimed requests per request type that warm its path. */
  private val Warmup = 2

  private final case class Op(kind: String, user: String, req: Schemas.PredictRequest)

  private final case class Latest(ts: Long, hr: Int, steps: Int, cal: Int)

  /** One finished request: latency, JVM CPU time, per-phase times and
    * whether its output check passed. */
  private final case class Done(kind: String, latency: Double, cpu: Double,
                                phases: Map[String, Double], ok: Boolean)

  private val trainSchema = StructType(Seq(
    StructField("sleep_duration", DoubleType), StructField("stress_level", IntegerType),
    StructField("screen_time", DoubleType), StructField("exercise_frequency", StringType),
    StructField("caffeine_intake", IntegerType), StructField("reaction_time", DoubleType),
    StructField("memory_test_score", IntegerType), StructField("heart_rate", IntegerType),
    StructField("steps", IntegerType), StructField("calories", IntegerType),
    StructField("label", DoubleType)))

  private def readOps(path: String): IndexedSeq[Op] =
    Files.lines(path).map(_.split("\t", -1)).map { f =>
      Op(f(0), f(1), Schemas.PredictRequest(f(1), f(2).toDouble, f(3).toInt,
        f(4).toDouble, f(5), f(6).toInt, f(7).toDouble, f(8).toInt))
    }.toIndexedSeq

  private def readLatest(path: String): Map[String, Latest] =
    Files.lines(path).map(_.split("\t", -1)).map { f =>
      def i(s: String) = if (s.isEmpty) 0 else s.toInt
      f(0) -> Latest(f(1).toLong, i(f(2)), i(f(3)), i(f(4)))
    }.toMap

  private def groups(f: java.io.File): Vector[Group] = {
    val r = ParquetReader.builder(new GroupReadSupport(), new Path(f.getPath)).build()
    try Iterator.continually(r.read()).takeWhile(_ != null).toVector
    finally r.close()
  }

  /** Star schema, aggregates and model: the state the requests need. */
  private def setup(spark: SparkSession, in: String, dir: String,
                    steps: mutable.Map[String, Double]): PipelineModel = {
    def step[T](name: String)(body: => T): T = {
      val (s, v) = Stats.timed(body)
      steps(name) = s
      v
    }
    step("etl_s")(Etl.save(Etl.normalize(spark, s"$in/csv"), s"$dir/star"))
    step("aggregates_s") {
      val events = Streaming.parseEvents(spark.read.text(s"$in/events.jsonl"))
      Streaming.mergeAggregates(spark, Streaming.latestPerUserInBatch(events), s"$dir/agg")
    }
    step("train_s")(Scoring.train(spark.read.option("header", "true").schema(trainSchema)
      .csv(s"$in/train.csv")))
  }

  /** Running expectation of the dashboard stats over every score row. */
  private final class Tally(var rows: Long, var critical: Long, var sum: Long)

  private final class Client(spark: SparkSession, dir: String, model: PipelineModel,
                             latest: Map[String, Latest], tally: Tally,
                             trace: Option[Trace], probe: Option[Probe]) {
    private val agg = s"$dir/agg"
    private val scoresDir = s"$dir/star/cognitive_scores"
    private val risksDir = s"$dir/star/tracking_risks"
    val problems = mutable.ArrayBuffer.empty[String]
    val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)

    private def span[T](name: String, req: String)(body: => T): T =
      trace.fold(body)(_.span(name, req)(body))

    private def readAggregates(): DataFrame =
      spark.read.schema(Schemas.aggregates).parquet(agg)

    private def fail(i: Int, msg: String): Boolean = {
      if (problems.size < 20) problems += s"op $i: $msg"
      false
    }

    def run(i: Int, op: Op): Done = {
      val req = s"op-$i"
      val before = probe.map { p =>
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext); p.total()
      }
      val phases = mutable.LinkedHashMap.empty[String, Double]
      def phase[T](name: String, call: String)(body: => T): T = {
        val (s, v) = Stats.timed(span(call, req)(body))
        phases(name) = s
        v
      }
      var files = 0L
      val c0 = Jvm.cpuSeconds
      val t0 = System.nanoTime()
      // each request returns its output check, run after the clock stops
      val outcome: Either[String, () => Boolean] = try Right(span(s"serve.${op.kind}", req) {
        op.kind match {
          case "status" =>
            val aggs = phase("read_s", "spark.read.aggregates")(readAggregates())
            files += aggs.inputFiles.length
            val rows = phase("exec_s", "cpms.Queries.workerStatus")(
              Queries.workerStatus(aggs, op.user).collect())
            () => checkStatus(i, op, rows)
          case "predict" =>
            val scoreFiles = Files.parquetFiles(scoresDir).map(_.getPath).toSet
            val riskFiles = Files.parquetFiles(risksDir).map(_.getPath).toSet
            val scored = phase("features_s", "cpms.Scoring.assembleFeatures+score") {
              val aggs = readAggregates()
              files += aggs.inputFiles.length
              val requests = spark.createDataFrame(Seq(op.req))
              Scoring.score(model, Scoring.assembleFeatures(requests, Queries.latestPerUser(aggs)))
            }
            phase("append_s", "cpms.Scoring.appendResults")(
              Scoring.appendResults(scored, risksDir, scoresDir))
            () => checkPredict(i, op, scoreFiles, riskFiles)
          case "dashboard" =>
            val (users, scores, risks) = phase("read_s", "spark.read.star") {
              (spark.read.parquet(s"$dir/star/users"), spark.read.parquet(scoresDir),
               spark.read.parquet(risksDir))
            }
            files += users.inputFiles.length + scores.inputFiles.length +
              risks.inputFiles.length
            val recent = phase("recent_s", "cpms.Queries.dashboardRecent")(
              Queries.dashboardRecent(users, scores, risks).collect())
            val stats = phase("stats_s", "cpms.Queries.dashboardStats")(
              Queries.dashboardStats(scores).collect())
            () => checkDashboard(i, recent, stats)
        }
      }) catch {
        case NonFatal(e) => Left(s"${op.kind} threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      val latency = Stats.secs(System.nanoTime() - t0)
      val cpu = Jvm.cpuSeconds - c0
      val ok = outcome match {
        case Right(check) =>
          try check() catch { case NonFatal(e) => fail(i, s"check threw $e") }
        case Left(msg) => fail(i, msg)
      }
      probe.foreach { p =>
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        val d = p.total() - before.get
        counts(s"${op.kind}.jobs") += d.jobs
        counts(s"${op.kind}.tasks") += d.tasks
        counts(s"${op.kind}.scan_stages") += d.scanStages
        counts(s"${op.kind}.files_read") += files
        counts(s"${op.kind}.n") += 1
      }
      Done(op.kind, latency, cpu, phases.toMap, ok)
    }

    private def checkStatus(i: Int, op: Op, rows: Array[Row]): Boolean =
      latest.get(op.user) match {
        case None => rows.isEmpty || fail(i, s"status of unknown user ${op.user} returned rows")
        case Some(e) =>
          if (rows.length != 1) fail(i, s"status returned ${rows.length} rows")
          else {
            val r = rows(0)
            val got = Latest(r.getTimestamp(1).getTime / 1000, r.getInt(2), r.getInt(3), r.getInt(4))
            got == e || fail(i, s"status of ${op.user}: got $got, expected $e")
          }
      }

    private def checkPredict(i: Int, op: Op, scoreFiles: Set[String],
                             riskFiles: Set[String]): Boolean = {
      val newScores = Files.parquetFiles(scoresDir).filterNot(f => scoreFiles(f.getPath))
      val newRisks = Files.parquetFiles(risksDir).filterNot(f => riskFiles(f.getPath))
      val s = newScores.flatMap(groups)
      val r = newRisks.flatMap(groups)
      if (s.size != 1 || r.size != 1)
        fail(i, s"predict appended ${s.size} score rows and ${r.size} risk rows")
      else {
        val score = s.head.getInteger("cognitive_score", 0)
        tally.rows += 1
        tally.sum += score
        if (score < Schemas.CriticalThreshold) tally.critical += 1
        val user = s.head.getString("user_id", 0)
        (user == op.user && r.head.getString("user_id", 0) == op.user) ||
          fail(i, s"predict for ${op.user} appended rows of $user")
      }
    }

    private def checkDashboard(i: Int, recent: Array[Row], stats: Array[Row]): Boolean = {
      val avg = if (tally.rows == 0) 0L else Math.floorDiv(tally.sum, tally.rows)
      val times = recent.map(_.getTimestamp(2).getTime)
      if (recent.length != math.min(50L, tally.rows))
        fail(i, s"dashboard recent returned ${recent.length} rows")
      else if (times.toSeq != times.toSeq.sorted.reverse)
        fail(i, "dashboard recent rows are not newest first")
      else if (stats.length != 1 || stats(0).getLong(0) != tally.critical ||
               stats(0).getInt(1).toLong != avg)
        fail(i, s"dashboard stats ${stats.mkString} != (${tally.critical}, $avg)")
      else true
    }
  }

  def run(ctx: Ctx): Result = {
    val in = s"${ctx.inputs}/serve"
    val expected = ctx.properties("serve/expected.properties")
    val ops = readOps(s"$in/ops.tsv")
    val latest = readLatest(s"$in/latest.tsv")
    def freshTally() = new Tally(expected.getProperty("owned_scores").toLong,
      expected.getProperty("critical").toLong, expected.getProperty("score_sum").toLong)
    val spark = Session.start(ctx.cores, ctx.work)

    val steps = mutable.LinkedHashMap.empty[String, Double]
    val built = (1 to ctx.setups).map { k =>
      val dir = s"${ctx.work}/state$k"
      val (wall, cpu, model) = Stats.measured(setup(spark, in, dir, steps))
      (wall, cpu, dir, model)
    }
    val model = built.last._4

    // untimed warm-up requests on the first set-up's state: JIT and codegen
    // for each request type, so the timed requests measure steady state
    val warm = new Client(spark, built.head._3, model, latest, freshTally(), None, None)
    Seq("status", "predict", "dashboard")
      .flatMap(k => ops.reverseIterator.filter(_.kind == k).take(Warmup))
      .zipWithIndex.foreach { case (op, i) => warm.run(i, op) }

    // timed: whole blocks of ten requests (4 status, 3 predict, 3 dashboard),
    // a fixed number per run length (one block per 3 s, at least two), since
    // every predict grows the tables later requests read
    val n = 10 * math.max(2, math.round(ctx.seconds / 3).toInt).min(ops.size / 10)
    val client = new Client(spark, built.last._3, model, latest, freshTally(), None, None)
    val done = mutable.ArrayBuffer.empty[Done]
    while (done.size < n) done += client.run(done.size, ops(done.size))
    val busy = done.map(_.latency).sum
    val heapMb = Jvm.retainedHeapMb
    val lat = done.map(_.latency).toSeq
    def kind(k: String) = done.filter(_.kind == k).map(_.latency).toSeq
    def p(xs: Seq[Double], q: Double) = if (xs.isEmpty) 0.0 else Stats.pct(xs, q)
    // sustained rate: the mix at each request type's median latency (robust
    // to a stall that hits a few requests)
    val kinds = Seq("status", "predict", "dashboard")
    val sustained = 1.0 / kinds.map(k => kind(k).size.toDouble / done.size * p(kind(k), 0.5)).sum

    val endToEnd = Map(
      "setup_s" -> Stats.median(built.map(_._2)),
      "cpu_ms_per_op" -> Stats.mixMedian(done.map(d => d.kind -> d.cpu).toSeq) * 1e3,
      "heap_retained_mb" -> heapMb)
    var wallFigures = Map(
      "serve_ops_per_s" -> done.size / busy,
      "error_rate" -> done.count(!_.ok).toDouble / done.size)
    for (k <- kinds) {
      val xs = kind(k)
      wallFigures ++= Map(s"${k}_s_p50" -> p(xs, 0.5), s"${k}_s_p90" -> p(xs, 0.9))
    }
    var detail = Map[String, Any](
      "unit_of_work" -> "one request (40% status, 30% predict, 30% dashboard)",
      "sustained_ops_per_s" -> sustained,
      "latency_s_p50" -> Stats.median(lat),
      "requests" -> done.size,
      "request_s_each" -> done.map(d => s"${d.kind}:${"%.3f".format(d.latency)}"),
      "setup_cpu_s_each" -> built.map(_._2),
      "setup_wall_s_each" -> built.map(_._1),
      "setup_steps_s" -> steps.toMap) ++ wallFigures
    for (k <- kinds) detail += s"${k}_samples" -> kind(k).size

    var layers = Map.empty[String, Double]
    if (ctx.trace) {
      // the same requests again, traced, on the untouched state of set-up 2
      val probe = new Probe(_ => "serve")
      spark.sparkContext.addSparkListener(probe)
      val trace = new Trace(spark.sparkContext, probe)
      val dir = built(built.size - 2)._3
      val tc = new Client(spark, dir, model, latest, freshTally(), Some(trace), Some(probe))
      val gc0 = Jvm.gcSeconds
      val jit0 = Jvm.jitSeconds
      val traced = ops.take(done.size).zipWithIndex.map { case (op, i) => tc.run(i, op) }
      val gcS = Jvm.gcSeconds - gc0
      val jitS = Jvm.jitSeconds - jit0
      spark.sparkContext.removeSparkListener(probe)
      trace.write(ctx.tracePath)
      def med(k: String, ph: String): Double = {
        val xs = traced.filter(_.kind == k).flatMap(_.phases.get(ph))
        if (xs.isEmpty) 0.0 else Stats.median(xs)
      }
      def per(k: String, c: String): Double =
        if (tc.counts(s"$k.n") == 0) 0.0 else tc.counts(s"$k.$c") / tc.counts(s"$k.n")
      layers = Map(
        "serve.status.read_s" -> med("status", "read_s"),
        "serve.status.exec_s" -> med("status", "exec_s"),
        "serve.predict.features_s" -> med("predict", "features_s"),
        "serve.predict.append_s" -> med("predict", "append_s"),
        "serve.dashboard.read_s" -> med("dashboard", "read_s"),
        "serve.dashboard.recent_s" -> med("dashboard", "recent_s"),
        "serve.dashboard.stats_s" -> med("dashboard", "stats_s"),
        "serve.table_files" -> (Files.parquetFiles(s"$dir/star/cognitive_scores").size +
          Files.parquetFiles(s"$dir/star/tracking_risks").size).toDouble,
        "serve.predict.aggregate_scans" -> per("predict", "scan_stages"),
        "jvm.gc_s" -> gcS,
        "jvm.jit_s" -> jitS,
        "trace.overhead_s" -> (traced.map(_.latency).sum - busy)) ++ wallFigures
      for (k <- Seq("status", "predict", "dashboard"); c <- Seq("jobs", "tasks", "files_read"))
        layers += s"serve.$k.$c" -> per(k, c)
      detail ++= Map(
        "predict_aggregate_scans_per_request" -> per("predict", "scan_stages"),
        "trace_file" -> ctx.tracePath)
      tc.problems.foreach(p => client.problems += s"traced $p")
      done ++= traced
    }
    spark.stop()
    Result(attempted = done.size, failed = done.count(!_.ok),
      problems = (warm.problems.map(p => s"warm-up $p") ++ client.problems).toSeq,
      endToEnd = endToEnd, layers = layers, detail = detail)
  }
}
