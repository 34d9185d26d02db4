package perfbench

import graft.Q
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.util.control.NonFatal

/** `registry`: a fixed slice of the `SparkEntry` registry — one query from
  * each operator family, reached through each object's `all` — run by one
  * caller in seed-determined orders over the benchmark's copy of the sf0.001
  * tables. Set-up builds every `DerivedCache` artifact the slice needs into
  * a fresh store; the timed passes are warm. Each query is materialised
  * through the `noop` sink, as `graft.Bench` does.
  */
object Registry {

  val families: Seq[(String, Seq[Q])] = Seq(
    "Relational" -> Relational.all, "Relational2" -> Relational2.all,
    "TrainingData" -> TrainingData.all, "Curation" -> Curation.all,
    "Prep" -> Prep.all, "WebGraph" -> WebGraph.all)

  private lazy val byName: Map[String, (String, Q)] =
    families.flatMap { case (f, qs) => qs.map(q => q.name -> (f, q)) }.toMap

  /** Expected output of one query: row count and order-independent checksum. */
  final case class Expected(name: String, family: String, rows: Long, checksum: Long,
                            deterministic: Boolean)

  def readExpected(path: String): Seq[Expected] =
    Files.lines(path).filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split("\t")).map { f =>
        Expected(f(0), f(1), f(2).toLong, f(3).toLong, f(4) == "deterministic")
      }

  /** Doubles rounded to 6 places (and -0.0 folded into 0.0), maps as sorted
    * entry arrays, recursively: the row hash then ignores the last-bit noise
    * of partition-order float sums.
    */
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fs) =>
      if (fs.isEmpty) c else struct(fs.map(f => norm(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
    case MapType(kt, vt, _) =>
      norm(array_sort(map_entries(c)), ArrayType(StructType(Seq(
        StructField("key", kt), StructField("value", vt)))))
    case _ => c
  }

  /** (row count, sum over rows of a 31-bit row hash). */
  def digest(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.toSeq.flatMap { f =>
      val c = col(s"`${f.name.replace("`", "``")}`")
      Seq(norm(c, f.dataType), c.isNull)
    }
    val h = if (cols.isEmpty) lit(0L) else pmod(xxhash64(cols: _*), lit(2147483647L))
    val r = df.select(h.as("h")).agg(count(lit(1)), coalesce(sum("h"), lit(0L))).head
    (r.getLong(0), r.getLong(1))
  }

  /** The store's directory for one copy of the tables (DerivedCache keys
    * artifacts by the md5 of the tables' absolute path).
    */
  private def corpusKey(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(new java.io.File(dir).getAbsolutePath.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** `_fingerprint` sidecars in the artifact store, with their mtimes. */
  private def artifacts(store: String): Set[(String, Long)] =
    Files.walk(new java.io.File(store)).filter(_.getName == "_fingerprint")
      .map(f => (f.getPath, f.lastModified)).toSet

  /** Optimisation and planning time of the last finished query execution. */
  private final class PlanClock extends QueryExecutionListener {
    @volatile var last = 0.0
    private def phases(qe: QueryExecution): Double =
      Seq(QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
        .flatMap(qe.tracker.phases.get).map(_.durationMs).sum / 1e3
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      last = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      last = phases(qe)
  }

  /** One timed query: construct, plan, execute (plan is split out only when
    * traced) and the JVM CPU time of all three. */
  private final case class Run(name: String, family: String, construct: Double, plan: Double,
                               exec: Double, cpu: Double, tally: Tally, ok: Boolean) {
    def total: Double = construct + plan + exec
  }

  def run(ctx: Ctx): Result = {
    val expected = readExpected(s"${ctx.bench}/expected/registry.tsv")
    val orders = Files.lines(s"${ctx.inputs}/registry/orders.txt").map(_.split(",").toSeq)
    val exp = expected.map(e => e.name -> e).toMap
    val store = sys.env.getOrElse("SPARK_GRAFT_CACHE_DIR",
      throw new IllegalStateException("SPARK_GRAFT_CACHE_DIR must name this run's fresh store"))
    val spark = Session.start(ctx.cores, ctx.work)
    val problems = mutable.ArrayBuffer.empty[String]
    def problem(msg: String): Unit = if (problems.size < 20) problems += msg

    // set-up k builds every DerivedCache artifact the slice needs into a
    // fresh store (a fresh copy of the tables gets fresh artifacts). The first
    // runs the whole slice, which also warms codegen, the JIT and the
    // session caches; later ones rerun only the queries that built an
    // artifact in the first. The timed passes run on the first copy.
    var builders = Seq.empty[String]
    val setupQueryS = mutable.LinkedHashMap.empty[String, Double]
    val coldQueryS = mutable.LinkedHashMap.empty[String, Double]
    val setups = (1 to ctx.setups).map { k =>
      val corpus = s"${ctx.work}/corpus-$k"
      Files.copyTree(new java.io.File(s"${ctx.bench}/data/sf0.001"), new java.io.File(corpus))
      val order = if (k == 1) orders(0) else orders(k - 1).filter(builders.contains)
      val (wall, cpu, _) = Stats.measured {
        order.foreach { name =>
          val before = if (k == 1) artifacts(store) else Set.empty[(String, Long)]
          val (t, _) = Stats.timed(noop(byName(name)._2.fn(spark, corpus)))
          if (k == 1 && artifacts(store) != before) builders :+= name
          if (k == ctx.setups) setupQueryS(name) = t
          if (k == 1) coldQueryS(name) = t
        }
      }
      (wall, cpu)
    }
    val buildS = setupQueryS.values.sum
    val corpus = s"${ctx.work}/corpus-1"
    val storeBefore = artifacts(store)

    def pass(order: Seq[String], check: Boolean, probe: Option[Probe], trace: Option[Trace],
             clock: Option[PlanClock], tag: String): Seq[Run] = order.map { name =>
      val (family, q) = byName(name)
      def span[T](call: String)(body: => T): T =
        trace.fold(body)(_.span(call, s"$tag-$name")(body))
      val before = probe.map { p => org.apache.spark.perfbench.Bus.drain(spark.sparkContext); p.total() }
      try {
        val c0 = Jvm.cpuSeconds
        val (c, df) = Stats.timed(span(s"operators.$family.${q.name}")(q.fn(spark, corpus)))
        val (e, _) = Stats.timed(span("noop.write")(noop(df)))
        val cpu = Jvm.cpuSeconds - c0
        val d = probe.fold(new Tally) { p =>
          org.apache.spark.perfbench.Bus.drain(spark.sparkContext); p.total() - before.get
        }
        val plan = clock.fold(0.0)(_.last)
        val ok = !check || {
          val x = exp(name)
          val (rows, sum) = digest(df)
          val good = rows == x.rows && (!x.deterministic || sum == x.checksum)
          if (!good) problem(s"$name: rows=$rows checksum=$sum, expected rows=${x.rows} checksum=${x.checksum}")
          good
        }
        Run(name, family, c, plan, e - plan, cpu, d, ok)
      } catch {
        case NonFatal(e) =>
          problem(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          Run(name, family, 0.0, 0.0, 0.0, 0.0, new Tally, ok = false)
      }
    }

    // timed: a fixed number of whole warm passes per run length (one per
    // 2 s, at least three)
    val timedOrders = orders.drop(ctx.setups)
    val nPasses = math.max(3, math.round(ctx.seconds / 2).toInt).min(timedOrders.size)
    val passes = mutable.ArrayBuffer.empty[(Double, Seq[Run])]
    while (passes.size < nPasses) {
      val order = timedOrders(passes.size)
      val runs = pass(order, check = passes.isEmpty, None, None, None, s"pass${passes.size + 1}")
      passes += ((runs.map(_.total).sum, runs))
    }
    val heapMb = Jvm.retainedHeapMb
    val runs = passes.flatMap(_._2).toSeq
    val queryS = runs.map(_.total)
    val passS = passes.map(_._1).toSeq
    val buildsTimed = (artifacts(store) -- storeBefore).size

    val endToEnd = Map(
      "setup_s" -> Stats.median(setups.map(_._2)),
      "cpu_ms_per_op" -> Stats.mixMedian(runs.map(r => r.name -> r.cpu)) * 1e3,
      "heap_retained_mb" -> heapMb)
    val wallFigures = Map(
      "registry_pass_s" -> Stats.median(passS),
      "query_s_p50" -> Stats.median(queryS),
      "error_rate" -> runs.count(!_.ok).toDouble / runs.size)
    var detail = Map[String, Any](
      "unit_of_work" -> s"one registry query through the noop sink; ${expected.size} queries per pass",
      "registry_pass_s_each" -> passS,
      "query_s_p90" -> Stats.pct(queryS, 0.9),
      "query_samples" -> queryS.size,
      "passes" -> passes.size,
      "setup_cpu_s_each" -> setups.map(_._2),
      "setup_wall_s_each" -> setups.map(_._1),
      "setup_query_s" -> setupQueryS.toMap,
      "cold_query_s" -> coldQueryS.toMap,
      "artifact_builders" -> builders,
      "nondeterministic_queries" -> expected.filterNot(_.deterministic).map(_.name)) ++
      wallFigures

    var layers = Map.empty[String, Double]
    if (ctx.trace) {
      val probe = new Probe(_ => "registry")
      val clock = new PlanClock
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(clock)
      val trace = new Trace(spark.sparkContext, probe)
      val gc0 = Jvm.gcSeconds
      val jit0 = Jvm.jitSeconds
      val traced = timedOrders.take(passes.size).zipWithIndex.map { case (order, i) =>
        trace.span("registry.pass", s"traced${i + 1}")(
          pass(order, check = false, Some(probe), Some(trace), Some(clock), s"traced${i + 1}"))
      }
      val gcS = Jvm.gcSeconds - gc0
      val jitS = Jvm.jitSeconds - jit0
      spark.sparkContext.removeSparkListener(probe)
      spark.listenerManager.unregister(clock)
      trace.write(ctx.tracePath)
      val truns = traced.flatten
      for ((f, _) <- families) {
        val rs = truns.filter(_.family == f)
        val n = rs.size.max(1).toDouble
        val t = rs.map(_.tally).foldLeft(new Tally)(_ + _)
        val execWall = rs.map(r => r.plan + r.exec).sum
        layers ++= Map(
          s"registry.$f.construct_s" -> rs.map(_.construct).sum / n,
          s"registry.$f.plan_s" -> rs.map(_.plan).sum / n,
          s"registry.$f.exec_s" -> rs.map(_.exec).sum / n,
          s"registry.$f.jobs" -> t.jobs / n,
          s"registry.$f.stages" -> t.stages / n,
          s"registry.$f.tasks" -> t.tasks / n,
          s"registry.$f.shuffle_write_bytes" -> t.shuffleWrite / n,
          s"registry.$f.spill_bytes" -> t.spill / n,
          s"registry.$f.gc_s" -> t.gcMs / 1e3 / n,
          s"registry.$f.executor_busy" ->
            (if (execWall <= 0) 0.0 else t.runMs / 1e3 / (execWall * ctx.cores)))
      }
      val all = truns.map(_.tally).foldLeft(new Tally)(_ + _)
      layers ++= Map(
        "registry.scheduler_delay_s" -> all.schedDelayMs / 1e3 / truns.size.max(1),
        "derived.build_s" -> buildS,
        "derived.store_bytes" -> Files.bytes(s"$store/${corpusKey(corpus)}").toDouble,
        "derived.builds_timed" -> buildsTimed.toDouble,
        "jvm.gc_s" -> gcS,
        "jvm.jit_s" -> jitS,
        "trace.overhead_s" -> (truns.map(_.total).sum - runs.map(_.total).sum)) ++ wallFigures
      detail += "trace_file" -> ctx.tracePath
    }
    detail += "derived_builds_timed" -> buildsTimed
    spark.stop()
    Result(attempted = runs.size, failed = runs.count(!_.ok), problems = problems.toSeq,
      endToEnd = endToEnd, layers = layers, detail = detail)
  }

  /** Record the expected values for the given queries: run each on the
    * tables and print `name family rows checksum` lines.
    */
  def record(ctx: Ctx, names: Seq[String], out: String): Unit = {
    val spark = Session.start(ctx.cores, ctx.work)
    val corpus = s"${ctx.work}/corpus"
    Files.copyTree(new java.io.File(s"${ctx.bench}/data/sf0.001"), new java.io.File(corpus))
    val lines = names.map { name =>
      val (family, q) = byName(name)
      val (rows, sum) = digest(q.fn(spark, corpus))
      s"$name\t$family\t$rows\t$sum"
    }
    val w = new java.io.PrintWriter(out, "UTF-8")
    try lines.foreach(w.println) finally w.close()
    spark.stop()
  }
}
