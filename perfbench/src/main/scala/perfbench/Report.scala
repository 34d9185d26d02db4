package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** What one workload run hands back to the launcher. */
final case class Result(
    attempted: Long,
    failed: Long,
    problems: Seq[String],
    endToEnd: Map[String, Double],
    layers: Map[String, Double],
    detail: Map[String, Any])

object Stats {

  /** Linear-interpolated percentile, `q` in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Median per kind of operation, averaged with each kind's share of the
    * samples: the cost of one operation of the mix, robust to the few
    * operations a collection or a late compilation lands on.
    */
  def mixMedian(samples: Seq[(String, Double)]): Double =
    samples.groupBy(_._1).values.map(xs => xs.size * median(xs.map(_._2))).sum / samples.size

  def secs(ns: Long): Double = ns / 1e9

  /** Wall time of `body` in seconds, with its value. */
  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val v = body
    (secs(System.nanoTime() - t0), v)
  }

  /** Wall and JVM CPU seconds of `body`, with its value. */
  def measured[T](body: => T): (Double, Double, T) = {
    val c0 = Jvm.cpuSeconds
    val (wall, v) = timed(body)
    (wall, Jvm.cpuSeconds - c0, v)
  }
}

/** JVM-wide counters: CPU time, collector time, JIT time and retained heap. */
object Jvm {

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds the JVM has used so far outside its JIT compiler threads:
    * the engine's own work and the collector's. The kernel leaves out time
    * the hypervisor gave to other guests (steal), so this, unlike wall time,
    * does not grow when a neighbour takes the host's CPUs; leaving out the
    * compiler leaves out how far the JIT happened to get during a region.
    * The launcher keeps the compiler threads alive for the whole run
    * (`-XX:-UseDynamicNumberOfCompilerThreads`) so none of their time is lost.
    */
  def cpuSeconds: Double = os.getProcessCpuTime / 1e9 - jitSeconds

  private lazy val compilerThreads: Seq[java.io.File] =
    Option(new java.io.File("/proc/self/task").listFiles).toSeq.flatten.filter { t =>
      val comm = new java.io.File(t, "comm")
      comm.isFile && {
        val name = new String(java.nio.file.Files.readAllBytes(comm.toPath), "UTF-8")
        name.startsWith("C1 Compiler") || name.startsWith("C2 Compiler")
      }
    }

  /** CPU seconds the JIT compiler threads have used so far (Linux
    * scheduler statistics; 0 where they are not available). */
  def jitSeconds: Double = compilerThreads.map { t =>
    try {
      val f = new String(java.nio.file.Files.readAllBytes(new java.io.File(t, "schedstat").toPath), "UTF-8")
      f.trim.split(" ")(0).toLong / 1e9
    } catch { case _: java.io.IOException | _: NumberFormatException => 0.0 }
  }.sum

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Heap in use after full collections, in MB (10^6 bytes). Collects
    * until a round frees less than 1%: Spark's cleaner drops broadcast and
    * cached blocks only after a collection has cleared their references,
    * so their memory comes back a round later.
    */
  def retainedHeapMb: Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Long = { System.gc(); Thread.sleep(100); mem.getHeapMemoryUsage.getUsed }
    var last = collect()
    var rounds = 1
    var now = collect()
    while (rounds < 10 && now < last * 0.99) { last = now; now = collect(); rounds += 1 }
    math.min(last, now) / 1e6
  }
}

/** Minimal JSON writer for results and trace lines. */
object Json {

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case o => quote(o.toString)
  }

  def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}

/** Small file helpers for the run's own work directory. */
object Files {
  import java.io.File

  def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
    else if (f.exists) Seq(f) else Seq.empty

  def bytes(dir: String): Long = walk(new File(dir)).map(_.length).sum

  /** Parquet data files under `dir`, hidden and marker files excluded. */
  def parquetFiles(dir: String): Seq[File] =
    walk(new File(dir)).filter { f =>
      val n = f.getName
      n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
    }

  def copyTree(src: File, dst: File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles).toSeq.flatten.foreach(c => copyTree(c, new File(dst, c.getName)))
    } else java.nio.file.Files.copy(src.toPath, dst.toPath)
  }

  def lines(path: String): Seq[String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().toVector finally src.close()
  }
}
