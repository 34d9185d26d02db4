package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.Bus
import scala.collection.mutable

/** Spans around the benchmark's calls into each layer: name, start, end,
  * parent and request id, plus the listener's counts over the span. Kept in
  * memory and written as JSON lines when the run ends. Off unless the run
  * is traced; when off, `span` is a plain call.
  */
final class Trace(sc: SparkContext, probe: Probe) {
  private val t0Ns = System.nanoTime()
  private val t0EpochMs = System.currentTimeMillis()
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val stack = mutable.Stack.empty[Long]
  private var next = 0L
  private var closed = 0L

  private def us(ns: Long): Double = (ns - t0Ns) / 1e3

  def span[T](name: String, request: String)(body: => T): T = {
    next += 1
    val id = next
    val parent = stack.headOption.getOrElse(0L)
    Bus.drain(sc)
    val before = probe.total()
    stack.push(id)
    val start = System.nanoTime()
    try body
    finally {
      val end = System.nanoTime()
      stack.pop()
      Bus.drain(sc)
      val counts = (probe.total() - before).counts
      spans += Map("id" -> id, "parent" -> parent, "name" -> name,
        "request" -> request, "start_us" -> us(start), "end_us" -> us(end),
        "counts" -> counts)
      closed = id
    }
  }

  /** Id of the span that ended last. */
  def lastClosed: Long = closed

  /** A span whose bounds come from a record Spark keeps itself (a
    * streaming progress report), attached under `parent`.
    */
  def record(name: String, request: String, parent: Long,
             startEpochMs: Long, durMs: Long): Long = {
    next += 1
    val start = (startEpochMs - t0EpochMs) * 1e3
    spans += Map("id" -> next, "parent" -> parent, "name" -> name,
      "request" -> request, "start_us" -> start, "end_us" -> (start + durMs * 1e3),
      "counts" -> Map.empty[String, Long])
    next
  }

  def write(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      w.println(Json.render(Map("trace_start_epoch_ms" -> t0EpochMs)))
      spans.foreach(s => w.println(Json.render(s)))
    } finally w.close()
  }
}
