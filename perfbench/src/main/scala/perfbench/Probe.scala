package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable

/** Work the scheduler reports for one category of jobs. */
final class Tally {
  var jobs, stages, tasks, scanStages = 0L
  var jobWallMs, runMs, gcMs, schedDelayMs = 0L
  var shuffleWrite, spill, outputBytes = 0L

  private def fields: Array[Long] = Array(jobs, stages, tasks, scanStages,
    jobWallMs, runMs, gcMs, schedDelayMs,
    shuffleWrite, spill, outputBytes)

  private def set(a: Array[Long]): Tally = {
    jobs = a(0); stages = a(1); tasks = a(2); scanStages = a(3)
    jobWallMs = a(4); runMs = a(5); gcMs = a(6); schedDelayMs = a(7)
    shuffleWrite = a(8); spill = a(9); outputBytes = a(10)
    this
  }

  def +(o: Tally): Tally =
    new Tally().set(fields.zip(o.fields).map { case (a, b) => a + b })
  def -(o: Tally): Tally =
    new Tally().set(fields.zip(o.fields).map { case (a, b) => a - b })
  def copy: Tally = new Tally().set(fields)

  def counts: Map[String, Long] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill)
}

/** Listener the benchmark registers itself: counts jobs, stages, tasks and
  * their metrics, grouped by a category that `classify` derives from what
  * Spark reports about each job: the physical plan of the SQL execution the
  * job belongs to (which names the files it reads and writes), else the job's
  * call site. A streaming query reports the call site of its start for every
  * job, so only the plan tells its jobs apart.
  */
final class Probe(classify: String => String) extends SparkListener {
  private val tallies = mutable.Map.empty[String, Tally]
  private val stageCat = mutable.Map.empty[Int, String]
  private val jobStarts = mutable.Map.empty[Int, (Long, String)]
  private val plans = mutable.Map.empty[Long, String]

  private def tally(cat: String): Tally = tallies.getOrElseUpdate(cat, new Tally)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { plans(s.executionId) = s.physicalPlanDescription }
    case s: SparkListenerSQLExecutionEnd => synchronized { plans.remove(s.executionId) }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val plan = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => plans.get(id.toLong))
    val cat = classify(plan.getOrElse(e.stageInfos.headOption.map(_.details).getOrElse("")))
    e.stageIds.foreach(id => stageCat(id) = cat)
    jobStarts(e.jobId) = (e.time, cat)
    tally(cat).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (t0, cat) =>
      tally(cat).jobWallMs += e.time - t0
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val t = tally(stageCat.getOrElse(e.stageInfo.stageId, "other"))
    t.stages += 1
    if (e.stageInfo.rddInfos.exists(_.name.contains("FileScanRDD"))) t.scanStages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = tally(stageCat.getOrElse(e.stageId, "other"))
    t.tasks += 1
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) {
      t.runMs += m.executorRunTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.outputBytes += m.outputMetrics.bytesWritten
      if (i != null && i.finished) {
        // the scheduler-delay formula of Spark's own stage page
        val gettingResult =
          if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
        t.schedDelayMs += math.max(0L, (i.finishTime - i.launchTime) -
          m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - gettingResult)
      }
    }
  }

  def snapshot(): Map[String, Tally] = synchronized {
    tallies.map { case (k, v) => k -> v.copy }.toMap
  }

  def total(): Tally = snapshot().values.foldLeft(new Tally)(_ + _)
}
