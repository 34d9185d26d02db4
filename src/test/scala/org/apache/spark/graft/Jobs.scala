package org.apache.spark.graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import scala.jdk.CollectionConverters._

/** The Spark jobs a block starts, read off the listener bus (which Spark
  * keeps package-private) once it has drained. One entry per job, in
  * start order: the number of RDDs its stages span, so a lineage that is
  * never truncated shows as entries that grow from job to job.
  */
object Jobs {

  def apply[T](sc: SparkContext)(body: => T): (T, Seq[Int]) = {
    val group = s"jobs-${System.nanoTime()}"
    val seen = new ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)
          seen.add(e.stageInfos.map(_.rddInfos.size).sum)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty(60000L)
      (out, seen.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
