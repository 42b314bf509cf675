package org.apache.spark.graftshim

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Records the Spark jobs a block of code starts and what each one cost.
  * Lives in Spark's package for `listenerBus.waitUntilEmpty()`: every event
  * posted before a record is read has been delivered, so the record is
  * exact rather than a sleep-and-hope bound. */
final class JobListener private () extends SparkListener {
  import JobListener.Job

  // written by the listener bus thread, read after a drain
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val description = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_DESCRIPTION))).getOrElse("")
    // the result stage, created last, is named after the job's call site
    val callSite = e.stageInfos.maxByOption(_.stageId).fold("")(_.name)
    jobs(e.jobId) = Job(e.jobId, description, callSite, e.time, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    for (id <- stageJob.get(s.stageId); j <- jobs.get(id)) {
      val m = Option(s.taskMetrics)
      jobs(id) = j.copy(stages = j.stages + 1,
        taskMs = j.taskMs + m.fold(0L)(_.executorRunTime),
        shuffleBytes = j.shuffleBytes + m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
        inputBytes = j.inputBytes + m.fold(0L)(_.inputMetrics.bytesRead))
    }
  }

  private def reset(): Unit = synchronized { jobs.clear(); stageJob.clear() }
  private def recorded: Seq[Job] = synchronized(jobs.values.toVector)
}

object JobListener {

  /** One job: its description (empty when none was set), call site, start
    * and end times (ms), and its completed stages with their summed task
    * run time, shuffle bytes written and input bytes read. */
  final case class Job(id: Int, description: String, callSite: String, start: Long, end: Long,
                       stages: Int = 0, taskMs: Long = 0L, shuffleBytes: Long = 0L,
                       inputBytes: Long = 0L) {
    def name: String = if (description.nonEmpty) description else callSite
  }

  /** Waits until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `f`'s result and the jobs it started, in start order. */
  def jobsOf[A](sc: SparkContext)(f: => A): (A, Seq[Job]) = {
    val l = new JobListener
    sc.addSparkListener(l)
    try {
      drain(sc)
      l.reset()
      val a = f
      drain(sc)
      (a, l.recorded)
    } finally sc.removeSparkListener(l)
  }
}
