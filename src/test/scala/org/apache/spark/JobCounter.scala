package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Records the Spark jobs a block of code starts. Lives in Spark's package
  * for `listenerBus.waitUntilEmpty()`: every job-start event posted before
  * the record is read has been delivered, so the count is exact rather
  * than a sleep-and-hope bound. */
final class JobCounter(sc: SparkContext) extends SparkListener {
  // written only by the listener bus thread
  @volatile private var descriptions = Vector.empty[String]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    descriptions :+= Option(e.properties)
      .flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_DESCRIPTION))).getOrElse("")

  /** `f`'s result and the description of each job it started. */
  def jobsOf[A](f: => A): (A, Seq[String]) = {
    sc.listenerBus.waitUntilEmpty()
    val before = descriptions.size
    val a = f
    sc.listenerBus.waitUntilEmpty()
    (a, descriptions.drop(before))
  }
}

object JobCounter {
  /** Run `f` with a counter on the bus, removed afterwards. */
  def around[A](sc: SparkContext)(f: JobCounter => A): A = {
    val c = new JobCounter(sc)
    sc.addSparkListener(c)
    try f(c) finally sc.removeSparkListener(c)
  }
}
