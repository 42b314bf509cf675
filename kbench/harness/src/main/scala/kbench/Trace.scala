package kbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory span recorder. A span is opened on the calling thread around
  * one call into the system; while it is open, the thread's Spark local
  * property `kbench.span` names it, so every job the call submits (also
  * from threads it starts, which inherit local properties) is attributed
  * to it by [[SparkCounters]]. Spans are written out once, at exit. */
final class Trace(sc: SparkContext) {
  import Trace._

  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Span]
  val counters = new SparkCounters
  sc.addSparkListener(counters)

  /** Stop and resume counting Spark work, so a traced run can also measure
    * the same calls with no listener on the bus (the tracing overhead). */
  def detach(): Unit = sc.removeSparkListener(counters)
  def attach(): Unit = sc.addSparkListener(counters)

  /** Run `body` inside a span; returns its result and the closed span. */
  def span[A](name: String, request: Long = -1L)(body: => A): (A, Span) = {
    val parent = Option(current.get)
    val s = Span(ids.incrementAndGet(), parent.map(_.id).getOrElse(0L), name,
      if (request >= 0) request else parent.map(_.request).getOrElse(-1L), System.nanoTime())
    val prevProp = sc.getLocalProperty(SpanProperty)
    current.set(s)
    sc.setLocalProperty(SpanProperty, s.id.toString)
    try {
      val r = body
      (r, s)
    } finally {
      s.endNs = System.nanoTime()
      spans.add(s)
      current.set(parent.orNull)
      sc.setLocalProperty(SpanProperty, prevProp)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Spark work attributed to a span and its descendants. */
  def work(s: Span): Work = {
    val children = all.groupBy(_.parent)
    def ids(x: Span): Seq[Long] = x.id +: children.getOrElse(x.id, Nil).flatMap(ids)
    ids(s).map(counters.of).foldLeft(Work())(_ + _)
  }

  /** One JSON object per span, to `path`. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      val w = counters.of(s.id)
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","request":${s.request},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${w.jobs},"tasks":${w.tasks},""" +
        s""""task_ms":${w.taskMs},"sched_delay_ms":${w.schedDelayMs},"input_bytes":${w.inputBytes},""" +
        s""""shuffle_bytes":${w.shuffleBytes},"write_jobs":${w.writeJobs},"write_ms":${w.writeMs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Trace {
  val SpanProperty = "kbench.span"

  final case class Span(id: Long, parent: Long, name: String, request: Long, startNs: Long) {
    @volatile var endNs: Long = 0L
    def ms: Double = (endNs - startNs) / 1e6
  }

  final case class Work(jobs: Long = 0, tasks: Long = 0, taskMs: Long = 0, schedDelayMs: Long = 0,
                        inputBytes: Long = 0, shuffleBytes: Long = 0, writeJobs: Long = 0,
                        writeMs: Long = 0, bytesWritten: Long = 0) {
    def +(o: Work): Work = Work(jobs + o.jobs, tasks + o.tasks, taskMs + o.taskMs,
      schedDelayMs + o.schedDelayMs, inputBytes + o.inputBytes, shuffleBytes + o.shuffleBytes,
      writeJobs + o.writeJobs, writeMs + o.writeMs, bytesWritten + o.bytesWritten)
  }
}

/** Attributes Spark jobs, tasks and bytes to the span open on the thread
  * that submitted the job. Segment writes are recognised by their job
  * description, `graft.write <path>`. */
final class SparkCounters extends SparkListener {
  import Trace.Work
  private val jobSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStartMs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobIsWrite = new ConcurrentHashMap[Int, java.lang.Boolean]()
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageWrite = new ConcurrentHashMap[Int, java.lang.Boolean]()
  private val bySpan = mutable.HashMap.empty[Long, Work]

  private def add(span: Long, w: Work): Unit = bySpan.synchronized {
    bySpan(span) = bySpan.getOrElse(span, Work()) + w
  }
  /** Work attributed to `span`; 0 collects work submitted outside any span
    * (e.g. by the HTTP server's threads). */
  def of(span: Long): Work = bySpan.synchronized(bySpan.getOrElse(span, Work()))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Trace.SpanProperty))).map(_.toLong).getOrElse(0L)
    val write = props.flatMap(p => Option(p.getProperty("spark.job.description")))
      .exists(_.startsWith("graft.write"))
    jobSpan.put(e.jobId, span)
    jobStartMs.put(e.jobId, e.time)
    jobIsWrite.put(e.jobId, write)
    e.stageIds.foreach { s => stageSpan.put(s, span); stageWrite.put(s, write) }
    add(span, Work(jobs = 1, writeJobs = if (write) 1 else 0))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val span = Option(jobSpan.remove(e.jobId)).map(_.longValue).getOrElse(0L)
    val start = Option(jobStartMs.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
    if (Option(jobIsWrite.remove(e.jobId)).exists(_.booleanValue))
      add(span, Work(writeMs = e.time - start))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = Option(stageSpan.get(e.stageId)).map(_.longValue).getOrElse(0L)
    val m = Option(e.taskMetrics)
    val info = e.taskInfo
    val run = m.map(_.executorRunTime).getOrElse(0L)
    val overhead = m.map(t => t.executorDeserializeTime + t.resultSerializationTime).getOrElse(0L)
    val sched = math.max(0L, info.duration - run - overhead - info.gettingResultTime)
    val write = Option(stageWrite.get(e.stageId)).exists(_.booleanValue)
    add(span, Work(
      tasks = 1, taskMs = run, schedDelayMs = sched,
      inputBytes = m.map(_.inputMetrics.bytesRead).getOrElse(0L),
      shuffleBytes = m.map(t => t.shuffleReadMetrics.totalBytesRead + t.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      bytesWritten = if (write) m.map(_.outputMetrics.bytesWritten).getOrElse(0L) else 0L))
  }
}

/** Per-run streaming progress, keyed by the span that started the query
  * (`onQueryStarted` runs on the thread calling `start()`). */
final class StreamCounters(sc: SparkContext) extends StreamingQueryListener {
  import StreamingQueryListener._
  private val runSpan = new ConcurrentHashMap[java.util.UUID, java.lang.Long]()
  /** span → (addBatch ms, triggerExecution ms, input rows) summed over its batches. */
  val bySpan = new ConcurrentHashMap[Long, (Long, Long, Long)]()

  override def onQueryStarted(e: QueryStartedEvent): Unit =
    Option(sc.getLocalProperty(Trace.SpanProperty)).foreach(s => runSpan.put(e.runId, s.toLong))

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val span = Option(runSpan.get(p.runId)).map(_.longValue).getOrElse(0L)
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    bySpan.merge(span, (d("addBatch"), d("triggerExecution"), p.numInputRows),
      (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}
