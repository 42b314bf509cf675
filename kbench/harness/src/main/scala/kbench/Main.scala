package kbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark process for one workload run. Prints human-readable metric
  * lines and, last, one `KBENCH_RESULT {json}` line that `run.py` turns
  * into the benchmark's result.
  *
  *   --workload follow_tip|llm_batch
  *   --seed N --seconds N --trace 0|1
  *   --scratch DIR   per-run scratch root (index, checkpoints, temp files)
  *   --data DIR      fixed LLM corpus (documents/embeddings parquet)
  *   --spans FILE    where a traced run writes its spans */
object Main {

  final case class Args(workload: String = "", seed: Long = 1, seconds: Int = 10, trace: Boolean = false,
                        scratch: String = "", data: String = "", spans: String = "")

  /** Metric name → (value, unit). */
  type Metrics = mutable.LinkedHashMap[String, (Double, String)]

  final case class Outcome(attempted: Long, failed: Long, e2e: Metrics, layer: Metrics,
                           report: Metrics, notes: Seq[String] = Nil)

  val cpus: Int = Runtime.getRuntime.availableProcessors

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList, Args())
    require(a.scratch.nonEmpty, "--scratch is required")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("kbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.scratch}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = if (a.trace) Some(new Trace(spark.sparkContext)) else None
    val gc0 = Calibration.gcMs()
    val out = a.workload match {
      case "follow_tip" => Follow.run(spark, a, trace)
      case "llm_batch"  => Batch.run(spark, a, trace)
      case other        => sys.error(s"unknown workload $other")
    }
    val gcMs = Calibration.gcMs() - gc0
    // after the workload, so it adds nothing to setup_s
    val cal = Calibration.measure()
    val rss = Calibration.peakRssMb()
    val heap = Calibration.heapPeakMb()
    out.e2e("peak_rss_mb") = (rss, "MB")
    out.report("peak_rss_mb") = (rss, "MB")
    out.layer("jvm.gc_ms") = (gcMs.toDouble, "ms")
    out.layer("host.spin_1core_s") = (cal._1, "s")
    out.layer("host.spin_allcore_s") = (cal._2, "s")
    trace.foreach { t =>
      Thread.sleep(500) // let the listener bus deliver the last events
      if (a.spans.nonEmpty) t.write(Paths.get(a.spans))
    }
    spark.stop()

    out.notes.foreach(n => println(s"note: $n"))
    println(f"calibration: 1-core spin ${cal._1}%.3f s, $cpus-core spin ${cal._2}%.3f s")
    println(f"memory: VmHWM $rss%.0f MB, of which Java heap at most ${heap._1}%.0f MB used of ${heap._2}%.0f MB committed")
    out.report.foreach { case (k, (v, u)) => println(f"metric $k%-28s $v%14.4f $u") }
    def obj(m: Metrics) = m.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k":{"value":$num,"unit":"$u"}""" }.mkString("{", ",", "}")
    println(s"""KBENCH_RESULT {"attempted":${out.attempted},"failed":${out.failed},""" +
      s""""e2e":${obj(out.e2e)},"layer":${obj(out.layer)}}""")
    System.out.flush()
  }

  private def parse(l: List[String], a: Args): Args = l match {
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t     => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t  => parse(t, a.copy(seconds = v.toInt))
    case "--trace" :: v :: t    => parse(t, a.copy(trace = v == "1"))
    case "--scratch" :: v :: t  => parse(t, a.copy(scratch = v))
    case "--data" :: v :: t     => parse(t, a.copy(data = v))
    case "--spans" :: v :: t    => parse(t, a.copy(spans = v))
    case Nil                    => a
    case other                  => sys.error(s"unrecognized arguments: $other")
  }

  def metrics(kv: (String, (Double, String))*): Metrics = mutable.LinkedHashMap(kv: _*)

  /** Seconds since this JVM started (set-up time includes JVM start). */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def duBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
}

/** Host calibration, as the repository's `Bench` takes it: a fixed
  * single-core spin and the same spin on every core at once. A co-tenant
  * slows the second long before the first. */
object Calibration {
  private def spin(): Long = {
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }
  @volatile private var sink = 0L

  /** (single-core seconds, all-core seconds). */
  def measure(): (Double, Double) = {
    sink += spin() // JIT the loop
    val t0 = System.nanoTime(); sink += spin(); val one = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val ts = (0 until Main.cpus).map(_ => new Thread(() => { sink += spin() }))
    ts.foreach(_.start()); ts.foreach(_.join())
    (one, (System.nanoTime() - t1) / 1e9)
  }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  /** (sum of the heap pools' peak use, heap committed), in MB. A pool's
    * peak is its use just before a collection, so the sum bounds from above
    * how much of VmHWM the Java heap accounts for. */
  def heapPeakMb(): (Double, Double) = {
    import scala.jdk.CollectionConverters._
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    (pools.map(_.getPeakUsage.getUsed).sum / 1048576.0,
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0)
  }

  /** VmHWM of this process, in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }
}
