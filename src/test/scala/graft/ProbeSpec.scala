package graft

import java.nio.file.{Files, Paths}

import graft.tools.Probe
import org.apache.spark.graftshim.JobListener
import org.apache.spark.sql.functions.col

/** [[Probe]]'s modes over frames built here: job counts equal the
  * listener's, `explain --final --out` writes one file per query, `rows
  * --out` writes the result. */
class ProbeSpec extends SparkSpec {

  private def frames: Probe.Frames = Seq(
    "one" -> (() => spark.range(100).toDF("id")),
    "two" -> (() => { spark.range(3).collect(); spark.range(100).toDF("id") }))

  private def listenerJobs(mk: () => org.apache.spark.sql.DataFrame): Int =
    JobListener.jobsOf(spark.sparkContext)(mk().write.format("noop").mode("overwrite").save())._2.size

  test("time and jobs report the listener's job count") {
    assert(frames.map { case (_, mk) => listenerJobs(mk) } == Seq(1, 2))
    val t = Probe.time(spark, frames)
    assert(t.map(x => x.name -> x.jobs.size) == Seq("one" -> 1, "two" -> 2))
    assert(t.forall(x => x.runs.size == 3 && x.jobs.forall(_.stages >= 1)))
    assert(t.forall(x => math.abs(x.runs.min - (x.build + x.plan + x.exec)) < 1e-9))
    val j = Probe.jobs(spark, frames)
    assert(j.map { case (n, js) => n -> js.size } == Seq("one" -> 1, "two" -> 2))
    assert(j.flatMap(_._2).forall(x => x.end >= x.start && x.name.nonEmpty))
  }

  test("explain --final --out writes <q>_<suffix>.txt") {
    val dir = Paths.get(tmpDir("graft-probe-plans"))
    val agg: Probe.Frames = Seq("agg" -> (() => spark.range(100).groupBy(col("id") % 3).count()))
    val Seq(txt) = Probe.explain(spark, agg, finalPlan = true, Some(dir -> "final"))
    val file = dir.resolve("agg_final.txt")
    assert(Files.readString(file) == txt)
    assert(txt.contains("isFinalPlan=true"), txt)
    val Seq(formatted) = Probe.explain(spark, agg, finalPlan = false, None)
    assert(formatted.contains("== Physical Plan =="), formatted)
  }

  test("rows --out writes the result as parquet") {
    val dir = Paths.get(tmpDir("graft-probe-rows"))
    Probe.rows(spark, frames.take(1), Some(dir))
    assert(spark.read.parquet(dir.resolve("one").toString).count() == 100)
  }
}
