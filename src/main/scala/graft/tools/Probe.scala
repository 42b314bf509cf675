package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import graft.{Bench, Session, SparkEntry}
import org.apache.spark.graftshim.JobListener
import org.apache.spark.graftshim.JobListener.Job
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** Development probe over the declared queries, on the session `Bench`
  * runs and after its warm:
  *
  *   sbt "runMain graft.tools.Probe <mode> [flags] [query filter…]"
  *
  * A filter selects every query whose name contains it; none selects all.
  * Queries read `$SPARK_GRAFT_SF_DIR` (same default as `Bench`).
  * Modes:
  *  - `time`: best of 3 runs (query fn + noop write), split into build (the
  *    query fn, eager jobs included), plan and exec, with the jobs, stages,
  *    task seconds, shuffle bytes written and input bytes of the first run.
  *    A 1-second query running 14 jobs pays the local job floor (~70 ms a
  *    job) before any data work.
  *  - `jobs`: every job of one run, with its start offset, duration, stages,
  *    task seconds and description (its call site when it has none).
  *  - `explain [--final] [--out DIR --suffix S]`: the formatted plan, or
  *    with `--final` the finalized adaptive plan of an executed run (the
  *    only place runtime ReusedExchange / AQEShuffleRead show up); `--out`
  *    writes `DIR/<q>_<S>.txt` instead of printing.
  *  - `rows [--out DIR]`: the first 20 rows; `--out` writes the result as
  *    parquet to `DIR/<q>` and its oracle SQL to `DIR/<q>.sql`, for a
  *    DuckDB compare of one query without the full `check_oracle.py` sweep.
  *
  * Each mode takes the session and named frame builders, so it runs as
  * well on frames built elsewhere. */
object Probe {

  type Frames = Seq[(String, () => DataFrame)]

  final case class Timing(name: String, runs: Seq[Double], build: Double, plan: Double,
                          exec: Double, jobs: Seq[Job])

  private def seconds[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = body
    ((System.nanoTime() - t0) / 1e9, a)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def each[A](frames: Frames)(f: (String, () => DataFrame) => A): Seq[A] =
    frames.flatMap { case (name, mk) =>
      try Some(f(name, mk))
      catch { case e: Throwable => println(s"$name FAILED: $e"); None }
    }

  def time(spark: SparkSession, frames: Frames): Seq[Timing] = each(frames) { (name, mk) =>
    val runs = (0 until 3).map { _ =>
      JobListener.jobsOf(spark.sparkContext) {
        val (build, df) = seconds(mk())
        val (plan, _) = seconds(df.queryExecution.executedPlan)
        val (exec, _) = seconds(noop(df))
        (build, plan, exec)
      }
    }
    val ((build, plan, exec), _) = runs.minBy { case ((b, p, e), _) => b + p + e }
    val t = Timing(name, runs.map { case ((b, p, e), _) => b + p + e }, build, plan, exec, runs.head._2)
    val js = t.jobs
    println(f"$name%-28s best=${t.runs.min}%.3f (build=$build%.3f plan=$plan%.3f exec=$exec%.3f)" +
      f"  runs=${t.runs.map(r => f"$r%.3f").mkString(",")}  jobs=${js.size}%3d" +
      f" stages=${js.map(_.stages).sum}%3d taskSec=${js.map(_.taskMs).sum / 1e3}%7.2f" +
      f" shufMB=${js.map(_.shuffleBytes).sum / 1e6}%8.2f inMB=${js.map(_.inputBytes).sum / 1e6}%8.2f")
    t
  }

  def jobs(spark: SparkSession, frames: Frames): Seq[(String, Seq[Job])] = each(frames) { (name, mk) =>
    val (wall, (_, js)) = seconds(JobListener.jobsOf(spark.sparkContext)(noop(mk())))
    println(f"==== $name wall=$wall%.3f s, ${js.size} jobs ====")
    val base = js.headOption.fold(0L)(_.start)
    js.foreach { j =>
      println(f"  job ${j.id}%4d t+${(j.start - base) / 1e3}%7.3f dur=${(j.end - j.start) / 1e3}%6.3f s" +
        f" stages=${j.stages}%2d taskSec=${j.taskMs / 1e3}%7.3f  ${j.name}")
    }
    (name, js)
  }

  def explain(spark: SparkSession, frames: Frames, finalPlan: Boolean,
              out: Option[(Path, String)]): Seq[String] = each(frames) { (name, mk) =>
    val df = mk()
    val txt =
      if (finalPlan) {
        // drive THIS QueryExecution to completion so AQE finalizes its plan
        val ep = df.queryExecution.executedPlan
        ep.execute().foreach(_ => ())
        ep.toString
      } else df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    out match {
      case Some((dir, suffix)) =>
        Files.createDirectories(dir)
        Files.write(dir.resolve(s"${name}_$suffix.txt"), txt.getBytes(StandardCharsets.UTF_8))
        System.err.println(s"[probe] $name plan written (${txt.length} chars)")
      case None => println(s"==== $name ${if (finalPlan) "final " else ""}plan ====\n$txt")
    }
    txt
  }

  def rows(spark: SparkSession, frames: Frames, out: Option[Path]): Unit = each(frames) { (name, mk) =>
    val df = mk()
    out.foreach { dir =>
      df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(name).toString)
      SparkEntry.oracleSql.get(name).foreach(sql => Files.writeString(dir.resolve(s"$name.sql"), sql))
    }
    df.show(20, truncate = false)
  }

  private final case class Args(finalPlan: Boolean = false, out: Option[Path] = None,
                                 suffix: String = "plan", filters: Seq[String] = Nil)

  private def parse(rest: List[String], a: Args): Args = rest match {
    case "--final" :: t       => parse(t, a.copy(finalPlan = true))
    case "--out" :: v :: t    => parse(t, a.copy(out = Some(Paths.get(v))))
    case "--suffix" :: v :: t => parse(t, a.copy(suffix = v))
    case f :: t               => parse(t, a.copy(filters = a.filters :+ f))
    case Nil                  => a
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse(sys.error(
      "usage: Probe time|jobs|explain|rows [--final] [--out DIR] [--suffix S] [query filter…]"))
    val a = parse(args.toList.tail, Args())
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val picked = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => a.filters.isEmpty || a.filters.exists(n.contains) }
    val spark = Session()
    val frames = picked.map { case (n, fn) => n -> (() => fn(spark, sfDir)) }
    try mode match {
      case "time" => Bench.warm(spark, sfDir, picked); time(spark, frames)
      case "jobs" => Bench.warm(spark, sfDir, picked); jobs(spark, frames)
      case "explain" =>
        // no per-query pass: the plan is the one a query's first run gets
        Bench.warm(spark, sfDir, Nil)
        explain(spark, frames, a.finalPlan, a.out.map(_ -> a.suffix))
      case "rows" => rows(spark, frames, a.out)
      case other => sys.error(s"unknown mode $other")
    } finally spark.stop()
  }
}
