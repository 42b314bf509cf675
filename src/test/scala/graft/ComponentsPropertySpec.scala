package graft

import scala.util.Random

import graft.llm.Dedup
import graft.queries.LlmArtifacts
import org.apache.spark.graftshim.JobListener
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** [[Dedup.duplicateClusters]]: under the pair-count bound the components are
  * found in the driver; the rows and the schema must be those of the
  * label-propagation loop (bound 0) on every shape of pair set. */
class ComponentsPropertySpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Random ids, so the minimum of a component sits anywhere in it. */
  private def ids(rnd: Random, k: Int): Seq[Long] =
    Iterator.continually(rnd.nextInt(1000000).toLong).distinct.take(k).toSeq

  /** An edge in a random direction. */
  private def edge(rnd: Random, a: Long, b: Long): (Long, Long) = if (rnd.nextBoolean()) (a, b) else (b, a)

  private def chain(rnd: Random): Seq[(Long, Long)] = {
    val c = ids(rnd, 12 + rnd.nextInt(6)) // 11 to 16 hops
    c.zip(c.tail).map { case (a, b) => edge(rnd, a, b) }
  }
  private def star(rnd: Random): Seq[(Long, Long)] = {
    val c = ids(rnd, 6 + rnd.nextInt(5))
    c.tail.map(edge(rnd, c.head, _))
  }
  private def cycle(rnd: Random): Seq[(Long, Long)] = {
    val c = ids(rnd, 5 + rnd.nextInt(5))
    (c :+ c.head).sliding(2).map(w => edge(rnd, w(0), w(1))).toSeq
  }
  /** Every pair twice, once reversed. */
  private def duplicated(rnd: Random): Seq[(Long, Long)] =
    ids(rnd, 6).grouped(2).flatMap(p => Seq((p(0), p(1)), (p(1), p(0)), (p(0), p(1)))).toSeq
  /** A doc paired with itself, alone and inside a component. */
  private def selfPairs(rnd: Random): Seq[(Long, Long)] = {
    val c = ids(rnd, 3)
    Seq((c(0), c(0)), (c(1), c(2)), (c(2), c(2)))
  }

  private def pairSets(seed: Long): Seq[(String, Seq[(Long, Long)])] = {
    val rnd = new Random(seed)
    val shapes = Seq("chain" -> chain(rnd), "star" -> star(rnd), "cycle" -> cycle(rnd),
      "duplicate and reversed" -> duplicated(rnd), "self-pairs" -> selfPairs(rnd))
    shapes :+ ("all of them" -> rnd.shuffle(shapes.flatMap(_._2)))
  }

  private def check(label: String, pairs: DataFrame): Unit = {
    val driver = Dedup.duplicateClusters(pairs)
    assert(driver.queryExecution.analyzed.isInstanceOf[LocalRelation], s"$label: not the driver path")
    val loop = Dedup.duplicateClusters(pairs, maxDriverPairs = 0)
    assert(driver.schema == loop.schema, s"$label: schema")
    assert(rows(driver) == rows(loop), s"$label: rows")
  }

  test("driver components equal the label-propagation loop: rows and schema") {
    import spark.implicits._
    Seq(3L, 17L).foreach { seed =>
      pairSets(seed).foreach { case (shape, ps) =>
        check(s"seed $seed, $shape", ps.toDF("doc_a", "doc_b"))
      }
    }
    check("empty", Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
    // nullable id columns (a parquet read) and an extra column (the
    // semantic pairs' cosine) keep the loop's schema too
    val dir = s"${tmpDir("components-")}/pairs"
    pairSets(5L).last._2.map { case (a, b) => (a, b, 0.5) }.toDF("doc_a", "doc_b", "cos_sim")
      .write.parquet(dir)
    val read = spark.read.parquet(dir)
    assert(read.schema("doc_a").nullable)
    check("nullable ids with a cosine column", read)
  }

  test("clustersOf over cached pairs under the bound runs <= 2 jobs") {
    val d = tmpDir("llm-corpus-")
    LlmCorpusFixture.write(spark, d)
    val pairs = LlmArtifacts.pairsOf(spark, d).count()
    assert(pairs > 0 && pairs <= Dedup.ComponentsInDriverMaxPairs)
    val (clusters, js) = JobListener.jobsOf(spark.sparkContext)(LlmArtifacts.clustersOf(spark, d))
    val jobs = js.map(_.description)
    assert(jobs.size <= 2, jobs)
    assert(jobs.forall(_ == "graft.artifact clusters"), jobs)
    assert(clusters.count() > 0)
  }
}
