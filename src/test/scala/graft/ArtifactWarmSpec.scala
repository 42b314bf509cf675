package graft

import graft.queries.LlmArtifacts
import org.apache.spark.graftshim.JobListener
import org.apache.spark.sql.DataFrame

/** [[LlmArtifacts.warm]] builds its artifacts side by side; they must equal
  * the ones built by calling each accessor on its own, one after another. */
class ArtifactWarmSpec extends SparkSpec {

  /** Every frame the warm builds, its nested dependencies included. */
  private def artifacts(d: String): Seq[(String, () => DataFrame)] = {
    import LlmArtifacts._
    val s = spark
    Seq("grams" -> (() => gramsOf(s, d)), "tokens" -> (() => tokensOf(s, d)),
      "sigs" -> (() => sigsOf(s, d)), "pairs" -> (() => pairsOf(s, d)),
      "clusters" -> (() => clustersOf(s, d)), "sets-gram" -> (() => setsOf("gram", gramsOf(s, d), "gram", d)),
      "sets-token" -> (() => setsOf("token", tokensOf(s, d), "token", d)),
      "buckets" -> (() => bucketsOf(s, d)), "ivf" -> (() => ivfOf(s, d)),
      "sem-clusters" -> (() => semClustersOf(s, d)), "ivfl2" -> (() => ivfL2Of(s, d)),
      "pq-codebook" -> (() => pqCodebookOf(s, d)), "pq" -> (() => pqOf(s, d)),
      "ivfpq-codebook" -> (() => ivfPqCodebookOf(s, d)), "ivfpq" -> (() => ivfPqOf(s, d)),
      "tf" -> (() => tfOf(s, d)), "dl" -> (() => dlOf(s, d)), "simhash" -> (() => simhashOf(s, d)),
      "dhash" -> (() => dhashOf(s, d)), "decoded-dhash" -> (() => decodedDhashOf(s, d)),
      "mixed-decoded-dhash" -> (() => mixedDecodedDhashOf(s, d)), "winnow" -> (() => winnowOf(s, d)))
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("a concurrent warm builds the same artifacts as the accessors one at a time") {
    // two dataset dirs holding the same corpus: two sets of store keys
    val (conc, seq) = (tmpDir("llm-corpus-"), tmpDir("llm-corpus-"))
    LlmCorpusFixture.write(spark, conc)
    LlmCorpusFixture.write(spark, seq)
    val (_, js) = JobListener.jobsOf(spark.sparkContext)(LlmArtifacts.warm(spark, conc))
    val jobs = js.map(_.description)
    assert(jobs.nonEmpty && jobs.forall(_.startsWith("graft.artifact ")), jobs)
    val one = artifacts(seq).map { case (k, a) => k -> a() }
    artifacts(conc).zip(one).foreach { case ((k, a), (_, b)) =>
      val (x, y) = (a(), b)
      assert(x.schema == y.schema, s"$k: schema")
      assert(rows(x) == rows(y), s"$k: rows")
    }
    // the fixture forms clusters, so the comparison covers non-empty ones
    assert(one.toMap.apply("clusters").count() > 0 && one.toMap.apply("sem-clusters").count() > 0)
  }
}
