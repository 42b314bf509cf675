package graft

import org.apache.spark.sql.SparkSession

/** A small seeded corpus in the testdata layout the LLM artifacts read: a
  * dataset dir holding `documents.parquet` (doc_id, text, lang, source,
  * n_chars) and `embeddings.parquet` (vec_id, 64-dim float embedding,
  * label). Every fifth doc is an earlier doc with one word replaced and
  * every fourth vector a slightly moved copy of an earlier one, so the LSH pairs,
  * the semantic pairs and their duplicate clusters are not empty. */
object LlmCorpusFixture {
  private val Words = Seq("key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "merge", "batch", "spark", "window", "order", "data", "column", "join", "small",
    "line", "customer", "query", "sort", "filter", "stream", "group", "big", "the", "a")

  def write(spark: SparkSession, dir: String, n: Int = 100, seed: Long = 11L): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until n).foreach { i =>
      texts += (if (i % 5 == 4) {
        val ws = texts(rnd.nextInt(i)).split(' ')
        ws(rnd.nextInt(ws.length)) = Words(rnd.nextInt(Words.size))
        ws.mkString(" ")
      } else Seq.fill(20 + rnd.nextInt(40))(Words(rnd.nextInt(Words.size))).mkString(" "))
    }
    texts.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", s"src${i % 3}", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    (0 until n).foreach { i =>
      // components in [-1, 1), the range the grayscale grids map to pixels
      vecs += (if (i % 4 == 3) vecs(rnd.nextInt(i)).map(x => x + 0.1f * (rnd.nextFloat() - 0.5f))
               else Array.fill(64)(1.8f * (rnd.nextFloat() - 0.5f)))
    }
    vecs.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq, i % 7) }
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
  }
}
