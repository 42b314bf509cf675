package graft.tools

import graft.query.{Health, HttpApi, KupoHttpServer}
import org.apache.spark.sql.SparkSession

/** END-TO-END HTTP latency rehearsal — the apples-to-apples comparison
  * BASELINE.md's numbers actually are (kupo's published figures are HTTP
  * response times): build the same sf-derived kupo index the bench queries
  * use, serve it over the REAL listener, and measure full request→last-byte
  * wall time for the baseline's headline shapes alongside the library-only
  * time of the identical query — the delta IS the serving layer (router,
  * param parsing, ETag, row-iterator streaming, chunked transfer).
  *
  *   runMain graft.tools.HttpRehearsal [sfDir]
  *
  * Prints one JSON line: {"shape": {"http_sec": best-of-3, "library_sec":
  * best-of-3, "rows"|…}} — recorded in SCALE.md G.9. */
object HttpRehearsal {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session()
    spark.sparkContext.setLogLevel("ERROR")

    val ix = graft.queries.KupoPipelineQueries.buildIndex(spark, sfDir)
    val api = new HttpApi(ix, blocks = () => spark.emptyDataFrame,
      readHealth = () => Health.snapshot(ix, Health.ConnectionStatus.Connected))
    val server = KupoHttpServer.start(api, port = 0)
    try run(spark, ix, server, sfDir)
    finally { server.stop(0); spark.stop() }
  }

  private def run(spark: SparkSession, ix: graft.index.GraftIndex,
                  server: com.sun.net.httpserver.HttpServer, sfDir: String): Unit = {
    val client = java.net.http.HttpClient.newHttpClient()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"

    def httpOnce(path: String): (Double, Int, Long) = {
      val t0 = System.nanoTime()
      val r = client.send(java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(base + path)).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      val sec = (System.nanoTime() - t0) / 1e9
      require(r.statusCode() == 200, s"$path -> ${r.statusCode()}")
      (sec, r.statusCode(), r.body().count(_ == '{').toLong)
    }

    def bestOf(reps: Int)(f: () => Double): Double = (1 to reps).map(_ => f()).min

    val cred7 = "0" * 55 + "7"
    val cred3 = "0" * 55 + "3"
    val policy2 = "0" * 55 + "2"
    import graft.query.Api
    // (name, path, library twin, timed reps — the full busy stream is
    // measured once per side: ~600k rows serialize through one driver
    // thread, and the point of this rehearsal is the overhead RATIO, not
    // micro-variance)
    val shapes: Seq[(String, String, () => Unit, Int)] = Seq(
      ("flagship_credential_range",
        s"/matches/*/$cred7?created_after=100&created_before=3000&unspent&order=most_recent_first",
        () => { FoldTouch.run(ix, Api.MatchesQuery(s"*/$cred7",
          range = Api.SlotRange(Api.RangeField.CreatedAt, Some(100L), Some(3000L)),
          status = Api.StatusFlag.OnlyUnspent)) }, 3),
      ("payment_address",
        s"/matches/$cred3/*",
        () => FoldTouch.run(ix, Api.MatchesQuery(s"$cred3/*")), 3),
      ("policy_scan",
        s"/matches/$policy2.*?order=oldest_first",
        () => FoldTouch.run(ix, Api.MatchesQuery(s"$policy2.*",
          order = Api.SortDirection.Asc)), 2),
      ("full_index_stream_resolved",
        "/matches?resolve_hashes&order=oldest_first",
        () => FoldTouch.run(ix, Api.MatchesQuery("*", resolveHashes = true,
          order = Api.SortDirection.Asc)), 1),
      ("health", "/health", () => (), 3))

    // warm both paths once (JIT + parquet footer caches), capturing rows
    val rowsOf = shapes.map { case (name, path, lib, _) =>
      val rows = httpOnce(path)._3; lib(); name -> rows
    }.toMap
    val parts = shapes.map { case (name, path, lib, reps) =>
      val httpSec = bestOf(reps)(() => httpOnce(path)._1)
      val libSec = if (name == "health") 0.0 else bestOf(reps)(() => {
        val t0 = System.nanoTime(); lib(); (System.nanoTime() - t0) / 1e9
      })
      f""""$name":{"http_sec":$httpSec%.3f,"library_sec":$libSec%.3f,"rows":${rowsOf(name)}}"""
    }
    // the point-lookup shape: a strict checkpoint hit (the synthetic
    // index's datum hashes are md5-shaped, which the /datums route
    // rightly rejects as malformed — real kupo hashes are 64 hex)
    val tipSlot = graft.query.FoldInputs.maxCheckpoint(ix).get._1
    httpOnce(s"/checkpoints/$tipSlot?strict")
    val pointSec = bestOf(3)(() => httpOnce(s"/checkpoints/$tipSlot?strict")._1)
    println(s"""{"sf":"$sfDir",${parts.mkString(",")},""" +
      f""""checkpoint_point_lookup":{"http_sec":$pointSec%.3f}}""")
  }

  /** Run a matches query through the library only, consuming every row the
    * HTTP path would stream (same rows, no socket). */
  private object FoldTouch {
    def run(ix: graft.index.GraftIndex, q: graft.query.Api.MatchesQuery): Unit = {
      val w = new java.io.Writer {
        override def write(c: Array[Char], o: Int, l: Int): Unit = ()
        override def flush(): Unit = ()
        override def close(): Unit = ()
      }
      graft.query.ResponseStream.writeJsonArray(
        graft.query.FoldInputs(ix, q), w, inlineAll = q.resolveHashes)
    }
  }
}
