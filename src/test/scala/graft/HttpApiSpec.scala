package graft

import graft.index.GraftIndex
import graft.ingest.Indexer
import graft.model.Pattern
import graft.query.{Api, FoldInputs, Health, HttpApi, KupoHttpServer, ResponseStream}
import graft.tools.FixtureChain
import org.apache.spark.graftshim.JobListener

import java.net.http.{HttpClient, HttpRequest => JReq, HttpResponse => JResp}
import java.net.URI

/** The HTTP serving layer driven over a REAL listener: the JDK HttpServer
  * on a loopback port, requests through java.net.http.HttpClient — router,
  * query-param grammars, typed 400s, ETag/304, CORS, streamed match
  * bodies, pattern management. Byte-for-byte equality against the direct
  * library calls (ResponseStream / FoldInputs) is the oracle. */
class HttpApiSpec extends SparkSpec {

  private lazy val blocks = FixtureChain.chain(10)
  private def blocksDf = FixtureChain.toDf(spark, blocks)
  private val http = HttpClient.newHttpClient()

  private def withServer[A](f: (String, GraftIndex) => A): A = {
    val ix = new GraftIndex(spark, tmpDir("graft-http-ix"))
    Indexer.ingest(ix, blocksDf, Set[Pattern](Pattern.MatchAny(includingBootstrap = true)))
    Indexer.setPatterns(ix, Set[Pattern](Pattern.MatchAny(includingBootstrap = true)))
    val api = new graft.query.HttpApi(ix, () => blocksDf,
      () => Health.snapshot(ix, Health.ConnectionStatus.Connected))
    val server = KupoHttpServer.start(api, port = 0)
    try f(s"http://127.0.0.1:${server.getAddress.getPort}", ix)
    finally server.stop(0)
  }

  private def get(url: String, headers: (String, String)*): JResp[String] = {
    val b = JReq.newBuilder(URI.create(url)).GET()
    headers.foreach { case (k, v) => b.header(k, v) }
    http.send(b.build(), JResp.BodyHandlers.ofString())
  }

  private def send(method: String, url: String, body: String = ""): JResp[String] =
    http.send(JReq.newBuilder(URI.create(url))
      .method(method, JReq.BodyPublishers.ofString(body)).build(),
      JResp.BodyHandlers.ofString())

  test("matches: streamed body is byte-identical to the library call; params and 400s") {
    withServer { (base, ix) =>
      val pattern = "*"
      val direct = {
        val sw = new java.io.StringWriter()
        ResponseStream.writeJsonArray(
          FoldInputs(ix, Api.MatchesQuery(pattern)), sw)
        sw.toString
      }
      val r = get(s"$base/matches")
      assert(r.statusCode() == 200 && r.body() == direct,
        "HTTP body diverged from the library's own JSON stream")
      assert(r.headers().firstValue("Content-Type").get.startsWith("application/json"))
      assert(r.headers().firstValue("ETag").isPresent)

      // a pattern path + flags + order: equal to the equivalent typed query
      val delCred = FixtureChain.baseAddr(0, 0).substring(2, 58)
      val directQ = {
        val sw = new java.io.StringWriter()
        ResponseStream.writeJsonArray(FoldInputs(ix, Api.MatchesQuery(
          s"*/$delCred", status = Api.StatusFlag.OnlyUnspent,
          order = Api.SortDirection.Asc)), sw)
        sw.toString
      }
      val rq = get(s"$base/matches/*/$delCred?unspent&order=oldest_first")
      assert(rq.statusCode() == 200 && rq.body() == directQ)

      // quantity encoding via the Accept media parameter
      val rs = get(s"$base/matches", "Accept" -> "application/json;asset-quantity=string")
      assert(rs.headers().firstValue("Content-Type").get.contains("asset-quantity=string"))
      assert(rs.body() != r.body()) // quantities now strings

      // typed 400s with {"hint": …}
      assert(get(s"$base/matches/zz/not-a-pattern").statusCode() == 400)
      assert(get(s"$base/matches/zz/not-a-pattern").body().contains("\"hint\""))
      assert(get(s"$base/matches?spent&unspent").statusCode() == 400)
      assert(get(s"$base/matches?created_after=5&spent_before=9").statusCode() == 400)
      assert(get(s"$base/matches?order=sideways").statusCode() == 400)
      // a full point bound that names no checkpoint → 400 (F2 assertion)
      assert(get(s"$base/matches?created_after=33.${"ab" * 32}").statusCode() == 400)
      // a CORRECT full point bound works
      val blk3 = blocks(2)
      val rp = get(s"$base/matches?created_after=${blk3.slot}.${blk3.headerHash}")
      assert(rp.statusCode() == 200)
    }
  }

  test("checkpoints: list, by-slot, ?strict, If-None-Match 304, v1 prefix") {
    withServer { (base, ix) =>
      val r = get(s"$base/checkpoints")
      assert(r.statusCode() == 200)
      val tip = FoldInputs.maxCheckpoint(ix).get
      assert(r.body().startsWith(
        s"""[{"slot_no":${tip._1},"header_hash":"${tip._2}"}"""))
      // by slot: ancestor pick vs strict miss vs strict hit
      assert(get(s"$base/checkpoints/35").body().contains("\"slot_no\":30"))
      assert(get(s"$base/checkpoints/35?strict").body() == "null")
      assert(get(s"$base/checkpoints/30?strict").body().contains("\"slot_no\":30"))
      assert(get(s"$base/checkpoints/abc").statusCode() == 400)
      // ETag discipline: echo the tag back → 304, nothing recomputed
      val etag = r.headers().firstValue("ETag").get
      assert(etag == tip._2)
      val cached = get(s"$base/checkpoints", "If-None-Match" -> etag)
      assert(cached.statusCode() == 304 && cached.body().isEmpty)
      assert(get(s"$base/checkpoints", "If-None-Match" -> "stale").statusCode() == 200)
      // the /v1 prefix routes identically
      assert(get(s"$base/v1/checkpoints").body() == r.body())
    }
  }

  test("datums and scripts: found, null, malformed") {
    withServer { (base, ix) =>
      val withDatum = ix.table("binary_data").limit(1).collect()
      assert(withDatum.nonEmpty, "fixture should carry datums")
      val (hash, datum) = (withDatum.head.getString(0), withDatum.head.getString(1))
      val r = get(s"$base/datums/$hash")
      assert(r.statusCode() == 200 && r.body() == s"""{"datum":"$datum"}""")
      assert(get(s"$base/datums/${"0" * 64}").body() == "null")
      assert(get(s"$base/datums/zz").statusCode() == 400)
      assert(get(s"$base/scripts/${"0" * 56}").body() == "null")
      assert(get(s"$base/scripts/zz").statusCode() == 400)
    }
  }

  test("health and metrics: JSON, prometheus text, content negotiation") {
    withServer { (base, _) =>
      val r = get(s"$base/health")
      assert(r.statusCode() == 200 && r.body().contains("\"connection_status\":\"connected\""))
      assert(r.body().contains("\"most_recent_checkpoint\":100"))
      val text = get(s"$base/health", "Accept" -> "text/plain")
      assert(text.body().contains("kupo_") || text.body().contains("most_recent_checkpoint"))
      val metrics = get(s"$base/metrics")
      assert(metrics.headers().firstValue("Content-Type").get.startsWith("text/plain"))
      assert(metrics.body() == text.body())
    }
  }

  test("patterns: GET/PUT/DELETE, matches deletion guarded by active set") {
    withServer { (base, ix) =>
      assert(get(s"$base/patterns").body() == """["*"]""")
      // included-in listing
      assert(get(s"$base/patterns/*/*").statusCode() == 200)
      // a payment-credential pattern (the kupo "cred/*" text form)
      val payPattern = s"${FixtureChain.enterpriseAddr(1).substring(4)}/*"
      // PUT without rollback_to → 400 (mandatory, like the reference)
      assert(send("PUT", s"$base/patterns/$payPattern").statusCode() == 400)
      // PUT one pattern with rollback_to
      val put = send("PUT", s"$base/patterns/$payPattern",
        body = """{"rollback_to":{"slot_no":10}}""")
      assert(put.statusCode() == 200 && put.body().contains(payPattern))
      // DELETE /matches for a still-active pattern → 400
      assert(send("DELETE", s"$base/matches/*").statusCode() == 400)
      // retire '*' then delete its residual matches
      val del = send("DELETE", s"$base/patterns/*")
      assert(del.statusCode() == 200 && del.body() == """{"deleted":1}""")
      assert(get(s"$base/patterns").body() == s"""["$payPattern"]""")
      // the ON-CHAIN hex form (header ‖ payment ‖ delegation); the kupo
      // storage form is header ‖ delegation ‖ tag ‖ payment
      val kupoForm = FixtureChain.baseAddr(0, 0)
      val onChain = "01" + kupoForm.substring(60) + kupoForm.substring(2, 58)
      val delMatches = send("DELETE", s"$base/matches/$onChain")
      assert(delMatches.statusCode() == 200 && delMatches.body().startsWith("""{"deleted":"""))
      // bulk PUT body form
      val bulk = send("PUT", s"$base/patterns",
        body = s"""{"rollback_to":{"slot_no":10},"patterns":["*/*"]}""")
      assert(bulk.statusCode() == 200 && bulk.body().contains("*/*"))
      // safe-zone violation reported as a typed 400
      val ixTip = FoldInputs.maxCheckpoint(ix).get._1
      assert(ixTip == 100L)
    }
  }

  test("metadata: per-tx objects with block header hash, filter, slot 0") {
    withServer { (base, _) =>
      val blk = blocks.head // slot 10, metadata on both txs
      val r = get(s"$base/metadata/${blk.slot}")
      assert(r.statusCode() == 200)
      assert(r.headers().firstValue("X-Block-Header-Hash").get == blk.headerHash)
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(r.body())
      assert(node.isArray && node.size() == 2) // one object per tx
      val first = node.get(0)
      assert(first.has("hash") && first.has("raw") && first.has("schema"))
      assert(first.get("schema").has("674") && first.get("schema").has("721"))
      // raw is real CBOR: decodes to a 2-entry label map
      val raw = graft.codec.Cbor.decodeHex(first.get("raw").asText())
      raw match {
        case graft.codec.Cbor.CMap(entries, _, _) => assert(entries.size == 2)
        case other => fail(s"raw is not a metadata map: $other")
      }
      // filtered to one tx
      val tx = blk.txs.head.id
      val rf = get(s"$base/metadata/${blk.slot}?transaction_id=$tx")
      assert(new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(rf.body()).size() == 1)
      assert(get(s"$base/metadata/0").body() == "[]")
      assert(get(s"$base/metadata/10?policy_id=00").statusCode() == 400)
    }
  }

  test("Serve: the one-process kupo composition — ingest ticks + live HTTP off one index") {
    import java.nio.charset.StandardCharsets
    import java.nio.file.{Files, Paths}
    val work = tmpDir("graft-serve-ix")
    val in = tmpDir("graft-serve-in")
    val addr = graft.codec.Bech32.encode("addr",
      graft.codec.Hex.decode("01" + ("11" * 28) + ("22" * 28)).get)
    def fwdJson(slot: Long, seed: Int): String =
      s"""{"jsonrpc":"2.0","method":"nextBlock","result":{"direction":"forward",""" +
        s""""block":{"id":"${f"$seed%064d"}","slot":$slot,"transactions":[""" +
        s"""{"id":"${f"${seed + 5000}%064d"}","spends":"inputs","inputs":[],""" +
        s""""outputs":[{"address":"$addr","value":{"ada":{"lovelace":${slot * 10}}}}]}]},""" +
        s""""tip":{"slot":999,"id":"${"0" * 64}"}}}"""
    Files.write(Paths.get(in, "000.jsonl"),
      Seq(fwdJson(10L, 1), fwdJson(20L, 2)).mkString("\n").getBytes(StandardCharsets.UTF_8))
    val running = graft.tools.Serve.serve(spark, graft.tools.Serve.Config(
      workDir = work, inputDir = in, port = 0, since = Some("origin")))
    try {
      val base = s"http://127.0.0.1:${running.port}"
      val h1 = running.tick()
      assert(h1.mostRecentCheckpoint.map(_._1).contains(20L))
      // the SAME index serves HTTP while ingestion runs
      assert(get(s"$base/health").body().contains("\"most_recent_checkpoint\":20"))
      val matches = get(s"$base/matches?unspent")
      assert(matches.statusCode() == 200 && matches.body().count(_ == '{') >= 2)
      // more blocks land; the next lifecycle turn picks them up, and the
      // HTTP surface reflects the new tip immediately
      Files.write(Paths.get(in, "001.jsonl"),
        fwdJson(30L, 3).getBytes(StandardCharsets.UTF_8))
      val h2 = running.tick()
      assert(h2.mostRecentCheckpoint.map(_._1).contains(30L))
      assert(get(s"$base/checkpoints/30?strict").body().contains("\"slot_no\":30"))
    } finally running.close()
  }

  test("live HTTP bodies validate against the reference's own OpenAPI document") {
    import OpenApiCheck.{errorsOf, mapper}
    def assertAllValid(arrayJson: String, schemaName: String): Unit = {
      val node = mapper.readTree(arrayJson)
      assert(node.isArray && node.size() > 0, s"empty $schemaName body")
      node.forEach { el =>
        val errs = OpenApiCheck.validate(el,
          OpenApiCheck.asYMap(OpenApiCheck.schemas.get(schemaName)), schemaName)
        assert(errs.isEmpty, s"$el\n  ${errs.mkString("\n  ")}")
      }
    }
    withServer { (base, ix) =>
      assertAllValid(get(s"$base/matches").body(), "Match")
      assertAllValid(get(s"$base/matches",
        "Accept" -> "application/json;asset-quantity=string").body(),
        "MatchQuantityAsString")
      assertAllValid(get(s"$base/matches?resolve_hashes").body(), "Match")
      assertAllValid(get(s"$base/checkpoints").body(), "Point")
      assertAllValid(get(s"$base/metadata/10").body(), "Metadata")
      assert(errorsOf(get(s"$base/health").body(), "Health").isEmpty)
      assert(errorsOf(get(s"$base/patterns").body().stripPrefix("[").stripSuffix("]"),
        "Pattern").isEmpty)
      val datumHash = ix.table("binary_data").limit(1).collect().head.getString(0)
      assert(errorsOf(get(s"$base/datums/$datumHash").body(), "Datum").isEmpty)
      assert(errorsOf(get(s"$base/matches/zz/nope").body(), "BadRequest").isEmpty)
      assert(errorsOf(send("DELETE", s"$base/patterns/*").body(), "Deleted").isEmpty)
    }
  }

  test("concurrent requests: a streamed /matches never blocks /health") {
    withServer { (base, _) =>
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val calls = (1 to 8).map { i =>
        Future(if (i % 2 == 0) get(s"$base/matches?resolve_hashes")
               else get(s"$base/health"))
      }
      val results = Await.result(Future.sequence(calls), 120.seconds)
      assert(results.forall(_.statusCode() == 200))
      assert(results.map(_.body()).distinct.size >= 2)
    }
  }

  test("job budget per read: present tx <= 1 job, absent tx 0, address <= 2, checkpoint by slot 0, repeated health 0") {
    // three+ inputs segments and a non-empty spends delta: the shape where
    // the sidecar probe and the address window engage and the delta
    // reconciles every read
    val ix = new GraftIndex(spark, tmpDir("graft-http-budget"))
    val ps = Set[Pattern](Pattern.MatchAny(includingBootstrap = true))
    blocks.grouped(3).foreach(b => Indexer.ingest(ix, FixtureChain.toDf(spark, b), ps))
    val m = ix.manifest
    val segs = m.tables("inputs")
    assert(segs.size >= 3 && m.tables.getOrElse("spends", Nil).nonEmpty)
    val tx = ix.table("inputs").select("tx_id").head().getString(0)
    val absent = Iterator.from(1).map(i => f"$i%064x")
      .find(k => ix.keyCandidates(m, "inputs", "tx_id", k, segs).exists(_.isEmpty)).get
    val cred = ix.table("inputs").where(org.apache.spark.sql.functions.col("payment_credential")
      .isNotNull).select("payment_credential").head().getString(0)
    val slot = ix.table("checkpoints").select("slot_no").head().getLong(0)
    val api = new graft.query.HttpApi(ix, () => blocksDf,
      () => Health.snapshot(ix, Health.ConnectionStatus.Connected))
    val server = KupoHttpServer.start(api, port = 0)
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    try {
      def jobs(path: String): Seq[String] = {
        val (r, js) = JobListener.jobsOf(spark.sparkContext)(get(base + path))
        assert(r.statusCode() == 200, s"$path: ${r.body()}")
        js.map(_.description)
      }
      // the first reads decode the sidecar, the checkpoints and the spends
      // delta, and memoize the tip
      jobs(s"/matches/*@$tx"); jobs("/health")

      val present = jobs(s"/matches/*@$tx")
      assert(present == Seq("GET /matches/{pattern}"), present)
      assert(get(s"$base/matches/*@$tx").body().contains(tx))
      val miss = jobs(s"/matches/*@$absent")
      assert(miss.isEmpty, s"absent tx lookup ran ${miss.size} jobs")
      assert(get(s"$base/matches/*@$absent").body() == "[]")
      val address = jobs(s"/matches/$cred/*")
      assert(address.size <= 2 && address.forall(_ == "GET /matches/{pattern}"), address)
      assert(get(s"$base/matches/$cred/*").body().contains(cred))
      Seq(s"$slot?strict", s"${slot + 1}?strict", s"${slot + 1}").foreach { p =>
        assert(jobs(s"/checkpoints/$p").isEmpty, s"/checkpoints/$p ran jobs")
      }
      assert(get(s"$base/checkpoints/$slot?strict").body().contains(s""""slot_no":$slot"""))
      // the log-spaced list is picked from the same checkpoints memo
      assert(jobs("/checkpoints").isEmpty, "/checkpoints ran jobs")
      assert(get(s"$base/checkpoints").body().startsWith("""[{"slot_no":"""))
      assert(jobs("/health").isEmpty)
    } finally server.stop(0)
  }

  test("router edges: OPTIONS, 404, 405") {
    withServer { (base, _) =>
      val opt = http.send(JReq.newBuilder(URI.create(s"$base/matches"))
        .method("OPTIONS", JReq.BodyPublishers.noBody()).build(),
        JResp.BodyHandlers.ofString())
      assert(opt.statusCode() == 200 &&
        opt.headers().firstValue("Access-Control-Allow-Origin").isPresent)
      assert(get(s"$base/nope").statusCode() == 404)
      assert(send("DELETE", s"$base/health").statusCode() == 405)
      assert(send("PUT", s"$base/checkpoints").statusCode() == 405)
    }
  }
}
