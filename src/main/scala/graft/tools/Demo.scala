package graft.tools

// scratch verification driver — drives the public API end-to-end
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session()
    spark.sparkContext.setLogLevel("ERROR")

    import graft.index.{GraftIndex, Mutations}
    import graft.ingest.Indexer
    import graft.model.Pattern
    import graft.query.{Api, FoldInputs}

    val root = java.nio.file.Files.createTempDirectory("graft-demo").toString
    val ix = new GraftIndex(spark, root)

    // ingest 3 micro-batches of a generated 12-block chain
    val blocks = FixtureChain.chain(12)
    blocks.grouped(4).foreach { b =>
      Indexer.ingest(ix, FixtureChain.toDf(spark, b), Set(Pattern.MatchAny(false)))
    }
    println(s"== index at $root, manifest version ${ix.manifest.version}")

    println("== flagship: GET /matches/*/* unspent, desc ==")
    FoldInputs(ix, Api.MatchesQuery("*/*", status = Api.StatusFlag.OnlyUnspent)).show(5, false)

    println("== delegation pattern + created range [30,70] asc ==")
    val cred = FixtureChain.baseAddr(0, 0).substring(2, 58)
    FoldInputs(ix, Api.MatchesQuery(s"*/$cred",
      range = Api.SlotRange(Api.RangeField.CreatedAt, Some(30L), Some(70L)),
      order = Api.SortDirection.Asc)).show(5, false)

    println("== counts: " + FoldInputs.countInputs(ix, "*/*") +
      " inputs, " + FoldInputs.countPolicies(ix, "*/*") + " policies")
    println("== max checkpoint: " + FoldInputs.maxCheckpoint(ix))
    println("== log-spaced checkpoints: " +
      FoldInputs.listCheckpointsDesc(ix).collect().map(_.getLong(0)).mkString(","))

    println("== rollback to slot 60 ==")
    println("   new max: " + Mutations.rollbackTo(ix, 60L))
    println("   rows after rollback: " + FoldInputs.countInputs(ix, "*"))
    println("   spent>60 rows: " + ix.inputsWithSpends
      .where(org.apache.spark.sql.functions.col("spent_at") > 60).count())

    // U7 tiering: verbatim segment merges under a count bound
    val preTier = FoldInputs.countInputs(ix, "*")
    val tiered = ix.compactSegments("inputs", maxSegments = 2)
    println(s"== compactSegments(inputs, 2): removed $tiered segments, " +
      s"${ix.manifest.tables("inputs").size} remain, " +
      s"rows ${FoldInputs.countInputs(ix, "*")} (was $preTier)")

    // U8 schema migration: down-convert inputs to the pre-v2.10.0 layout
    // (drop spent_by/spent_with, stamp schema_version 1), prove reads fail
    // loudly, migrate back, prove the reconciled view is intact
    {
      import org.apache.hadoop.fs.Path
      val conf = spark.sessionState.newHadoopConf()
      val fs = new Path(ix.root).getFileSystem(conf)
      val m0 = ix.manifest
      m0.tables("inputs").foreach { s =>
        val p = new Path(s"${ix.root}/${s.path}")
        val tmp = new Path(s"${ix.root}/${s.path}.v1tmp")
        spark.read.parquet(p.toString).drop("spent_by", "spent_with")
          .write.parquet(tmp.toString)
        fs.delete(p, true); require(fs.rename(tmp, p))
      }
      graft.index.GraftIndex.Manifest.write(ix.root,
        m0.copy(schemaVersion = 1, tables = m0.tables - "segment_blooms"), conf)
      val reopened = new graft.index.GraftIndex(spark, ix.root)
      val blocked =
        try { reopened.table("inputs"); "NOT BLOCKED (bug)" }
        catch { case e: IllegalArgumentException => e.getMessage.take(60) + "..." }
      println("== probe unmigrated read -> " + blocked)
      val applied = reopened.migrate()
      println(s"== migrate(): $applied step(s), schema now v${reopened.manifest.schemaVersion}, " +
        s"rows ${FoldInputs.countInputs(reopened, "*")}")
    }

    // probe: invalid pattern text
    try FoldInputs(ix, Api.MatchesQuery("zz/not-a-pattern"))
    catch { case e: IllegalArgumentException => println("== probe invalid pattern -> " + e.getMessage) }
    // probe: metadata pattern rejected at query time
    try FoldInputs(ix, Api.MatchesQuery("{674}"))
    catch { case e: IllegalArgumentException => println("== probe metadata pattern -> " + e.getMessage) }
    // probe: empty range
    val n = FoldInputs(ix, Api.MatchesQuery("*",
      range = Api.SlotRange(Api.RangeField.CreatedAt, Some(9999L), None))).count()
    println(s"== probe empty-range -> $n rows")

    // U6: register a wildcard pattern with history backfill, then query it
    import graft.index.PatternManager
    PatternManager.putPatterns(ix, FixtureChain.toDf(spark, blocks.take(6)),
      Set[Pattern](Pattern.MatchAny(true)), since = 0L, allowUnsafe = true)
    println("== after putPatterns(*): " + FoldInputs.countInputs(ix, "*") +
      " inputs, patterns = " + PatternManager.listPatterns(ix).map(_.toText).sorted.mkString(","))
    println("== checkpoint by slot 45 (ancestor) -> " +
      PatternManager.getCheckpointBySlot(ix, 45L).map(_._1))

    // S6: streaming ingest from Ogmios-shaped JSONL with a rollback barrier
    import graft.streaming.StreamingIndexer
    val streamDir = java.nio.file.Files.createTempDirectory("graft-demo-stream")
    val addrTxt = graft.codec.Bech32.encode("addr",
      graft.codec.Hex.decode("01" + ("11" * 28) + ("22" * 28)).get)
    def fwdLine(slot: Long) =
      s"""{"jsonrpc":"2.0","method":"nextBlock","result":{"direction":"forward","block":{"id":"${f"$slot%064d"}","slot":$slot,"transactions":[{"id":"${f"$slot%064d"}","spends":"inputs","inputs":[],"outputs":[{"address":"$addrTxt","value":{"ada":{"lovelace":$slot}}}]}]},"tip":{"slot":999,"id":"${"0" * 64}"}}}"""
    java.nio.file.Files.write(streamDir.resolve("000.jsonl"),
      Seq(fwdLine(200), fwdLine(210)).mkString("\n").getBytes)
    val six = new GraftIndex(spark, java.nio.file.Files.createTempDirectory("graft-demo-six").toString)
    StreamingIndexer.runAvailableNow(spark, streamDir.toString, six,
      Set[Pattern](Pattern.MatchAny(true)))
    println("== streaming ingest -> " + six.table("inputs").count() + " rows, tip " +
      FoldInputs.maxCheckpoint(six).map(_._1))

    // graft.llm: dedup + similarity over tiny frames
    import spark.implicits._
    val docs = Seq((1L, "the cat sat"), (2L, "the cat sat"), (3L, "dogs bark loud"))
      .toDF("doc_id", "text")
    println("== llm exact-dedup groups: " + graft.llm.Dedup.exact(docs).count())
    val vecs = Seq((0L, Array(1f, 0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    println("== llm top-1 neighbor of v0: " + graft.llm.Similarity
      .bruteForceTopK(vecs, 0L, 1).select("vec_id").as[Long].head())
    println("== llm kmeans cells: " + graft.llm.Similarity
      .assignCells(vecs, graft.llm.Similarity.kmeansCentroids(vecs, k = 2, iters = 2))
      .select("cell").as[Long].collect().sorted.mkString(","))

    // F8: the byte-exact result-JSON encoding (resultToJson mirror)
    val oneJson = FoldInputs.asJson(
      FoldInputs(ix, Api.MatchesQuery("*", order = Api.SortDirection.Asc)).limit(1))
      .head().getString(0)
    println("== result json (first row): " + oneJson.take(120) + "…")

    // SQL surface: snapshot views + kernel functions
    graft.GraftFunctions.register(spark)
    ix.createOrReplaceViews("g_")
    println("== sql view count(g_inputs): " +
      spark.sql("SELECT count(*) FROM g_inputs").head().getLong(0))
    println("== sql native_script_cbor: " + spark.sql(
      """SELECT native_script_cbor('{"clause":"before","slot":150}')""").head().getString(0))
    println("== sql metadatum_schema: " + spark.sql(
      """SELECT metadatum_schema('{"json":{"msg":["hi"]}}')""").head().getString(0))

    // S3: a Hydra snapshot line rides the same ingest pipeline
    val hydraLine = graft.ingest.HydraReader.messageToOgmios(
      """{"tag":"HeadIsOpen","headId":"00","utxo":{""" +
        s""""${"ab" * 32}#0":{"address":"${"61" + "cd" * 28}","value":{"lovelace":1234}}}}""")
    println("== hydra HeadIsOpen -> ogmios: " + hydraLine.take(100) + "…")

    // S1 wire plane: a socket-free chain-sync session — handshake propose,
    // FindIntersect/IntersectFound over mux SDUs, one RollForward whose
    // tag-24 payload rides the BlockCbor data plane
    {
      import graft.codec.{Blake2b, Cbor, Hex}
      import graft.codec.Cbor._
      import graft.streaming.ChainSyncWire
      import graft.streaming.ChainSyncWire.{ChainSyncCodec => CS, Handshake, Mux}
      val hs = Handshake.parseReply(Cbor.encode(
        cArr(cInt(1), cInt(Handshake.n2cVersion(16)), cArr(cInt(2), cBool(false)))))
      val headerBody = cArr(cInt(5), cInt(321), cBytes(Array.fill[Byte](32)(9)))
      val header = cArr(headerBody, cBytes(Array.fill[Byte](8)(1)))
      val wrapped = Cbor.encode(cArr(cInt(6),
        cArr(header, cArr(), cArr(), cMap(), cArr())))
      val pt = graft.streaming.Resume.Point(
        321L, Hex.encode(Blake2b.hash256(Cbor.encode(header))))
      val tip = cArr(cArr(cInt(321), cBytes(Hex.decode(pt.headerHash).get)), cInt(1))
      val client = new ChainSyncWire.Client(Seq(pt))
      client.start()
      val found = Mux.encode(Mux.Sdu(0L, CS.ProtocolId, responder = true, Cbor.encode(
        cArr(cInt(5), cArr(cInt(321), cBytes(Hex.decode(pt.headerHash).get)), tip))))
      val (ev1, _) = client.onBytes(found)
      val roll = Mux.encode(Mux.Sdu(0L, CS.ProtocolId, responder = true, Cbor.encode(
        cArr(cInt(2), cTag(24, cBytes(wrapped)), tip))))
      val (ev2, _) = client.onBytes(roll)
      val fwdLine = ev2.collect { case ChainSyncWire.Forwarded(b, _) =>
        graft.ingest.BlockCbor.blockToOgmios(Hex.encode(b)) }.head
      println(s"== wire handshake: $hs; negotiated: " +
        ev1.collect { case ChainSyncWire.Negotiated(p, _) => p }.head)
      println("== wire roll-forward -> ogmios: " + fwdLine.take(80) + "…")
    }

    // The HTTP serving layer over a REAL loopback listener
    {
      val api = new graft.query.HttpApi(ix, () => FixtureChain.toDf(spark, blocks),
        () => graft.query.Health.snapshot(ix,
          graft.query.Health.ConnectionStatus.Connected))
      val server = graft.query.KupoHttpServer.start(api, port = 0)
      try {
        val client = java.net.http.HttpClient.newHttpClient()
        def fetch(path: String) = client.send(
          java.net.http.HttpRequest.newBuilder(java.net.URI.create(
            s"http://127.0.0.1:${server.getAddress.getPort}$path")).GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        val h = fetch("/health")
        val m = fetch("/matches?unspent")
        println("== http /health: " + h.statusCode() + " " + h.body().take(60) + "…")
        println("== http /matches?unspent rows: " +
          m.body().count(_ == '{') + " (status " + m.statusCode() + ")")
        println("== http 304 on etag: " + client.send(
          java.net.http.HttpRequest.newBuilder(java.net.URI.create(
            s"http://127.0.0.1:${server.getAddress.getPort}/checkpoints"))
            .header("If-None-Match", h.headers.firstValue("ETag").orElse(""))
            .GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode())
      } finally server.stop(0)
    }

    // R12/R13: health document + ETag caching discipline
    val health = graft.query.Health.snapshot(ix, graft.query.Health.ConnectionStatus.Connected)
    println("== health: " + graft.query.Health.asJson(health))
    println("== etag match -> 304: " +
      graft.query.Health.cacheOr(health, graft.query.Health.etag(health))("body").isEmpty)

    spark.stop()
  }
}
