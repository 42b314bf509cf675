package graft

import graft.index.{GraftIndex, Mutations}
import graft.ingest.Indexer
import graft.model.Pattern
import graft.query.{Api, BlockQueries, FoldInputs}
import graft.tools.FixtureChain
import org.apache.spark.graftshim.JobListener
import org.apache.spark.sql.functions._

/** S4/S5/R11 block queries, S9 filtered copy, F8 JSON projection. */
class ApiSurfaceSpec extends SparkSpec {

  private lazy val blocks = FixtureChain.chain(10)
  private def blocksDf = FixtureChain.toDf(spark, blocks)

  test("S4/S5: fetchBlock point lookup and fetchTip") {
    assert(BlockQueries.fetchBlock(blocksDf, 30L).count() == 1)
    assert(BlockQueries.fetchBlock(blocksDf, 31L).count() == 0)
    val tip = BlockQueries.fetchTip(blocksDf)
    assert(tip.map(_._1).contains(100L))
    assert(tip.map(_._2).contains(blocks.last.headerHash))
  }

  test("R11: metadata by slot, optionally filtered by transaction id") {
    // block 0 (slot 10) carries metadata on both txs
    val all = BlockQueries.metadataBySlot(blocksDf, 10L).collect()
    assert(all.length == 4) // 2 txs × 2 labels
    assert(all.map(_.getString(1)).distinct.sorted.sameElements(Array("674", "721")))
    val one = BlockQueries.metadataBySlot(blocksDf, 10L, Some(blocks.head.txs.head.id))
    assert(one.count() == 2)
    // slot without metadata (odd block index) → empty
    assert(BlockQueries.metadataBySlot(blocksDf, 20L).count() == 0)
    // structured output (metadataToJson, Metadata.hs:73-97): the json-form
    // label renders as a string-keyed map tree, the cbor-form label
    // (a1 1902d1 a0 = {721: {}}) decodes through the CBOR metadatum path
    val byLabel = all.map(r => r.getString(1) -> r.getString(3)).toMap
    assert(byLabel("674") ==
      """{"map":[{"k":{"string":"msg"},"v":{"list":[{"string":"block 0"}]}}]}""")
    assert(byLabel("721") == """{"map":[{"k":{"int":721},"v":{"map":[]}}]}""")
  }

  test("S9: copyFiltered bootstraps a pattern-restricted index") {
    val src = new GraftIndex(spark, tmpDir("graft-copy-src"))
    Indexer.ingest(src, blocksDf, Set[Pattern](Pattern.MatchAny(true)))
    val delCred = FixtureChain.baseAddr(0, 0).substring(2, 58)
    val p = Pattern.fromText(s"*/$delCred").get

    val dst = Mutations.copyFiltered(src, tmpDir("graft-copy-dst"), Set(p))
    val expected = src.inputsWithSpends.where(p.toPredicate).count()
    assert(dst.table("inputs").count() == expected && expected > 0)
    // every surviving datum/script hash resolves; no orphans copied
    val orphanDatums = dst.table("binary_data")
      .join(dst.table("inputs").where(col("datum_info").isNotNull)
        .select(col("datum_info.hash").as("binary_data_hash")),
        Seq("binary_data_hash"), "left_anti").count()
    assert(orphanDatums == 0)
    assert(dst.table("checkpoints").count() == src.table("checkpoints").count())
    assert(Indexer.getPatterns(dst) == Set(p))
    // the copy answers queries identically to filtering the source
    val q = Api.MatchesQuery(s"*/$delCred", order = Api.SortDirection.Asc)
    val a = FoldInputs(dst, q).select("transaction_id", "output_index").collect()
    val b = FoldInputs(src, q).select("transaction_id", "output_index").collect()
    assert(a.sameElements(b))
  }

  test("S10: streaming response emits the byte-exact JSON array incrementally") {
    val ix = new GraftIndex(spark, tmpDir("graft-s10"))
    Indexer.ingest(ix, blocksDf, Set[Pattern](Pattern.MatchAny(true)))
    val res = FoldInputs(ix, Api.MatchesQuery("*", order = Api.SortDirection.Asc))

    // golden equality: the streamed array is byte-identical to the
    // collect-side join of the asJson rows
    val expected = FoldInputs.asJson(res).collect().map(_.getString(0))
    val sw = new java.io.StringWriter()
    val n = graft.query.ResponseStream.writeJsonArray(res, sw)
    assert(n == expected.length && n > 0)
    assert(sw.toString == expected.mkString("[", ",", "]"))

    // incremental fetch: on a many-partition result, pulling the FIRST row
    // must not execute the whole response — toLocalIterator launches one
    // per-partition fetch job as the consumer advances (the cursor shape
    // the reference's chunked HTTP encoder streams from)
    val wide = res.repartition(8)
    val sc = spark.sparkContext
    val (it, first) = JobListener.jobsOf(sc) {
      val it = graft.query.ResponseStream.jsonRows(wide)
      assert(it.hasNext && it.next().startsWith("{"))
      it
    }
    val afterFirst = first.size
    assert(afterFirst < 8,
      s"first pull executed $afterFirst jobs — the fetch is not incremental")
    var drained = 1L
    val (_, rest) = JobListener.jobsOf(sc)(it.foreach(_ => drained += 1))
    assert(drained == n)
    assert(rest.nonEmpty,
      "draining the iterator must launch further per-partition fetch jobs")
  }

  test("F8 golden: asJson byte-matches resultToJson on a hand-derived chain") {
    // expected strings derived by hand from the reference encoder
    // (resultToJson Pattern.hs:447-522, valueToJson Value.hs:60-99):
    // field order, explicit nulls, datum_type vocabulary ("inline"/"hash"),
    // bare-policy key for empty asset names, policies DESC / names ASC
    val txA = "aa" * 32; val txB = "bb" * 32
    val h10 = "10" * 32; val h20 = "20" * 32
    val addrBase = "01" + "22" * 28 + "01" + "11" * 28
    val addrEnt = "03" + "61" + "33" * 28
    val pHi = "ff" * 28; val pLo = "aa" * 28
    val blocksG = Seq(
      FixtureChain.Blk(10L, h10, Seq(FixtureChain.Tx(txA, Nil, Seq(
        FixtureChain.Out(addrBase, 1000L,
          assets = Map(pHi -> Map("" -> 5L), pLo -> Map("abcd" -> 7L, "0000" -> 9L)),
          datumFlag = Some(1.toByte), datumHash = Some("dd" * 32), datumBytes = Some("d87980")),
        FixtureChain.Out(addrEnt, 2L))))),
      FixtureChain.Blk(20L, h20, Seq(FixtureChain.Tx(txB, Seq((txA, 1)), Seq(
        FixtureChain.Out(addrBase, 3L,
          datumFlag = Some(0.toByte), datumHash = Some("ee" * 32),
          scriptHash = Some("77" * 28))),
        redeemers = Map(0 -> "4d0101")))))
    val ix = new GraftIndex(spark, tmpDir("graft-json-golden"))
    Indexer.ingest(ix, FixtureChain.toDf(spark, blocksG), Set[Pattern](Pattern.MatchAny(true)))
    val res = FoldInputs(ix, Api.MatchesQuery("*", order = Api.SortDirection.Asc))
    val got = FoldInputs.asJson(res).collect().map(_.getString(0)).toSeq
    val want = Seq(
      s"""{"transaction_index":0,"transaction_id":"$txA","output_index":0,"address":"$addrBase",""" +
        s""""value":{"coins":1000,"assets":{"$pHi":5,"$pLo.0000":9,"$pLo.abcd":7}},""" +
        s""""datum_hash":"${"dd" * 32}","datum_type":"inline","script_hash":null,""" +
        s""""created_at":{"slot_no":10,"header_hash":"$h10"},"spent_at":null}""",
      s"""{"transaction_index":0,"transaction_id":"$txA","output_index":1,"address":"$addrEnt",""" +
        s""""value":{"coins":2,"assets":{}},"datum_hash":null,"script_hash":null,""" +
        s""""created_at":{"slot_no":10,"header_hash":"$h10"},""" +
        s""""spent_at":{"slot_no":20,"header_hash":"$h20","transaction_id":"$txB","input_index":0,"redeemer":"4d0101"}}""",
      s"""{"transaction_index":0,"transaction_id":"$txB","output_index":0,"address":"$addrBase",""" +
        s""""value":{"coins":3,"assets":{}},"datum_hash":"${"ee" * 32}","datum_type":"hash",""" +
        s""""script_hash":"${"77" * 28}","created_at":{"slot_no":20,"header_hash":"$h20"},"spent_at":null}""")
    assert(got == want)
    // string quantity mode (QuantityEncoding.hs:31): every quantity quoted
    val gotStr = FoldInputs.asJson(res, stringQuantities = true)
      .collect().map(_.getString(0)).toSeq
    assert(gotStr.head.contains(""""coins":"1000""""))
    assert(gotStr.head.contains(s""""$pHi":"5""""))
  }

  test("F8 InlineAll: datum/script pairs present, script is an object") {
    // hand-built result row in the F8 projection shape (resolve columns set)
    val df = spark.sql(
      s"""SELECT 1 AS transaction_index, '${"ab" * 32}' AS transaction_id,
         |  2 AS output_index, '03' || '61' || '${"cd" * 28}' AS address,
         |  named_struct('coins', CAST(9 AS DECIMAL(38,0)),
         |               'assets', CAST(NULL AS MAP<STRING, MAP<STRING, DECIMAL(38,0)>>)) AS value,
         |  '${"dd" * 32}' AS datum_hash, 'inline' AS datum_type,
         |  '${"77" * 28}' AS script_hash,
         |  named_struct('slot_no', CAST(5 AS BIGINT), 'header_hash', '${"05" * 32}') AS created_at,
         |  CAST(NULL AS STRUCT<slot_no: BIGINT, header_hash: STRING,
         |       transaction_id: STRING, input_index: INT, redeemer: STRING>) AS spent_at,
         |  'd87980' AS datum, '0249480100002221200101' AS script
         |""".stripMargin)
    val got = FoldInputs.asJson(df, inlineAll = true).collect().map(_.getString(0)).toSeq
    val want = Seq(
      s"""{"transaction_index":1,"transaction_id":"${"ab" * 32}","output_index":2,""" +
        s""""address":"0361${"cd" * 28}","value":{"coins":9,"assets":{}},""" +
        s""""datum_hash":"${"dd" * 32}","datum":"d87980","datum_type":"inline",""" +
        s""""script_hash":"${"77" * 28}",""" +
        s""""script":{"script":"49480100002221200101","language":"plutus:v2"},""" +
        s""""created_at":{"slot_no":5,"header_hash":"${"05" * 32}"},"spent_at":null}""")
    assert(got == want)
  }

  test("F8: asJson emits kupo-shaped rows; quantities stringify on demand") {
    val ix = new GraftIndex(spark, tmpDir("graft-json"))
    Indexer.ingest(ix, blocksDf, Set[Pattern](Pattern.MatchAny(true)))
    val res = FoldInputs(ix, Api.MatchesQuery("*", order = Api.SortDirection.Asc))

    val js = FoldInputs.asJson(res).select("result_json").collect().map(_.getString(0))
    assert(js.nonEmpty)
    assert(js.forall(_.contains("\"transaction_id\"")))
    assert(js.forall(_.contains("\"created_at\":{\"slot_no\"")))
    // an asset row flattens to a dotted policy.asset key with numeric qty
    val withAsset = js.find(_.contains("\"assets\"")).get
    assert(withAsset.matches(""".*"assets":\{"[0-9a-f]{56}\.[0-9a-f]+":\d+.*"""))

    val jsStr = FoldInputs.asJson(res, stringQuantities = true)
      .select("result_json").collect().map(_.getString(0))
    val withAssetStr = jsStr.find(_.contains("\"assets\"")).get
    assert(withAssetStr.matches(""".*"assets":\{"[0-9a-f]{56}\.[0-9a-f]+":"\d+".*"""))
    assert(jsStr.forall(_.matches(""".*"coins":"\d+".*""")))
  }
}
