package graft

import graft.index.GraftIndex
import graft.ingest.{BlockReader, Indexer}
import graft.model.Pattern
import org.apache.spark.sql.functions._

/** Stress re-run of BlockReaderSpec's end-to-end ingest: the same fixture
  * into many fresh indexes, checking the committed row counts every time —
  * guards the atomic multi-table commit against scheduling-order races.
  * 8 iterations per path run by default; the remaining 32 of the original
  * 40 are HeavyTest-tagged amplification (same body, wider sample).
  * `Indexer.ingest` writes its seven tables concurrently, so the
  * fresh-index case is the race test of those overlapping writes; the
  * guard that keeps unmaterialized frames out of them is tested here too. */
class IngestStressSpec extends SparkSpec {
  import spark.implicits._

  private val paymentHex = "11" * 28
  private val onChain = "01" + paymentHex + ("22" * 28)
  private lazy val bech32Addr = {
    val bytes = graft.codec.Hex.decode(onChain).get
    graft.codec.Bech32.encode("addr", bytes)
  }

  private def fwd(slot: Long, id: String, txs: String) =
    s"""{"jsonrpc":"2.0","method":"nextBlock","result":{"direction":"forward","block":{"type":"praos","era":"babbage","id":"$id","slot":$slot,"height":${slot / 10},"transactions":[$txs]},"tip":{"slot":999,"id":"${"t" * 64}"}}}"""

  private val tx1 =
    s"""{"id":"${"aa" * 32}","spends":"inputs",
       |"inputs":[{"transaction":{"id":"${"bb" * 32}"},"index":0}],
       |"outputs":[
       |  {"address":"$bech32Addr","value":{"ada":{"lovelace":5000000}}},
       |  {"address":"$bech32Addr",
       |   "value":{"ada":{"lovelace":2000000},"${"cc" * 28}":{"deadbeef":42}},
       |   "datumHash":"${"dd" * 32}",
       |   "script":{"language":"plutus:v2","cbor":"49480100002221200101"}}],
       |"datums":{"${"ee" * 32}":"d87980"},
       |"scripts":{"${"77" * 28}":{"language":"plutus:v1","cbor":"4e4d01000033222220051200120011"}}}""".stripMargin.replaceAll("\n", "")

  private val tx2 =
    s"""{"id":"${"ab" * 32}","spends":"collaterals",
       |"collaterals":[{"transaction":{"id":"${"aa" * 32}"},"index":0}],
       |"outputs":[{"address":"$bech32Addr","value":{"ada":{"lovelace":1}}}],
       |"collateralReturn":{"address":"$bech32Addr","value":{"ada":{"lovelace":7000000}}}}""".stripMargin.replaceAll("\n", "")

  test("8 single-table appends all commit 3 inputs (no concurrent commit)") {
    stressAppend(0 until 8)
  }
  test("iterations 8-39 of the single-table append stress", HeavyTest) {
    stressAppend(8 until 40)
  }
  private def stressAppend(iters: Range): Unit = {
    iters.foreach { i =>
      val env = BlockReader.parseEnvelope(
        Seq(fwd(100, "11" * 32, tx1), fwd(110, "12" * 32, tx2)).toDF("raw"))
      val blocks = BlockReader.blocks(env)
      val m = graft.ingest.MatchBlock(blocks, Set[Pattern](Pattern.MatchAny(true)))
      val ix = new GraftIndex(spark, tmpDir(s"graft-stress-app-$i"))
      ix.append("inputs", m.produced)
      val rows = ix.table("inputs")
        .select("tx_id", "output_index", "value.coins")
        .collect().map(_.toSeq).toSeq.sortBy(_.toString)
      assert(rows.size == 3, s"iteration $i committed ${rows.size}: $rows")
    }
  }

  test("8 ingests with pre-materialized frames all commit 3 inputs") {
    stressMaterialized(0 until 8)
  }
  test("iterations 8-39 of the pre-materialized ingest stress", HeavyTest) {
    stressMaterialized(8 until 40)
  }
  private def stressMaterialized(iters: Range): Unit = {
    iters.foreach { i =>
      val env = BlockReader.parseEnvelope(
        Seq(fwd(100, "11" * 32, tx1), fwd(110, "12" * 32, tx2)).toDF("raw"))
      val blocks = BlockReader.blocks(env)
      val m = graft.ingest.MatchBlock(blocks, Set[Pattern](Pattern.MatchAny(true)))
      val ix = new GraftIndex(spark, tmpDir(s"graft-stress-mat-$i"))
      ix.commitAll(appends = Map(
        "checkpoints" -> m.checkpoints.localCheckpoint(true),
        "inputs" -> m.produced.localCheckpoint(true),
        "policies" -> m.policies.localCheckpoint(true),
        "binary_data" -> m.datums.localCheckpoint(true),
        "scripts" -> m.scripts.localCheckpoint(true),
        "spends" -> m.spends.localCheckpoint(true)))
      val rows = ix.table("inputs")
        .select("tx_id", "output_index", "value.coins")
        .collect().map(_.toSeq).toSeq.sortBy(_.toString)
      assert(rows.size == 3, s"iteration $i committed ${rows.size}: $rows")
    }
  }

  test("concurrent commits refuse frames not built only from materialized relations") {
    val raw = Seq(fwd(100, "11" * 32, tx1), fwd(110, "12" * 32, tx2)).toDF("raw")
    // the shape that garbled rows: every frame parses the same literal
    // lines with one from_json, evaluated by each writer's optimizer
    val m = graft.ingest.MatchBlock(BlockReader.blocks(BlockReader.parseEnvelope(raw)),
      Set[Pattern](Pattern.MatchAny(true)))
    val ix = new GraftIndex(spark, tmpDir("graft-stress-guard"))
    val refused = intercept[IllegalArgumentException](ix.commitAll(appends = Map(
      "checkpoints" -> m.checkpoints, "spends" -> m.spends), concurrentWrites = true))
    assert(refused.getMessage.contains("concurrent write of checkpoints") ||
      refused.getMessage.contains("concurrent write of spends"), refused.getMessage)
    assert(ix.manifest.version == 0L, "a refused commit wrote nothing")
    // serially the same frames commit
    ix.commitAll(appends = Map("checkpoints" -> m.checkpoints, "spends" -> m.spends))
    assert(ix.table("checkpoints").count() == 2)

    // materialized (checkpointed, cached), parquet and literal frames overlap
    val cached = m.produced.cache()
    try {
      ix.commitAll(appends = Map(
        "inputs" -> cached,
        "policies" -> graft.ingest.MatchBlock.policiesOf(cached),
        "binary_data" -> m.datums.localCheckpoint(true),
        "checkpoints" -> ix.table("checkpoints").where($"slot_no" > 100L)
          .withColumn("slot_no", $"slot_no" + 1),
        "patterns" -> Seq("*").toDF("pattern")), concurrentWrites = true)
    } finally cached.unpersist()
    assert(ix.table("inputs").count() == 3)
    assert(ix.table("checkpoints").select("slot_no").as[Long].collect().sorted.toSeq ==
      Seq(100L, 110L, 111L))
    assert(ix.table("patterns").count() == 1)
  }

  test("8 fresh-index ingests all commit 3 inputs") {
    stressIngest(0 until 8)
  }
  test("iterations 8-39 of the fresh-index ingest stress", HeavyTest) {
    stressIngest(8 until 40)
  }
  private def stressIngest(iters: Range): Unit = {
    iters.foreach { i =>
      val env = BlockReader.parseEnvelope(
        Seq(fwd(100, "11" * 32, tx1), fwd(110, "12" * 32, tx2)).toDF("raw"))
      val blocks = BlockReader.blocks(env)
      // computed frame BEFORE the commit path
      val computed = graft.ingest.MatchBlock(blocks, Set[Pattern](Pattern.MatchAny(true)))
        .produced.select("tx_id", "output_index", "value.coins")
        .collect().map(_.toSeq).toSeq.sortBy(_.toString)
      val ix = new GraftIndex(spark, tmpDir(s"graft-stress-$i"))
      Indexer.ingest(ix, blocks, Set[Pattern](Pattern.MatchAny(true)))
      val rows = ix.table("inputs")
        .select("tx_id", "output_index", "value.coins")
        .collect().map(_.toSeq).toSeq.sortBy(_.toString)
      assert(computed.size == 3, s"iteration $i COMPUTED ${computed.size}: $computed")
      assert(rows.size == 3, s"iteration $i committed ${rows.size}: $rows (computed ok)")
      assert(ix.inputsWithSpends.where(col("spent_at").isNotNull).count() == 1,
        s"iteration $i spends")
    }
  }
}
