package graft

import graft.index.GraftIndex
import graft.ingest.Indexer
import graft.model.Pattern
import graft.query.{FoldInputs, Health}
import graft.tools.FixtureChain

/** R12 health/metrics payloads + R13 ETag caching discipline. */
class HealthSpec extends SparkSpec {

  test("health snapshot on an empty index: nulls, no etag, never cached") {
    val ix = new GraftIndex(spark, tmpDir("graft-health-empty"))
    val h = Health.snapshot(ix)
    assert(h.mostRecentCheckpoint.isEmpty && Health.etag(h).isEmpty)
    assert(Health.asJson(h) ==
      s"""{"connection_status":"disconnected","most_recent_checkpoint":null,""" +
        s""""most_recent_node_tip":null,"seconds_since_last_block":null,""" +
        s""""network_synchronization":null,"configuration":{"indexes":"installed"},""" +
        s""""version":"${Health.Version}"}""")
    // the reference renders null only when built WITHOUT a configuration
    // (Health.hs:130-136) — the un-configured snapshot mirrors that
    assert(Health.asJson(h.copy(indexes = None))
      .contains(""""configuration":{"indexes":null}"""))
    // no etag → if-none-match can never match → always fresh
    assert(Health.cacheOr(h, Some("anything"))(42).contains((None, 42)))
  }

  test("health + metrics reflect the index tip; etag is the tip header hash") {
    val ix = new GraftIndex(spark, tmpDir("graft-health"))
    Indexer.ingest(ix, FixtureChain.toDf(spark, FixtureChain.chain(6)),
      Set[Pattern](Pattern.MatchAny(includingBootstrap = true)))
    val (tipSlot, tipHash) = FoldInputs.maxCheckpoint(ix).get
    val h = Health.snapshot(ix, Health.ConnectionStatus.Connected,
      nodeTip = Some(tipSlot), lastBlockAtMs = Some(1000L), nowMs = 31000L)
    assert(h.mostRecentCheckpoint.contains((tipSlot, tipHash)))
    assert(h.secondsSinceLastBlock.contains(30L))
    assert(Health.etag(h).contains(tipHash))
    assert(Health.asJson(h).contains(s""""most_recent_checkpoint":$tipSlot"""))
    assert(Health.prometheus(h) ==
      s"kupo_connection_status 1\nkupo_most_recent_checkpoint $tipSlot\n" +
        s"kupo_most_recent_node_tip $tipSlot\nkupo_seconds_since_last_block 30\n" +
        s"kupo_configuration_indexes 1\n")
  }

  test("network_synchronization: era math, tolerance clamp, fixed 5-decimal wire form") {
    import Health.{networkSynchronization => sync, NetworkParameters}
    // preview-style network (magic 2): shelley from slot 0, 1 slot = 1 s
    val preview = NetworkParameters.fromMagic(networkMagic = 2L, systemStartSec = 1000L)
    assert(sync(nowSec = 101000L, preview, tipSlot = 50000L) == "0.50000")
    // Health.hs doctest: 1.4e-3 renders 0.00140, never scientific notation
    assert(sync(nowSec = 101000L, preview, tipSlot = 140L) == "0.00140")
    // within 120 s of now clamps to exactly 1 (the reference's tolerance)
    assert(sync(nowSec = 101000L, preview, tipSlot = 99900L) == "1.00000")
    // mainnet magic: byron slots last 20 s until slot 4492800
    val mainnet = NetworkParameters.fromMagic(networkMagic = 764824073L, systemStartSec = 0L)
    // byron-era tip: 1000 slots * 20 s = 20000 s of 89857000 elapsed → 0.00022
    assert(sync(nowSec = 89857000L, mainnet, tipSlot = 1000L) == "0.00022")
    // shelley-era tip: byronDuration + (tip − boundary) seconds
    assert(sync(nowSec = 2 * 89856000L, mainnet, tipSlot = 4492800L + 44928000L) ==
      "0.75000") // (89856000+44928000)/179712000
    // ratio clamps at 1 even if the tip runs ahead of the wall clock
    assert(sync(nowSec = 10000L, preview, tipSlot = 50000L) == "1.00000")
    // CUSTOM network: genesis-derived boundary + slot length that match no
    // magic-map entry (boundary 1000, byron slots 8 s) — the gauge must use
    // the explicit fields, not a hardcoded era table
    val custom = NetworkParameters(networkMagic = 42L, systemStartSec = 0L,
      firstShelleySlot = 1000L, byronSlotLengthSec = 8L)
    // byron-era tip: 500 slots * 8 s = 4000 of 16000 elapsed
    assert(sync(nowSec = 16000L, custom, tipSlot = 500L) == "0.25000")
    // shelley-era tip: 8000 byron seconds + (5000 − 1000) shelley seconds
    assert(sync(nowSec = 16000L, custom, tipSlot = 5000L) == "0.75000")
    // the same tip under the magic map (boundary 0) would read differently
    assert(sync(nowSec = 16000L,
      NetworkParameters.fromMagic(42L, 0L), tipSlot = 500L) != "0.25000")

    // end to end: params present → gauge in JSON + prometheus; absent → null
    val ix = new GraftIndex(spark, tmpDir("graft-health-sync"))
    Indexer.ingest(ix, FixtureChain.toDf(spark, FixtureChain.chain(4)),
      Set[Pattern](Pattern.MatchAny(includingBootstrap = true)))
    val tipSlot = FoldInputs.maxCheckpoint(ix).get._1
    val now = 1000L + 2 * tipSlot // tip halfway through a shelley-only history
    val h = Health.snapshot(ix, nowMs = now * 1000L,
      params = Some(NetworkParameters.fromMagic(2L, systemStartSec = 1000L)))
    val expected = sync(now, NetworkParameters.fromMagic(2L, 1000L), tipSlot)
    assert(h.networkSynchronization.contains(expected))
    assert(Health.asJson(h).contains(s""""network_synchronization":$expected,"""))
    assert(Health.prometheus(h).contains(s"kupo_network_synchronization $expected\n"))
    // absent params renders null, like the reference without genesis files
    assert(Health.asJson(Health.snapshot(ix)).contains(""""network_synchronization":null"""))
  }

  test("fromGenesis: byron genesis and on-disk-config shapes, era derivation") {
    import Health.NetworkParameters
    // Byron genesis shape (mainnet-like): unix startTime, magic under
    // protocolConsts, slot duration in ms as a JSON STRING (as on real
    // networks). Extra fields ignored.
    val byron = NetworkParameters.fromGenesis(
      """{"startTime": 1506203091,
        |  "blockVersionData": {"slotDuration": "20000", "maxBlockSize": "2000000"},
        |  "protocolConsts": {"k": 2160, "protocolMagic": 764824073},
        |  "avvmDistr": {}}""".stripMargin)
    assert(byron == NetworkParameters(764824073L, 1506203091L,
      firstShelleySlot = 4492800L, byronSlotLengthSec = 20L))
    // reference FromOnDiskConfig shape (Configuration.hs:270-282): top-level
    // networkMagic + ISO-8601 systemStart; no slotDuration → 20 s default
    val onDisk = NetworkParameters.fromGenesis(
      """{"networkMagic": 2, "systemStart": "1970-01-01T00:16:40Z",
        |  "protocolConsts": {"k": 432}}""".stripMargin)
    assert(onDisk == NetworkParameters(2L, 1000L,
      firstShelleySlot = 0L, byronSlotLengthSec = 20L))
    // custom testnet: unknown magic → shelley from slot 0, and a
    // non-standard slot duration is honored (8000 ms → 8 s byron slots)
    val custom = NetworkParameters.fromGenesis(
      """{"startTime": 0, "blockVersionData": {"slotDuration": "8000"},
        |  "protocolConsts": {"protocolMagic": 42}}""".stripMargin)
    assert(custom.byronSlotLengthSec == 8L && custom.firstShelleySlot == 0L)
    // the parsed parameters drive the gauge end to end
    assert(Health.networkSynchronization(nowSec = 101000L, onDisk,
      tipSlot = 50000L) == "0.50000")
    // missing both magic fields / both start fields → loud failure
    intercept[IllegalArgumentException](
      NetworkParameters.fromGenesis("""{"startTime": 0}"""))
    intercept[IllegalArgumentException](
      NetworkParameters.fromGenesis("""{"networkMagic": 1}"""))
    // malformed numerics fail loudly instead of silently parsing as 0
    intercept[IllegalArgumentException](
      NetworkParameters.fromGenesis(
        """{"networkMagic": "not-a-number", "startTime": 0}"""))
    // malformed date and sub-second slot duration fail loudly too — a
    // 500 ms slot flooring to 0 s would gauge sync as 0 forever
    intercept[IllegalArgumentException](
      NetworkParameters.fromGenesis(
        """{"networkMagic": 2, "systemStart": "not-a-date"}"""))
    intercept[IllegalArgumentException](
      NetworkParameters.fromGenesis(
        """{"networkMagic": 2, "startTime": 0,
          |  "blockVersionData": {"slotDuration": "500"}}""".stripMargin))
  }

  test("cacheOr: matching if-none-match short-circuits (304), stale recomputes") {
    val ix = new GraftIndex(spark, tmpDir("graft-health-etag"))
    Indexer.ingest(ix, FixtureChain.toDf(spark, FixtureChain.chain(3)),
      Set[Pattern](Pattern.MatchAny(includingBootstrap = true)))
    val h = Health.snapshot(ix)
    val tag = Health.etag(h).get
    var computed = 0
    // matching tag: 304, body never computed
    assert(Health.cacheOr(h, Some(tag)) { computed += 1; "body" }.isEmpty)
    assert(computed == 0)
    // stale tag: fresh body + current etag for the response
    assert(Health.cacheOr(h, Some("stale")) { computed += 1; "body" }
      .contains((Some(tag), "body")))
    assert(computed == 1)
    // indexing another block rotates the etag → previously-matching tag is stale
    Indexer.ingest(ix, FixtureChain.toDf(spark,
      Seq(FixtureChain.Blk(900L, FixtureChain.hex32(424242), Seq(
        FixtureChain.Tx(FixtureChain.hex32(424243), Nil,
          Seq(FixtureChain.Out(FixtureChain.baseAddr(0, 0), 1L))))))),
      Set[Pattern](Pattern.MatchAny(includingBootstrap = true)))
    val h2 = Health.snapshot(ix)
    assert(Health.etag(h2).isDefined && Health.etag(h2) != Some(tag))
    assert(Health.cacheOr(h2, Some(tag))("fresh").isDefined)
    // rolling that block back restores the earlier tip: the memoized tip is
    // keyed by the checkpoints segment list, so it follows the rollback
    graft.index.Mutations.rollbackTo(ix, h.mostRecentCheckpoint.get._1)
    val h3 = Health.snapshot(ix)
    assert(Health.etag(h3).contains(tag) && Health.etag(h3) != Health.etag(h2))
    assert(h3.mostRecentCheckpoint == ix.table("checkpoints")
      .orderBy(org.apache.spark.sql.functions.col("slot_no").desc).limit(1)
      .collect().headOption.map(r => (r.getLong(0), r.getString(1))))
  }
}
