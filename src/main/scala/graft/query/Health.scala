package graft.query

import graft.index.GraftIndex

/** R12/R13 — the health, metrics, and response-caching layer, minus the
  * HTTP server itself (Warp is the one part of the reference that has no
  * Spark analogue; everything the endpoints RETURN is computed here).
  *
  * Health document: /root/reference/src/Kupo/Data/Health.hs:106-140
  * (field-ordered JSON encoding); Prometheus rendering :251-304;
  * ETag/304 discipline (`cacheOr`): /root/reference/src/Kupo/App/Http.hs:
  * 455-471 — the ETag is the most recent checkpoint's header hash, so any
  * indexed block invalidates every cached response at once. */
object Health {

  sealed abstract class ConnectionStatus(val json: String, val gauge: Int)
  object ConnectionStatus {
    case object Connected extends ConnectionStatus("connected", 1)
    case object Disconnected extends ConnectionStatus("disconnected", 0)
  }

  /** Era genesis parameters (Configuration.hs:258-262, Health.hs:198-248):
    * the system start anchors slot 0 in wall-clock time, and the
    * Byron→Shelley boundary arrives as EXPLICIT fields — the reference
    * derives `firstShelleySlot`/`byronSlotLengthSec` from the operator's
    * Byron genesis file, so a custom testnet carries its own values instead
    * of a magic-number lookup. [[NetworkParameters.fromMagic]] keeps the
    * well-known-network convenience. */
  final case class NetworkParameters(
      networkMagic: Long,
      systemStartSec: Long,
      firstShelleySlot: Long,
      byronSlotLengthSec: Long = 20L)

  object NetworkParameters {
    /** Well-known networks by magic (the boundaries the reference's shipped
      * genesis configs produce): mainnet → 4492800, preprod → 86400,
      * anything else (preview and friends) → Shelley from slot 0. */
    def fromMagic(networkMagic: Long, systemStartSec: Long): NetworkParameters =
      NetworkParameters(networkMagic, systemStartSec,
        firstShelleySlot = networkMagic match {
          case 764824073L => 4492800L // mainnet
          case 1L         => 86400L   // preprod
          case _          => 0L       // preview and friends
        })

    /** Derive parameters from the operator's genesis/config JSON text, the
      * way the reference boots (Configuration.hs:268-282 `FromOnDiskConfig`
      * + the Health.hs:198-248 era math). Two shapes are accepted:
      *
      *  - a Byron genesis file: `startTime` (unix seconds),
      *    `protocolConsts.protocolMagic`, and `blockVersionData.slotDuration`
      *    (milliseconds, encoded as a JSON string on real networks);
      *  - the reference's on-disk config shape: top-level `networkMagic` and
      *    ISO-8601 `systemStart`.
      *
      * The Byron→Shelley boundary then comes from the shipped-network table
      * ([[fromMagic]]) — exactly the derivation the reference hardcodes for
      * the magics its genesis configs ship — and the parsed slot length
      * replaces the 20 s default when the file carries one. Driver-side
      * one-shot parse (Jackson, already on Spark's classpath): a genesis
      * file is a config artifact, not data. */
    def fromGenesis(genesisJson: String): NetworkParameters = {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(genesisJson)
      def opt(n: com.fasterxml.jackson.databind.JsonNode): Option[com.fasterxml.jackson.databind.JsonNode] =
        Option(n).filterNot(_.isMissingNode).filterNot(_.isNull)
      // asLong() would silently yield 0 for an unparseable node — parse the
      // text form instead so a malformed field fails loudly, not as magic 0
      def long(n: com.fasterxml.jackson.databind.JsonNode, field: String): Long =
        try n.asText().toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"genesis JSON field $field is not an integer: ${n.asText()}")
        }
      val magic = opt(root.path("protocolConsts").path("protocolMagic"))
        .map(long(_, "protocolConsts.protocolMagic"))
        .orElse(opt(root.path("networkMagic")).map(long(_, "networkMagic")))
        .getOrElse(throw new IllegalArgumentException(
          "genesis JSON carries neither protocolConsts.protocolMagic nor networkMagic"))
      val startSec = opt(root.path("startTime")).map(long(_, "startTime"))
        .orElse(opt(root.path("systemStart")).map { n =>
          try java.time.Instant.parse(n.asText()).getEpochSecond
          catch {
            case _: java.time.format.DateTimeParseException =>
              throw new IllegalArgumentException(
                s"genesis JSON field systemStart is not an ISO-8601 instant: ${n.asText()}")
          }
        })
        .getOrElse(throw new IllegalArgumentException(
          "genesis JSON carries neither startTime nor systemStart"))
      val slotSec = opt(root.path("blockVersionData").path("slotDuration"))
        .map { n =>
          val ms = long(n, "blockVersionData.slotDuration")
          // era math counts whole seconds; silently flooring 500 ms to 0 (or
          // 2500 to 2 s) would mis-gauge sync with no error — refuse instead
          if (ms <= 0 || ms % 1000L != 0) throw new IllegalArgumentException(
            s"blockVersionData.slotDuration must be a positive whole-second millisecond value, got $ms")
          ms / 1000L
        }
        .getOrElse(20L)
      fromMagic(magic, startSec).copy(byronSlotLengthSec = slotSec)
    }
  }

  /** DeferIndexesInstallation (Configuration.hs:211-219): whether secondary
    * query indexes are installed now or deferred until after the initial
    * sync. The OpenAPI Health schema requires one of these two strings when
    * the configuration is known; the reference renders null only when the
    * health document is built without a configuration (Health.hs:130-136). */
  sealed abstract class IndexesPolicy(val json: String, val gauge: Int)
  object IndexesPolicy {
    case object Installed extends IndexesPolicy("installed", 1)
    case object Deferred extends IndexesPolicy("deferred", 0)
  }

  final case class Snapshot(
    connectionStatus: ConnectionStatus,
    mostRecentCheckpoint: Option[(Long, String)], // (slot, header hash)
    mostRecentNodeTip: Option[Long],
    secondsSinceLastBlock: Option[Long],
    networkSynchronization: Option[String], // fixed-5-decimal number wire text
    version: String,
    indexes: Option[IndexesPolicy] = None)

  /** Read the health snapshot off the index. The checkpoint comes from
    * [[GraftIndex.maxCheckpoint]], memoized on the index and keyed by the
    * live checkpoints segment list: a repeated snapshot reads the manifest
    * and runs no Spark job, and any commit or rollback that touches
    * checkpoints changes the key, so the ETag stays exact.
    * `nodeTip`/`lastBlockAtMs` come from the producer loop, which is where
    * the reference's TVar gets its writes too (Health.hs:58-72);
    * `params` enables the `network_synchronization` gauge. */
  def snapshot(ix: GraftIndex,
               status: ConnectionStatus = ConnectionStatus.Disconnected,
               nodeTip: Option[Long] = None,
               lastBlockAtMs: Option[Long] = None,
               nowMs: Long = System.currentTimeMillis(),
               params: Option[NetworkParameters] = None,
               indexes: Option[IndexesPolicy] = Some(IndexesPolicy.Installed)): Snapshot = {
    val checkpoint = FoldInputs.maxCheckpoint(ix)
    Snapshot(
      connectionStatus = status,
      mostRecentCheckpoint = checkpoint,
      mostRecentNodeTip = nodeTip,
      secondsSinceLastBlock = lastBlockAtMs.map(t => math.max(0L, (nowMs - t) / 1000L)),
      networkSynchronization = for (p <- params; c <- checkpoint)
        yield networkSynchronization(nowMs / 1000L, p, c._1),
      version = Version,
      // the Parquet/manifest index has no deferred-installation mode: its
      // "secondary indexes" (manifest min/max stats) always exist
      indexes = indexes)
  }

  /** mkNetworkSynchronization (Health.hs:198-248): how far the indexed tip
    * is from wall-clock now, as a ratio in [0, 1]. Byron slots lasted
    * `byronSlotLengthSec` (20 s on every real network); Shelley slots are
    * 1 s and start at `params.firstShelleySlot`. Within a 120 s tolerance
    * of now the value clamps to exactly 1. Rendered like the reference's
    * fixed-format encoder: ALWAYS five decimals, never scientific notation
    * ("1.00000", "0.00140"). */
  def networkSynchronization(nowSec: Long, params: NetworkParameters, tipSlot: Long): String = {
    val byronSlotLength = params.byronSlotLengthSec
    val firstShelleySlot = params.firstShelleySlot
    val byronDuration = byronSlotLength * firstShelleySlot
    // seconds elapsed until now: byron seconds + shelley seconds (1 slot = 1 s)
    val den = byronDuration + (nowSec - (params.systemStartSec + byronDuration))
    // seconds covered by the indexed tip
    val num =
      if (tipSlot <= firstShelleySlot) tipSlot * byronSlotLength
      else byronDuration + (tipSlot - firstShelleySlot)
    val tolerance = 120L
    val p = 100000L
    if (math.abs(num - den) <= tolerance || den <= 0) "1.00000"
    else {
      val frac = math.min(p, num * p / den)
      s"${frac / p}.${"%05d".format(frac % p)}"
    }
  }

  /** GET /health body — field order and null conventions of the reference
    * encoder (Health.hs:108-140). `network_synchronization` needs the era
    * genesis parameters; without them it renders null, exactly like the
    * reference with absent network parameters. */
  def asJson(h: Snapshot): String = {
    def orNull(v: Option[Long]) = v.map(_.toString).getOrElse("null")
    s"""{"connection_status":"${h.connectionStatus.json}",""" +
      s""""most_recent_checkpoint":${orNull(h.mostRecentCheckpoint.map(_._1))},""" +
      s""""most_recent_node_tip":${orNull(h.mostRecentNodeTip)},""" +
      s""""seconds_since_last_block":${orNull(h.secondsSinceLastBlock)},""" +
      s""""network_synchronization":${h.networkSynchronization.getOrElse("null")},""" +
      s""""configuration":{"indexes":${h.indexes.map("\"" + _.json + "\"").getOrElse("null")}},""" +
      s""""version":"${h.version}"}"""
  }

  /** GET /metrics body (Health.hs:251-304): `kupo_`-prefixed samples, one
    * per line, absent when their source is absent. */
  def prometheus(h: Snapshot): String = {
    val lines = Seq(
      Some(s"kupo_connection_status ${h.connectionStatus.gauge}"),
      h.mostRecentCheckpoint.map(c => s"kupo_most_recent_checkpoint ${c._1}"),
      h.mostRecentNodeTip.map(t => s"kupo_most_recent_node_tip $t"),
      h.secondsSinceLastBlock.map(s => s"kupo_seconds_since_last_block $s"),
      h.networkSynchronization.map(s => s"kupo_network_synchronization $s"),
      h.indexes.map(i => s"kupo_configuration_indexes ${i.gauge}")
    ).flatten
    lines.mkString("", "\n", "\n")
  }

  /** R13: the ETag of every cacheable response — most recent checkpoint's
    * header hash (Http.hs:465-467). */
  def etag(h: Snapshot): Option[String] = h.mostRecentCheckpoint.map(_._2)

  /** R13 `cacheOr` (Http.hs:455-471): with a matching `if-none-match` tag
    * the response body is not computed at all — `None` = 304 Not Modified;
    * otherwise the fresh result comes back with the current ETag to set on
    * the response. */
  def cacheOr[A](h: Snapshot, ifNoneMatch: Option[String])(fresh: => A): Option[(Option[String], A)] =
    ifNoneMatch match {
      case Some(tag) if etag(h).contains(tag) => None
      case _                                  => Some((etag(h), fresh))
    }

  val Version = "graft-0.4.0"
}
