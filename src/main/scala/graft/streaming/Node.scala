package graft.streaming

import graft.index.GraftIndex
import graft.model.Pattern
import graft.query.Health
import org.apache.spark.sql.{Column, SparkSession}

/** The application run loop — the reference's `kupoWith`/producer-restart
  * composition (/root/reference/src/Kupo/App.hs:300-346 restart handshake,
  * /root/reference/app/Main.hs wiring of producer → mailbox → consumer →
  * health) re-expressed over the repo's own pieces: [[Resume]] negotiates
  * and aligns, [[StreamingIndexer]] drains, [[Health]] reports.
  *
  * Feeder contract: after `startFeeder(intersection)` the producer must
  * append its replay as NEW files under `inputDir` (the file-source
  * checkpoint has already consumed the old names); the first replayed
  * envelopes come from just after the intersection, exactly like the
  * chain-sync client streaming from a negotiated point. A crash anywhere —
  * including mid-rollback, which leaves checkpoints ahead of inputs —
  * re-enters `runOnce` and reconverges, because the negotiated intersection
  * is a point both sides agree on and the align step cuts every table back
  * to it. */
object Node {

  /** One full lifecycle turn: negotiate the intersection against the
    * producer's chain, align the index to it, let the feeder start its
    * replay, drain everything pending, and return the post-drain health
    * snapshot. `rewrite` is the per-line bridge for non-Ogmios feeds
    * (e.g. `HydraReader.ogmiosCol`). Every Spark job of the turn is named
    * by its phase: `graft.tick resume`, `graft.ingest parse` /
    * `materialize` / `reorg`, `graft.write <segment>`, `graft.tick health`. */
  def runOnce(spark: SparkSession, inputDir: String, ix: GraftIndex,
              patterns: Set[Pattern],
              findIntersect: Seq[Resume.Point] => Option[Resume.Point],
              since: Resume.Since = Resume.Since.Unspecified,
              fetchTip: () => Resume.Point = () => throw Resume.NoStartingPointException(),
              startFeeder: Resume.Point => Unit = _ => (),
              rewrite: Column => Column = identity,
              nodeTip: Option[Long] = None,
              lastBlockAtMs: Option[Long] = None,
              nowMs: Long = System.currentTimeMillis(),
              params: Option[Health.NetworkParameters] = None)
      : (Resume.Point, Health.Snapshot) = {
    val intersection = GraftIndex.describedAs(spark, "graft.tick resume")(
      Resume.resume(ix, findIntersect, since, fetchTip))
    startFeeder(intersection)
    StreamingIndexer.runAvailableNow(spark, inputDir, ix, patterns, rewrite)
    (intersection, GraftIndex.describedAs(spark, "graft.tick health")(
      Health.snapshot(ix, Health.ConnectionStatus.Connected,
        nodeTip, lastBlockAtMs, nowMs, params)))
  }
}
