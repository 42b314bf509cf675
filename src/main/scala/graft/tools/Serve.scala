package graft.tools

import graft.index.GraftIndex
import graft.model.Pattern
import graft.query.{Health, HttpApi, KupoHttpServer}
import graft.streaming.{Node, Resume}
import org.apache.spark.sql.SparkSession

/** The `kupo` BINARY analogue — one process wiring producer → mailbox →
  * indexer → HTTP, the composition the reference's Main/App run
  * (/root/reference/app/Main.hs, src/Kupo/App.hs:300-404):
  *
  *   - block source: a directory of Ogmios-format JSONL files (the S2
  *     producer shape; the S1 socket path feeds the same directory via
  *     [[graft.streaming.NodeClient]] + `BlockCbor.blockToOgmios` — see
  *     scaladoc there), drained by the exactly-once streaming indexer;
  *   - query side: the full HTTP router ([[graft.query.HttpApi]]) on the
  *     JDK listener, served CONCURRENTLY with ingestion off the same
  *     index (readers pin manifest snapshots, so a commit mid-query is
  *     invisible);
  *   - lifecycle: negotiate-align-drain turns ([[Node.runOnce]]) on a
  *     fixed cadence until the tick budget or a stop file ends the run.
  *
  * Usage (library: [[serve]]; CLI: `runMain graft.tools.Serve`):
  * {{{
  *   --workdir DIR    index location (created if absent)
  *   --input DIR      Ogmios JSONL input directory
  *   --port N         HTTP port (default 1442; 0 = ephemeral)
  *   --patterns CSV   patterns to install on an empty index (default "*")
  *   --since SLOT     first boot --since slot (default origin)
  *   --ticks N        drain turns to run, -1 = until <workdir>/STOP exists
  *   --tick-ms N      pause between turns (default 2000)
  * }}} */
object Serve {

  final case class Config(
      workDir: String,
      inputDir: String,
      port: Int = 1442,
      patterns: Set[Pattern] = Set(Pattern.MatchAny(includingBootstrap = true)),
      /** "origin" or "SLOT.HEADERHASH" — kupo's --since grammar. */
      since: Option[String] = None,
      ticks: Int = -1,
      tickMs: Long = 2000L)

  /** One running service: the index, the live HTTP server, and a handle
    * that drives drain turns (call [[Running.tick]] per turn, [[Running.close]]
    * to stop serving). */
  final class Running(val ix: GraftIndex,
                      val server: com.sun.net.httpserver.HttpServer,
                      spark: SparkSession, cfg: Config) {
    def port: Int = server.getAddress.getPort

    /** One negotiate-align-drain lifecycle turn over whatever landed in
      * the input directory; returns the post-drain health snapshot. */
    def tick(): Health.Snapshot = {
      // --since only steers the FIRST boot (an indexed chain resumes from
      // its own checkpoints, like the reference)
      val indexed = GraftIndex.describedAs(spark, "graft.tick resume")(
        graft.query.FoldInputs.maxCheckpoint(ix).isDefined)
      val since =
        if (indexed) Resume.Since.Unspecified
        else cfg.since.map {
          case "origin" => Resume.Since.FromPoint(Resume.Point(-1L, "origin"))
          case s => s.split("\\.", 2) match {
            case Array(slot, hash) =>
              Resume.Since.FromPoint(Resume.Point(slot.toLong, hash))
            case _ => sys.error(s"--since needs origin or SLOT.HEADERHASH: $s")
          }
        }.getOrElse(Resume.Since.Unspecified)
      val (_, health) = Node.runOnce(spark, cfg.inputDir, ix, cfg.patterns,
        // file feed: no remote chain to negotiate with — accept our own
        // most recent candidate (the socket path wires NodeClient here)
        findIntersect = _.headOption,
        since = since)
      health
    }

    def close(): Unit = server.stop(0)
  }

  /** Boot the service: open (or create) the index, install patterns on an
    * empty one, start the listener, return the running handle. */
  def serve(spark: SparkSession, cfg: Config): Running = {
    val ix = new GraftIndex(spark, cfg.workDir)
    if (graft.ingest.Indexer.getPatterns(ix).isEmpty)
      graft.ingest.Indexer.setPatterns(ix, cfg.patterns)
    val api = new HttpApi(ix,
      blocks = () => graft.ingest.BlockReader.readJsonl(spark, cfg.inputDir)._1,
      readHealth = () => Health.snapshot(ix, Health.ConnectionStatus.Connected))
    val server = KupoHttpServer.start(api, cfg.port)
    new Running(ix, server, spark, cfg)
  }

  def main(args: Array[String]): Unit = {
    val cfg = parseArgs(args.toList)
    val spark = graft.Session()
    val running = serve(spark, cfg)
    println(s"serving on http://127.0.0.1:${running.port} over ${cfg.workDir}")
    val stopFile = java.nio.file.Paths.get(cfg.workDir, "STOP")
    try {
      var n = 0
      while ((cfg.ticks < 0 && !java.nio.file.Files.exists(stopFile)) ||
             (cfg.ticks >= 0 && n < cfg.ticks)) {
        val h = running.tick()
        println(s"tick $n: checkpoint=${h.mostRecentCheckpoint.map(_._1)}")
        n += 1
        if (cfg.ticks < 0 || n < cfg.ticks) Thread.sleep(cfg.tickMs)
      }
    } finally {
      running.close()
      spark.stop()
    }
  }

  private def parseArgs(args: List[String]): Config = {
    def loop(rest: List[String], cfg: Config): Config = rest match {
      case "--workdir" :: v :: t  => loop(t, cfg.copy(workDir = v))
      case "--input" :: v :: t    => loop(t, cfg.copy(inputDir = v))
      case "--port" :: v :: t     => loop(t, cfg.copy(port = v.toInt))
      case "--patterns" :: v :: t =>
        loop(t, cfg.copy(patterns = v.split(",").map(p =>
          Pattern.fromText(p).getOrElse(
            sys.error(s"invalid pattern: $p"))).toSet))
      case "--since" :: v :: t    => loop(t, cfg.copy(since = Some(v)))
      case "--ticks" :: v :: t    => loop(t, cfg.copy(ticks = v.toInt))
      case "--tick-ms" :: v :: t  => loop(t, cfg.copy(tickMs = v.toLong))
      case Nil                    => cfg
      case other                  => sys.error(s"unrecognized arguments: $other")
    }
    val cfg = loop(args, Config(workDir = "", inputDir = ""))
    require(cfg.workDir.nonEmpty && cfg.inputDir.nonEmpty,
      "both --workdir and --input are required")
    cfg
  }
}
