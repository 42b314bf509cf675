package kbench

import graft.index.{GraftIndex, PatternManager}
import graft.query.{Api, FoldInputs, ResponseStream}

import Model._

/** Per-layer figures for HTTP reads. The HTTP server's threads carry no
  * span, so the library calls behind a traced request are made again on
  * the harness's thread (a replay), inside spans. */
object Reads {
  final case class Replay(q: Query, http: Http.Reply, foldMs: Double, foldJobs: Long, bodyMs: Double, rows: Long,
                          manifestMs: Double, probeMs: Double, probeJobs: Long, probeFiles: Int,
                          keyPresent: Boolean, files: Int, work: Trace.Work)

  /** Median Spark work per operation, from spans. */
  def sparkPerOp(layer: Main.Metrics, ws: collection.Seq[Trace.Work]): Unit = {
    def med(f: Trace.Work => Double) = if (ws.isEmpty) 0.0 else Stats.median(ws.map(f))
    layer("spark.jobs") = (med(_.jobs.toDouble), "count")
    layer("spark.tasks") = (med(_.tasks.toDouble), "count")
    layer("spark.task_s") = (med(_.taskMs / 1e3), "s")
    layer("spark.sched_delay_ms") = (med(_.schedDelayMs.toDouble), "ms")
    layer("spark.input_bytes") = (med(_.inputBytes.toDouble), "bytes")
    layer("spark.shuffle_bytes") = (med(_.shuffleBytes.toDouble), "bytes")
  }

  /** The library calls behind one request, made again inside spans after
    * the timed reads, one at a time, so each layer's time and Spark work
    * are attributed exactly. */
  def replay(t: Trace, ix: GraftIndex, req: Long, q: Query, http: Http.Reply, keyPresent: Boolean): Replay = {
    var fold, body, probe, manifest: Option[Trace.Span] = None
    var rows = 0L
    var files, probeFiles = 0
    val (_, root) = t.span("request", req) {
      fold = Some(q match {
        case m: Matches =>
          manifest = Some(t.span("index.manifest_read")(ix.manifest)._2)
          m.pat match {
            case Pat.TxId(tx) =>
              val (df, s) = t.span("index.key_probe")(ix.tableKeyPoint("inputs", "tx_id", tx))
              probe = Some(s); probeFiles = segments(df.inputFiles)
            case _ => ()
          }
          val (df, s) = t.span("query.fold")(FoldInputs(ix, toApi(m)))
          files = segments(df.inputFiles)
          val sink = new java.io.Writer {
            def write(c: Array[Char], o: Int, n: Int): Unit = ()
            def flush(): Unit = (); def close(): Unit = ()
          }
          val (n, b) = t.span("query.body")(ResponseStream.writeJsonArray(df, sink, inlineAll = false))
          rows = n; body = Some(b)
          s
        case CheckpointAt(s) => t.span("query.fold")(PatternManager.getCheckpointBySlot(ix, s, strict = true))._2
        case Checkpoints     => t.span("query.fold")(FoldInputs.listCheckpointsDesc(ix).collect())._2
      })
    }
    def ms(s: Option[Trace.Span]) = s.map(_.ms).getOrElse(0.0)
    def jobs(s: Option[Trace.Span]) = s.map(t.work(_).jobs).getOrElse(0L)
    Replay(q, http, ms(fold), jobs(fold), ms(body), rows, ms(manifest), ms(probe), jobs(probe),
      probeFiles, keyPresent, files, t.work(root))
  }

  /** Per-layer read metrics from replayed requests. */
  def readLayers(layer: Main.Metrics, replays: collection.Seq[Replay]): Unit = {
    val matchReplays = replays.filter(_.q.isInstanceOf[Matches])
    val probes = replays.filter(_.probeFiles > 0)
    def med(xs: collection.Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def mean(xs: collection.Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    layer("query.fold_ms") = (med(replays.map(_.foldMs)), "ms")
    layer("query.fold_jobs") = (med(replays.map(_.foldJobs.toDouble)), "count")
    // the request's HTTP time minus its replay's fold and body: two
    // executions of the same calls, so an estimate of the server's own share
    layer("query.serve_ms") = (med(replays.map(rp => rp.http.ms - rp.foldMs - rp.bodyMs)), "ms")
    layer("query.body_ms") = (med(matchReplays.map(_.bodyMs)), "ms")
    layer("query.body_rows_per_s") =
      (matchReplays.map(_.rows).sum / math.max(1e-9, matchReplays.map(_.bodyMs).sum / 1e3), "rows/s")
    layer("query.rows_per_request") = (mean(matchReplays.map(_.rows.toDouble)), "count")
    layer("query.bytes_per_request") = (mean(matchReplays.map(_.http.bytes.toDouble)), "bytes")
    layer("index.manifest_read_ms") = (med(matchReplays.map(_.manifestMs)), "ms")
    layer("index.key_probe_ms") = (med(probes.map(_.probeMs)), "ms")
    layer("index.key_probe_jobs") = (med(probes.map(_.probeJobs.toDouble)), "count")
    layer("index.files_per_request") = (mean(matchReplays.map(_.files.toDouble)), "count")
    layer("index.bloom_useful_ratio") =
      (probes.count(_.keyPresent).toDouble / math.max(1, probes.map(_.probeFiles).sum), "ratio")
  }

  /** Distinct segment directories among a frame's input files. */
  private def segments(files: Array[String]): Int = files.map(f => f.substring(0, f.lastIndexOf('/'))).distinct.length

  def toApi(m: Matches): Api.MatchesQuery = Api.MatchesQuery(
    patternText = m.pat.text,
    order = if (m.oldestFirst) Api.SortDirection.Asc else Api.SortDirection.Desc)
}
