package kbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.tools.Serve
import org.apache.spark.sql.SparkSession

import Model._

/** `follow_tip`: the service `Serve.serve` starts, driven by
  * `Running.tick()` back to back. A pre-written Ogmios JSONL backlog is
  * drained first (catch-up); then an open-loop generator writes one block
  * file on a fixed schedule, with rollbacks, for half the run, and a final
  * drain commits the rest; then two closed-loop readers query the synced
  * index for the run's length. The index keeps ~50 credential and policy
  * patterns, not `*`.
  *
  * The readers do not run beside the commits, the shape `tools/Serve` runs
  * in: there a read that opens `manifest.json` while a commit rewrites it in
  * place answers HTTP 500 ("Checksum error"), and no operation of the
  * benchmark may fail. */
object Follow {
  /** Blocks drained in set-up, to warm the JIT. */
  val WarmBlocks = 20
  /** The catch-up backlog after them: forwards only, ten blocks a file. */
  val BacklogBlocks = 320
  val BacklogPerFile = 10
  val SyncParts = 3
  /** Fixed follow rate, blocks per second, one block a file. */
  val Rate = 3.0
  /** A rollback of depth 1-3 after every this many follow blocks. */
  val FollowRollbackEvery = 6
  val Readers = 2

  private def kindOf(q: Query): String = q match {
    case Matches(Pat.TxId(_), _) => "transaction"
    case _: Matches                          => "address"
    case _                                   => "checkpoint"
  }

  final case class Tick(startNs: Long, endNs: Long, tip: String, span: Option[Trace.Span])
  final case class Read(n: Long, q: Query, reply: Http.Reply, traced: Boolean)

  def run(spark: SparkSession, a: Main.Args, trace: Option[Trace]): Main.Outcome = {
    val scratch = Path.of(a.scratch)
    // the harness's own preparation (chain, model, request lists, first
    // feed file) is not the program's and is taken out of setup_s
    val prepT0 = System.nanoTime()
    val gen = new ChainGen(a.seed)
    val light = gen.stakeCreds.slice(gen.busyStake.size, gen.busyStake.size + 30)
    val patterns: Seq[Pat] = gen.busyStake.map(Pat.Stake) ++ light.map(Pat.Stake) ++
      gen.busyPay.flatten.map(Pat.Payment) ++ gen.policies.take(8).map(Pat.Policy)
    val model = new Model(patterns)

    // events with the tip each one leaves; blocks go to the model up front
    // (a block's state is only looked up once the index reports its tip)
    def tipOf(e: Chain.Event): String = e match {
      case Chain.Forward(b)     => b.header
      case Chain.Backward(_, h) => h
    }
    val backlog = gen.events(BacklogBlocks, 0)
    val followS = a.seconds / 2.0
    val follow = gen.events((followS * Rate).toInt, FollowRollbackEvery)
    (backlog ++ follow).foreach { case Chain.Forward(b) => model.add(b); case _ => () }
    // readers query addresses, and look up transactions (one in five
    // absent) and checkpoints of the backlog
    val backlogBlocks = backlog.collect { case Chain.Forward(b) => b }
    val backlogTxs = backlogBlocks.flatMap(_.txs.map(_.id))
    val addressQueries: Vector[Query] =
      (light.take(4).map(c => Matches(Pat.Stake(c))) ++ gen.busyPay.take(2).map(p => Matches(Pat.Payment(p(0))))).toVector
    // a fixed interleaving of request kinds (10 transaction : 7 address :
    // 3 checkpoint in every 20), each kind cycling through its own seeded
    // list, so the mix does not vary with the seed or the thread timing.
    // Sorted by latency the kinds fall checkpoint < transaction < address,
    // so the median sits inside the transaction lookups (the bloom path)
    // and the 90th percentile inside the address scans.
    val kinds = "tatctatatcatatatctat"
    val txQueries: Vector[Query] = Vector.fill(100)(Matches(Pat.TxId(
      if (gen.pick(5) == 0) gen.randomHex(32) else backlogTxs(gen.pick(backlogTxs.size)))))
    val checkpointQueries: Vector[Query] = Vector.fill(100)(
      CheckpointAt(backlogBlocks(gen.pick(backlogBlocks.size)).slot + (if (gen.pick(4) == 0) 1 else 0)))
    def readerQuery(n: Long): Query = {
      val pos = (n % kinds.length).toInt
      val k = kinds(pos)
      val ordinal = (n / kinds.length * kinds.count(_ == k) + kinds.take(pos).count(_ == k)).toInt
      k match {
        case 'a' => addressQueries(ordinal % addressQueries.size)
        case 't' => txQueries(ordinal % txQueries.size)
        case _   => checkpointQueries(ordinal % checkpointQueries.size)
      }
    }
    val indexedTxs = model.state(tipOf(backlog.last)).rows.map(_.txId).toSet
    def keyPresent(q: Query) = q match { case Matches(Pat.TxId(tx), _) => indexedTxs(tx); case _ => false }

    val feed = scratch.resolve("feed")
    Files.createDirectories(feed)
    var fileNo = 0
    var inputBytes = 0L
    // atomic publication: the file source ignores names starting with '.'
    def publish(events: Seq[Chain.Event]): Unit = {
      val name = f"$fileNo%06d.jsonl"
      val tmp = feed.resolve("." + name)
      Files.write(tmp, events.map(Chain.json).asJava)
      inputBytes += Files.size(tmp)
      Files.move(tmp, feed.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      fileNo += 1
    }
    val (warmPart, syncPart) = backlog.splitAt(WarmBlocks)
    publish(warmPart)
    val warmBytes = inputBytes
    val prepS = (System.nanoTime() - prepT0) / 1e9

    // set-up: boot the service, then warm the JIT with a first drain of
    // `WarmBlocks` blocks and one round of reads
    val stream = trace.map { _ =>
      val c = new StreamCounters(spark.sparkContext); spark.streams.addListener(c); c
    }
    val running = Serve.serve(spark, Serve.Config(workDir = scratch.resolve("index").toString,
      inputDir = feed.toString, port = 0, since = Some("origin"),
      patterns = patterns.map(p => graft.model.Pattern.fromText(p.text).get).toSet))
    running.tick()
    val warmReaders = (0 until Readers).map(r => new Thread(() =>
      (r until kinds.length by Readers).foreach(n => Http.get(running.port, readerQuery(n).path))))
    warmReaders.foreach(_.start()); warmReaders.foreach(_.join())
    val setupS = Main.sinceJvmStart() - prepS

    // every tick of a traced run is a span
    val ticks = mutable.ArrayBuffer.empty[Tick]
    def tick(): Tick = {
      val t0 = System.nanoTime()
      val (h, sp) = trace match {
        case Some(t) => val (h, s) = t.span("streaming.tick")(running.tick()); (h, Some(s))
        case None    => (running.tick(), None)
      }
      val tk = Tick(t0, System.nanoTime(), h.mostRecentCheckpoint.map(_._2).getOrElse(""), sp)
      ticks += tk
      tk
    }

    // catch-up: the backlog arrives in `SyncParts` parts, each drained
    // before the next is written; the rate is over all of them, which
    // averages out a single tick's noise
    var guard = 0
    val syncS = syncPart.grouped(syncPart.size / SyncParts).map { part =>
      part.grouped(BacklogPerFile).foreach(publish)
      val t0 = System.nanoTime()
      while (ticks.lastOption.forall(_.tip != tipOf(part.last))) {
        guard += 1
        require(guard <= 10 * SyncParts, "catch-up did not reach the backlog tip")
        tick()
      }
      (System.nanoTime() - t0) / 1e9
    }.sum
    val backlogForwards = syncPart.count(_.isInstanceOf[Chain.Forward])
    val backlogBytes = inputBytes - warmBytes
    val catchUpTicks = ticks.size

    // follow: open-loop writer, ticks back to back
    val written = new ConcurrentLinkedQueue[(Int, Long, Long)]() // event, due, written
    val followT0 = System.nanoTime() + 200000000L
    val perForward = (1e9 / Rate).toLong
    val writer = new Thread(() => {
      var k = 0
      follow.zipWithIndex.foreach { case (e, i) =>
        val due = followT0 + k * perForward
        e match { case _: Chain.Forward => k += 1; case _ => () }
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        publish(Seq(e))
        written.add((i, due, System.nanoTime()))
      }
    })
    writer.start()
    val followEnd = followT0 + (followS * 1e9).toLong
    while (System.nanoTime() < followEnd) tick()
    writer.join()
    // final drain: every written file committed
    val finalTip = tipOf(follow.last)
    guard = 0
    while (ticks.last.tip != finalTip) {
      guard += 1
      require(guard <= 10, "final drain did not reach the generator's tip")
      tick()
    }

    // reads on the synced index. A traced run makes the first half with its
    // listener off the bus and the second inside spans: the gap is what
    // tracing costs
    val stop = new AtomicBoolean(false)
    val tracing = new AtomicBoolean(false)
    val reads = new ConcurrentLinkedQueue[Read]()
    val sent = new AtomicLong(0)
    val readers = (0 until Readers).map { _ =>
      new Thread(() => while (!stop.get) {
        val n = sent.getAndIncrement()
        val q = readerQuery(n)
        val tr = trace.filter(_ => tracing.get)
        val reply = tr match {
          case Some(t) => t.span("http.read", n)(Http.get(running.port, q.path))._1
          case None    => Http.get(running.port, q.path)
        }
        reads.add(Read(n, q, reply, tr.isDefined))
      })
    }
    trace.foreach(_.detach())
    readers.foreach(_.start())
    val readT0 = System.nanoTime()
    Thread.sleep(a.seconds * 500L)
    trace.foreach { t => t.attach(); tracing.set(true) }
    Thread.sleep(a.seconds * 500L)
    stop.set(true); readers.foreach(_.join())
    val readEnd = System.nanoTime()
    val readList = reads.asScala.toVector.sortBy(_.n)
    // per-layer read figures: replays of the first traced reads, one cycle
    // of the request kinds, made one at a time after the timed reads
    val replays = trace.toSeq.flatMap(t => readList.filter(r => r.traced && r.reply.status == 200)
      .take(kinds.length).map(r => Reads.replay(t, running.ix, r.n, r.q, r.reply, keyPresent(r.q))))

    // ---- answers, checked after the run: every read against the model at
    // the final tip
    val writes = written.asScala.toVector
    val rollbackAt: Vector[Long] = writes.collect { case (i, _, at) if follow(i).isInstanceOf[Chain.Backward] => at }
    val finalState = model.state(finalTip)
    val digests = mutable.HashMap.empty[Query, String]
    def expected(q: Query): String = digests.getOrElseUpdate(q, Http.sha256(finalState.answer(q)))
    val readOk = readList.map(r => r.reply.status == 200 && r.reply.digest == expected(r.q))
    val wrongReads = readList.zip(readOk).collect { case (r, false) =>
      s"wrong read ${r.q.path} status ${r.reply.status} ${r.reply.error.take(300)}" }.take(5)
    // the full index after the final drain
    val fullQs = Seq(Matches(Pat.Any, oldestFirst = true), Checkpoints)
    val fullOk = fullQs.map { q =>
      val r = Http.get(running.port, q.path)
      r.status == 200 && r.digest == expected(q)
    }
    val segmentsLive = running.ix.manifest.tables.map { case (t, s) => t -> s.size }
    running.ix.vacuum(0L)
    val storedRatio = Main.duBytes(Path.of(running.ix.root)) / inputBytes.toDouble
    running.close()

    // ---- freshness: due time of each follow block → end of the tick
    // whose tip first has it on its chain
    val dueOf: Map[String, Long] = writes.collect {
      case (i, due, _) if follow(i).isInstanceOf[Chain.Forward] => tipOf(follow(i)) -> due
    }.toMap
    val committedAt = mutable.HashMap.empty[String, Long]
    ticks.drop(catchUpTicks).foreach { t =>
      model.state(t.tip).chainBlocks.foreach(b => if (!committedAt.contains(b.header)) committedAt(b.header) = t.endNs)
    }
    val freshMs = dueOf.toSeq.flatMap { case (h, due) => committedAt.get(h).map(at => (at - due) / 1e6) }
    val late = writes.map { case (_, due, at) => (at - due) / 1e6 }

    val attempted = readList.size + fullQs.size
    val failed = readOk.count(!_) + fullOk.count(!_)
    val syncRate = backlogForwards / syncS
    val p50 = Stats.median(freshMs); val p90 = Stats.pct(freshMs, 0.9)
    val readMs = readList.filterNot(_.traced).map(_.reply.ms)
    val readP50 = Stats.median(readMs); val readP90 = Stats.pct(readMs, 0.9)
    val e2e = Main.metrics("setup_s" -> (setupS, "s"), "throughput" -> (syncRate, "1/s"),
      "latency_p50_ms" -> (readP50, "ms"), "latency_p90_ms" -> (readP90, "ms"))
    val report = Main.metrics("setup_s" -> (setupS, "s"), "sync_blocks_per_s" -> (syncRate, "blocks/s"),
      "freshness_p50_ms" -> (p50, "ms"), "freshness_p90_ms" -> (p90, "ms"),
      "read_rps" -> (readOk.count(identity) / ((readEnd - readT0) / 1e9), "req/s"),
      "read_p50_ms" -> (readP50, "ms"), "read_p90_ms" -> (readP90, "ms"),
      "stored_bytes_per_input_byte" -> (storedRatio, "ratio"))
    val notes = Seq(
      f"harness preparation $prepS%.2f s (not in setup_s)",
      f"catch-up: $backlogForwards blocks in $syncS%.2f s over $catchUpTicks ticks",
      f"follow: ${dueOf.size} blocks at $Rate%.1f/s, ${ticks.size - catchUpTicks} ticks, ${readList.size} reads, " +
        f"${readOk.count(!_)} reads wrong, " +
        f"final index ${if (fullOk.forall(identity)) "equal to" else "DIFFERENT from"} the model",
      f"ticks: ${ticks.map(t => f"${(t.endNs - t.startNs) / 1e9}%.1f").mkString(" ")} s") ++ wrongReads ++ Seq(
      f"generator lateness p50 ${Stats.median(late)}%.1f ms, max ${late.maxOption.getOrElse(0.0)}%.1f ms") ++
      Stats.tail(readMs).map { case (p, v) => f"read_p$p%.1f_ms $v%.2f (n=${readMs.size})" } ++
      readList.groupBy(r => kindOf(r.q)).toSeq.sortBy(_._1).map { case (k, rs) =>
        f"reads $k: ${rs.size}, median ${Stats.median(rs.map(_.reply.ms))}%.1f ms" } ++
      Stats.tail(freshMs).map { case (p, v) => f"freshness_p$p%.1f_ms $v%.2f (n=${freshMs.size})" }

    val layer = Main.metrics("streaming.freshness_p50_ms" -> (p50, "ms"), "streaming.freshness_p90_ms" -> (p90, "ms"),
      "index.stored_bytes_per_input_byte" -> (storedRatio, "ratio"))
    trace.foreach { t =>
      Thread.sleep(500) // let the listener buses deliver the last events
      val traced = ticks.filter(_.span.isDefined)
      def work(tk: Tick) = t.work(tk.span.get)
      def med(xs: collection.Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      val prog = traced.map(tk => stream.flatMap(c => Option(c.bySpan.get(tk.span.get.id))).getOrElse((0L, 0L, 0L)))
      layer("streaming.tick_ms") = (med(traced.map(tk => (tk.endNs - tk.startNs) / 1e6)), "ms")
      layer("streaming.fixed_ms") = (med(traced.zip(prog).map { case (tk, p) => (tk.endNs - tk.startNs) / 1e6 - p._2 }), "ms")
      layer("streaming.add_batch_ms") = (med(prog.filter(_._3 > 0).map(_._1.toDouble)), "ms")
      val rbTicks = traced.filter(tk => rollbackAt.exists { at => at <= tk.startNs &&
        ticks.filter(_.endNs <= tk.startNs).lastOption.forall(_.startNs <= at) })
      layer("streaming.rollback_tick_ms") = (med(rbTicks.map(tk => (tk.endNs - tk.startNs) / 1e6)), "ms")
      layer("streaming.backlog_files") = (med(ticks.drop(catchUpTicks).map(tk =>
        writes.count { case (_, _, at) => at <= tk.startNs && ticks.filter(_.endNs <= tk.startNs).lastOption.forall(_.startNs <= at) }.toDouble)), "count")
      layer("streaming.generator_late_ms") = (Stats.pct(late, 0.9), "ms")
      layer("index.write_ms") = (med(traced.map(work(_).writeMs.toDouble)), "ms")
      layer("index.write_jobs") = (med(traced.map(work(_).writeJobs.toDouble)), "count")
      // over the catch-up, whose input is exactly the backlog
      layer("index.bytes_written_per_input_byte") =
        (ticks.take(catchUpTicks).map(work(_).bytesWritten).sum.toDouble / backlogBytes, "ratio")
      segmentsLive.foreach { case (tbl, n) => layer(s"index.segments_live.$tbl") = (n.toDouble, "count") }
      layer("ingest.match_ratio") = (finalState.rows.size.toDouble / finalState.seenOutputs, "ratio")
      layer("ingest.other_ms") = (med(traced.zip(prog).filter(_._2._3 > 0).map { case (tk, p) => p._1 - work(tk).writeMs.toDouble }), "ms")
      Reads.readLayers(layer, replays)
      Reads.sparkPerOp(layer, traced.map(work))
      val tracedReads = readList.filter(_.traced).map(_.reply.ms)
      layer("trace.overhead_latency_p50") = (Stats.median(tracedReads) / readP50 - 1, "ratio")
    }
    Main.Outcome(attempted.toLong, failed.toLong, e2e, layer, report, notes)
  }
}
