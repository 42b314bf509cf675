package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-round benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  * Results are forced with a noop-format write so the full plan executes
  * (a bare count() would let Spark skip projections).
  *
  * The line also carries `calibration` — fixed CPU probes timed on THIS
  * host, single-threaded and one-per-core — so a reader can tell engine
  * regressions from host contention: round 2's driver run measured the
  * identical binary ~5× slower than a clean re-run purely from co-tenant
  * load. If the probes are inflated vs a quiet host, scale expectations
  * accordingly; the query numbers alone can't show that. */
object Bench {

  /** Fixed work unit: 200M xorshift64 steps, ~0.2-0.5 s on a quiet core.
    * Deterministic, allocation-free, unaffected by JIT profile shape. */
  private def spin(): Long = {
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  /** Cumulative JVM GC milliseconds across all collectors — deltas around a
    * timed section attribute slowdowns to collection pressure vs plan work. */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  private val debug = sys.env.contains("SPARK_GRAFT_BENCH_DEBUG")

  /** Committed per-query artifact path — the bench must be SELF-EVIDENCING
    * (round-8 lesson: the driver keeps only a truncated stdout tail, which
    * dropped per-query numbers for 94 of 115 queries and left the
    * round-over-round story resting on prose). The full JSON line is
    * written to `bench/full_r<N>.json` (N inferred as 1 + the newest
    * committed BENCH_r*.json, overridable via SPARK_GRAFT_BENCH_OUT) and
    * mirrored at `bench/full_latest.json`; both live in-repo so the
    * end-of-round commit preserves every query's number regardless of
    * what survives in stdout. */
  private def artifactPaths(): Seq[java.nio.file.Path] = {
    sys.env.get("SPARK_GRAFT_BENCH_OUT") match {
      case Some(p) => Seq(java.nio.file.Paths.get(p))
      case None =>
        val re = """BENCH_r(\d+)\.json""".r
        val prior = Option(new java.io.File(".").list()).toSeq.flatten.collect {
          case re(n) => n.toInt
        }
        val round = if (prior.isEmpty) 0 else prior.max + 1
        Seq(java.nio.file.Paths.get("bench", f"full_r$round%02d.json"),
          java.nio.file.Paths.get("bench", "full_latest.json"))
    }
  }

  /** Cached-RDD storage report (stderr, debug runs only): whether the shared
    * artifacts stayed fully cached or were evicted/spilled between the warm
    * pass and the timed section. */
  private def dumpStorage(spark: SparkSession, label: String): Unit = if (debug) {
    val infos = spark.sparkContext.getRDDStorageInfo
    System.err.println(s"[bench-debug] storage @$label: ${infos.length} cached RDDs, " +
      f"mem=${infos.map(_.memSize).sum / 1e6}%.1fMB disk=${infos.map(_.diskSize).sum / 1e6}%.1fMB")
    infos.sortBy(-_.memSize).foreach { i =>
      System.err.println(f"[bench-debug]   ${i.name} parts=${i.numCachedPartitions}/${i.numPartitions} " +
        f"mem=${i.memSize / 1e6}%.1fMB disk=${i.diskSize / 1e6}%.1fMB")
    }
  }

  private def probeSingle(): Double = {
    val t0 = System.nanoTime()
    if (spin() == 42L) System.out.print("") // defeat dead-code elimination
    (System.nanoTime() - t0) / 1e9
  }

  /** One spin per core, concurrently: wall time ≈ the single probe on an
    * idle host; inflates with co-tenant load / cgroup throttling. */
  private def probeParallel(spark: SparkSession, n: Int): Double = {
    val t0 = System.nanoTime()
    spark.sparkContext.parallelize(1 to n, n)
      .foreach(_ => if (spin() == 42L) System.out.print(""))
    (System.nanoTime() - t0) / 1e9
  }

  /** The warm every timed measurement starts from, shared with
    * `tools/Probe`: JVM/codegen warmup so per-query numbers measure the
    * plan, not first-call JIT + classloading; the kupo index builds here
    * too — the reference's published numbers are queries against an
    * ALREADY-SYNCED index (the reference's benchmarks/README.md:33-47), so
    * query timings exclude the one-time ingest, exactly as a deployment
    * experiences them — and the LSH artifacts (shingle sets, signatures,
    * candidate pairs) are likewise ingest-time index builds shared by the
    * whole query family.
    *
    * Then one untimed pass over `queries` in the given order: it pins
    * shared-artifact materialization to a FIXED sequence regardless of
    * which queries exist (round 4's q_f6/q_fingerprint wobble correlated
    * with a new query shifting first-touch order), and JITs each query's
    * generated code before its clock starts. */
  def warm(spark: SparkSession, sfDir: String,
           queries: Seq[(String, (SparkSession, String) => DataFrame)]): Unit = {
    SparkEntry.queries.get("q_r1_count")
      .foreach(fn => fn(spark, sfDir).write.format("noop").mode("overwrite").save())
    graft.queries.KupoPipelineQueries.buildIndex(spark, sfDir)
    graft.queries.LlmQueries.warm(spark, sfDir)
    System.err.println("[bench] artifact build wall s (nested builds and waits included): " +
      graft.queries.ArtifactStore.buildSeconds(sfDir).map { case (k, t) => f"$k $t%.2f" }.mkString(", "))
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[bench] warm $name failed: $e") }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    val spark = Session(cpus)
    warm(spark, sfDir, SparkEntry.queries.toSeq.sortBy(_._1))

    dumpStorage(spark, "after-warm")

    // host calibration before the timed section (and again after: load can
    // arrive mid-run). spin() once untimed to JIT the loop itself.
    spin()
    val stPre = probeSingle()
    val mtPre = probeParallel(spark, cpus)

    // three timed executions per query, best-of reported: the reference's
    // baseline is averaged over repeated requests against a warm server
    // (/root/reference/benchmarks/README.md:41-42), so the comparable
    // number is steady-state, not first-execution-with-JIT; best-of-3
    // additionally sheds transient co-tenant spikes
    //
    // DRIFT ATTRIBUTION (four rounds of hand-reconstructed load-window
    // analysis motivated this): a fixed single-thread CPU probe is
    // interleaved every `probeEvery` queries, and every query records its
    // wall-clock offset, GC delta, and per-run times. A slow query whose
    // nearest probes are inflated sits in a host-load window; clean probes
    // around a slow query mean the engine changed. Contiguous slow blocks
    // are visible directly from the wall offsets.
    val probeEvery = 15
    val gcTimedStart = gcMillis()
    val wallStart = System.nanoTime()
    // each probe point takes BOTH spins: the single-thread spin catches
    // whole-host slowdowns, but a co-tenant pinning most-but-not-all cores
    // is invisible to it (measured: a 24-of-32-core hog inflated queries
    // ~2.5× while the single probe read 1.13 — the queries run 32-way and
    // compete, a lone spin still gets a core). The one-spin-per-core probe
    // collapses exactly then. ~0.5 s per point, ~5 s per run — the price
    // of in-band contention evidence for both load shapes.
    val probes = scala.collection.mutable.ArrayBuffer[(Int, Double, Double, Double)]()
    def takeProbe(idx: Int): Unit = {
      val off = (System.nanoTime() - wallStart) / 1e9
      probes += ((idx, off, probeSingle(), probeParallel(spark, cpus)))
    }
    takeProbe(0)
    case class QRes(name: String, best: Double, runs: Seq[Double],
                    gcMs: Long, tOff: Double)
    val detail = SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex.map {
      case ((name, fn), idx) =>
        if (idx > 0 && idx % probeEvery == 0) takeProbe(idx)
        val gc0 = gcMillis()
        val tOff = (System.nanoTime() - wallStart) / 1e9
        val times = (0 until 3).map { _ =>
          val t0 = System.nanoTime()
          try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e") }
          (System.nanoTime() - t0) / 1e9
        }
        if (debug) System.err.println(
          f"[bench-debug] $name best=${times.min}%.3f all=${times.map(t => f"$t%.3f").mkString(",")} gcDelta=${gcMillis() - gc0}ms")
        QRes(name, times.min, times, gcMillis() - gc0, tOff)
    }
    takeProbe(detail.size)
    val results = detail.map(q => q.name -> q.best)

    dumpStorage(spark, "after-timed")

    val stPost = probeSingle()
    val mtPost = probeParallel(spark, cpus)

    val qs = results.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum

    // ROUND-OVER-ROUND ADJUDICATION, in-band (the benchmarks/stats.hs
    // spirit): compare this run against the newest committed
    // bench/full_r*.json on the COMMON query set. Whole-run totals drift
    // ±15% with host load, so the median ratio is the run-level scale
    // factor and each query's ratio is NORMALIZED by it — a normalized
    // mover ≥1.5× is an engine change, not drift. Emitted into the
    // artifact so the next reader adjudicates from the file alone.
    val vsPrev: Option[String] = {
      val re = """full_r(\d+)\.json""".r
      // never adjudicate against the file THIS run writes — a re-run would
      // otherwise compare against its own previous attempt, not the prior
      // round's committed record
      val own = artifactPaths().map(_.toString).toSet
      val prev = Option(new java.io.File("bench").list()).toSeq.flatten
        .collect { case n @ re(d) if !own.contains(s"bench/$n") => (d.toInt, n) }
        .sorted.lastOption
      prev.flatMap { case (_, name) =>
        try {
          val txt = new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get("bench", name)), java.nio.charset.StandardCharsets.UTF_8)
          // same SCALE FACTOR only (compare path basenames — the dirs may
          // differ): a local sf0.01 shakedown against the committed sf0.1
          // record would emit confidently-wrong cross-scale ratios
          val prevSf = """"sf":"([^"]+)"""".r.findFirstMatchIn(txt)
            .map(m => new java.io.File(m.group(1)).getName)
          val curSf = new java.io.File(sfDir).getName
          // the flat "queries" map ends at the first '}' after its start —
          // no nested objects inside it (query_detail's nested maps come later)
          val start = txt.indexOf("\"queries\":{")
          val end = txt.indexOf('}', start)
          val pairs = """"([^"]+)":([0-9.]+)""".r
            .findAllMatchIn(txt.substring(start + 10, end + 1))
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
          val common = results.filter { case (k, _) => pairs.contains(k) }
          if (!prevSf.contains(curSf) || common.size < 5) None
          else {
            val ratios = common.map { case (k, v) => k -> v / math.max(pairs(k), 1e-4) }
            val sortedR = ratios.map(_._2).sorted
            val median = sortedR(sortedR.size / 2)
            // SELF-ADJUDICATION UNDER LOAD: each mover is tagged with the
            // probe series interpolated at its wall offset, normalized by
            // the run's quietest probe. A slowdown whose window probes ran
            // >1.3× idle is host load, not engine — it moves to the
            // load_movers object (annotated, never hidden) and the movers
            // list stays engine-real. Speedups are kept regardless: load
            // cannot make a query faster. (Previously the reader had to
            // cross-reference probes/t_off by hand — r13's verdict did.)
            val probeBase = math.max(probes.map(_._3).min, 1e-9)
            val probeBaseMt = math.max(probes.map(_._4).min, 1e-9)
            def interpAt(pts: Seq[(Double, Double)], t: Double): Double =
              if (t <= pts.head._1) pts.head._2
              else if (t >= pts.last._1) pts.last._2
              else {
                val i = pts.lastIndexWhere(_._1 <= t)
                val (t0, p0) = pts(i); val (t1, p1) = pts(i + 1)
                p0 + (p1 - p0) * ((t - t0) / math.max(t1 - t0, 1e-9))
              }
            val ptsSt = probes.map(p => (p._2, p._3)).sortBy(_._1).toSeq
            val ptsMt = probes.map(p => (p._2, p._4)).sortBy(_._1).toSeq
            def loadRatioAt(t: Double): Double = interpAt(ptsSt, t) / probeBase
            def loadRatioMtAt(t: Double): Double = interpAt(ptsMt, t) / probeBaseMt
            // Second contention tell, complementary to the CPU probes (which
            // miss IO/memory-bandwidth pressure — measured: a mid-run window
            // inflated three queries 3-4× while probes read 1.09): post-warm
            // runs of an ENGINE change are flat, but a co-tenant spike decays
            // across the three timed runs. Monotone-decreasing runs with
            // first/best > 1.8 is that signature.
            def decayOf(k: String): Double =
              detail.find(_.name == k).map { q =>
                val r = q.runs
                if (r.size >= 3 && r(0) > r(1) && r(1) > r(2))
                  r.head / math.max(r.last, 1e-4)
                else 1.0
              }.getOrElse(1.0)
            val tagged = ratios
              .map { case (k, r) => (k, r / median) }
              .filter { case (_, nr) => nr >= 1.5 || nr <= 1.0 / 1.5 }
              .map { case (k, nr) =>
                val t = detail.find(_.name == k).map(_.tOff).getOrElse(0.0)
                (k, nr, loadRatioAt(t), loadRatioMtAt(t), decayOf(k)) }
              .sortBy { case (_, nr, _, _, _) => -math.abs(math.log(nr)) }
            val (loadMovers, engineMovers) =
              tagged.partition { case (_, nr, lr, mt, dc) =>
                nr > 1.0 && (lr > 1.3 || mt > 1.5 || dc > 1.8) }
            def moverJson(ms: Seq[(String, Double, Double, Double, Double)]) = ms.take(10)
              .map { case (k, nr, lr, mt, dc) =>
                f""""$k":{"cur":${common.find(_._1 == k).get._2}%.3f,"prev":${pairs(k)}%.3f,"norm_ratio":$nr%.2f,"load_ratio":$lr%.2f,"load_ratio_mt":$mt%.2f,"decay_ratio":$dc%.2f}""" }
              .mkString("{", ",", "}")
            Some(f"""{"artifact":"bench/$name","common_n":${common.size},"median_ratio":$median%.3f,"probe_base":$probeBase%.3f,"probe_base_mt":$probeBaseMt%.3f,"movers":${moverJson(engineMovers)},"load_movers":${moverJson(loadMovers)}}""")
          }
        } catch { case e: Throwable =>
          System.err.println(s"[bench] vs_prev against $name failed: $e"); None }
      }
    }
    val vsPrevField = vsPrev.map(j => s""","vs_prev":$j""").getOrElse("")
    val vsPrevMedian = vsPrev.flatMap(j =>
      """"median_ratio":([0-9.]+)""".r.findFirstMatchIn(j).map(_.group(1)))
    val calibration =
      f"""{"single_thread_sec":$stPre%.3f,"parallel_sec":$mtPre%.3f,""" +
        f""""single_thread_sec_post":$stPost%.3f,"parallel_sec_post":$mtPost%.3f,""" +
        f""""cores":$cpus,"runs_per_query":3,"reported":"best"}"""
    // engine-health evidence alongside the timings: total GC seconds inside
    // the timed section and cached-artifact footprint after the warm pass.
    // Added while root-causing round 6's 3.5-5× outliers on four queries:
    // a clean same-commit re-run measured all four at round-5 levels with
    // 42 MB cached / zero disk spill / <0.1 s GC per query, disproving the
    // artifact-eviction hypothesis — the outliers were transient host
    // contention in that one run, invisible to the CPU spin probes.
    val storageMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
    val gcSec = (gcMillis() - gcTimedStart) / 1e3
    // Self-describing, round-agnostic notes: per-round narrative analysis
    // lives in SCALE.md next to the recorded runs, never hardcoded here
    // (the r10 artifact shipped carrying r9's prose — this field now only
    // explains how to read the drift-attribution fields of THIS run).
    val notes = "Drift attribution is in-band: probes = interleaved CPU spins " +
      "[query_idx, wall_off_sec, single_thread_sec, per_core_parallel_sec] " +
      "taken every " + probeEvery + " queries plus both endpoints (the " +
      "parallel spin catches partial-core co-tenants the single spin " +
      "cannot); query_detail = " +
      "per-query {best, runs(3), gc_ms, t_off}. Classify a slow query by its " +
      "surrounding probes: inflated probes = host-load window (expect a " +
      "CONTIGUOUS t_off block of movers), clean probes + slow query = engine " +
      "change. vs_prev movers are pre-adjudicated: each carries load_ratio / " +
      "load_ratio_mt (single-thread and per-core probe series interpolated " +
      "at its t_off, each over its run minimum) and decay_ratio (first/best " +
      "across the 3 runs when monotone decreasing — the tell for a co-tenant " +
      "that ends mid-window); slowdowns with load_ratio > 1.3, load_ratio_mt " +
      "> 1.5, or decay_ratio > 1.8 sit in vs_prev.load_movers, not movers. Compare " +
      "rounds on the common query set by median ratio, never raw totals " +
      "(documented +-15% host drift). Narrative history: SCALE.md."
    val probesJson = probes.map { case (i, off, p, mt) =>
      f"""[$i,$off%.1f,$p%.3f,$mt%.3f]""" }.mkString("[", ",", "]")
    val detailJson = detail.map { q =>
      f""""${q.name}":{"best":${q.best}%.3f,"runs":[${q.runs.map(t => f"$t%.3f").mkString(",")}],"gc_ms":${q.gcMs},"t_off":${q.tOff}%.1f}"""
    }.mkString("{", ",", "}")
    val core = f""""metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","calibration":$calibration,"gc_sec":$gcSec%.3f,"storage_mb":$storageMb%.1f"""
    val line = s"""{$core$vsPrevField,"probes":$probesJson,"query_detail":$detailJson,"notes":"$notes"}"""
    val paths = artifactPaths()
    // stdout gets a TINY contract line — total + the six BASELINE.md-
    // comparable headline shapes only, NEVER the 135-entry per-query map:
    // the driver keeps a truncated stdout tail and even the "compact"
    // line with the full map (~3.5 KB) out-truncated it three rounds
    // running (BENCH_r9/r10/r11 `parsed: null`). Everything else lives in
    // the committed artifact, whose REAL path (not a hardcoded mirror
    // name: under SPARK_GRAFT_BENCH_OUT only the override is written)
    // rides along in full_artifact.
    val headline = Seq("q_kupo_resolve_hashes", "q_kupo_fold_inputs",
      "q_kupo_policy", "q_kupo_asset_residual", "q_kupo_count_by_payment",
      "q_kupo_outref")
    val headlineQs = results.filter(r => headline.contains(r._1))
      .map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }.mkString("{", ",", "}")
    val vsPrevSummary = vsPrevMedian.map(m => s""","vs_prev_median_ratio":$m""").getOrElse("")
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","n":${results.size},"sf":"$sfDir","queries":$headlineQs$vsPrevSummary,"full_artifact":"${paths.head}"}""")
    paths.foreach { p =>
      try {
        Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.write(p, (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        System.err.println(s"[bench] full per-query artifact: $p")
      } catch { case e: Throwable => System.err.println(s"[bench] artifact write $p failed: $e") }
    }
    spark.stop()
  }
}
