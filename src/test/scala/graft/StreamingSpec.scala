package graft

import graft.index.GraftIndex
import graft.model.Pattern
import graft.streaming.StreamingIndexer
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** S6 — Structured Streaming ingest with rollback barriers. */
class StreamingSpec extends SparkSpec {

  private val addr = {
    val onChain = "01" + ("11" * 28) + ("22" * 28)
    graft.codec.Bech32.encode("addr", graft.codec.Hex.decode(onChain).get)
  }

  private def fwd(slot: Long, n: Int) = {
    val txs = (0 until n).map { i =>
      s"""{"id":"${f"$slot%02d$i%02d" * 16}","spends":"inputs","inputs":[],
         |"outputs":[{"address":"$addr","value":{"ada":{"lovelace":${slot * 10 + i}}}}]}"""
        .stripMargin.replaceAll("\n", "")
    }.mkString(",")
    s"""{"jsonrpc":"2.0","method":"nextBlock","result":{"direction":"forward","block":{"id":"${f"$slot%064d"}","slot":$slot,"transactions":[$txs]},"tip":{"slot":999,"id":"${"0" * 64}"}}}"""
  }

  private def rollback(slot: Long) =
    s"""{"jsonrpc":"2.0","method":"nextBlock","result":{"direction":"backward","point":{"slot":$slot,"id":"${f"$slot%064d"}"},"tip":{"slot":999,"id":"${"0" * 64}"}}}"""

  private def writeFile(dir: String, name: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(dir, name),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))

  test("streaming ingest drains files; rollback file is a barrier; restart resumes") {
    val in = tmpDir("graft-stream-in")
    val ix = new GraftIndex(spark, tmpDir("graft-stream-ix"))
    val patterns = Set[Pattern](Pattern.MatchAny(includingBootstrap = true))

    // batch 1: forwards only
    writeFile(in, "000.jsonl", Seq(fwd(10, 2), fwd(20, 1)))
    StreamingIndexer.runAvailableNow(spark, in, ix, patterns)
    assert(ix.table("inputs").count() == 3)
    assert(ix.table("checkpoints").agg(max("slot_no")).head().getLong(0) == 20L)

    // batch 2 (new stream run, same checkpoint): rollback to 10, then replays
    writeFile(in, "001.jsonl", Seq(rollback(10)))
    writeFile(in, "002.jsonl", Seq(fwd(21, 2), fwd(30, 1)))
    StreamingIndexer.runAvailableNow(spark, in, ix, patterns)

    // rows created at slot 20 must be gone; replays at 21/30 present
    val slots = ix.table("inputs").select("created_at")
      .collect().map(_.getLong(0)).sorted
    assert(slots.sameElements(Array(10L, 10L, 21L, 21L, 30L)))
    assert(ix.table("checkpoints").agg(max("slot_no")).head().getLong(0) == 30L)

    // batch 3: already-consumed files are not reprocessed (checkpoint)
    StreamingIndexer.runAvailableNow(spark, in, ix, patterns)
    assert(ix.table("inputs").count() == 5)
  }

  test("streaming drain self-maintains: maxSegmentsPerTable tiers segments between batches") {
    val in = tmpDir("graft-stream-tier-in")
    val ix = new GraftIndex(spark, tmpDir("graft-stream-tier-ix"), vacuumGraceMs = 0L)
    val ctl = new GraftIndex(spark, tmpDir("graft-stream-tier-ctl"))
    val inCtl = tmpDir("graft-stream-tier-ctl-in")
    val patterns = Set[Pattern](Pattern.MatchAny(includingBootstrap = true))

    // eight single-block batches plus a mid-stream reorg; the maintained
    // index must never exceed the segment bound and must answer exactly
    // like the unmaintained control
    val feed = (1 to 4).map(i => Seq(fwd(i * 10L, 2))) ++
      Seq(Seq(rollback(30), fwd(31, 1))) ++
      (5 to 8).map(i => Seq(fwd(i * 10L, 1)))
    feed.zipWithIndex.foreach { case (lines, i) =>
      writeFile(in, f"$i%03d.jsonl", lines)
      StreamingIndexer.runAvailableNow(spark, in, ix, patterns,
        maxSegmentsPerTable = Some(2))
      assert(ix.manifest.tables.forall(_._2.size <= 2),
        s"batch $i: ${ix.manifest.tables.map { case (t, s) => t -> s.size }}")
      writeFile(inCtl, f"$i%03d.jsonl", lines)
      StreamingIndexer.runAvailableNow(spark, inCtl, ctl, patterns)
    }
    def state(i: GraftIndex) = i.inputsWithSpends
      .select("tx_id", "output_index", "created_at", "spent_at")
      .collect().map(_.toSeq).toSet
    assert(state(ix) == state(ctl), "maintained index diverged from the control")
    assert(ctl.manifest.tables("inputs").size > 2) // the bound did real work
    // zero-grace vacuum ran inside the drain: disk == manifest
    val onDisk = new java.io.File(ix.root, "inputs").listFiles().count(_.isDirectory)
    assert(onDisk == ix.manifest.tables("inputs").size, s"disk $onDisk")
  }

  test("forward→rollback→forward in one batch applies in chain order (net effect)") {
    val in = tmpDir("graft-stream-reorg-in")
    val ix = new GraftIndex(spark, tmpDir("graft-stream-reorg-ix"))
    val patterns = Set[Pattern](Pattern.MatchAny(includingBootstrap = true))
    writeFile(in, "000.jsonl", Seq(fwd(10, 2), fwd(20, 1)))
    StreamingIndexer.runAvailableNow(spark, in, ix, patterns)

    // forwards PRECEDING a rollback in the same batch must be erased, and
    // order must hold across files (name order) and within a file (line
    // order), including TWO rollback-delimited runs in one file:
    //   fwd 25 → rb 20 → replay 21,21,30       (25 erased)
    //   fwd 40 → fwd 50 → rb 45 → fwd 46 → rb 42 → fwd 43
    //   (50 erased by rb 45; 46 erased by the later rb 42; 40 and 43 live)
    writeFile(in, "001.jsonl", Seq(fwd(25, 1)))
    writeFile(in, "002.jsonl", Seq(rollback(20), fwd(21, 2), fwd(30, 1)))
    writeFile(in, "003.jsonl", Seq(
      fwd(40, 1), fwd(50, 1), rollback(45), fwd(46, 1), rollback(42), fwd(43, 1)))
    StreamingIndexer.runAvailableNow(spark, in, ix, patterns)

    val slots = ix.table("inputs").select("created_at")
      .collect().map(_.getLong(0)).sorted
    assert(slots.sameElements(Array(10L, 10L, 20L, 21L, 21L, 30L, 40L, 43L)),
      s"got ${slots.mkString(",")}")
    // erased forwards leave no checkpoints either
    val cps = ix.table("checkpoints").select("slot_no")
      .collect().map(_.getLong(0)).toSet
    assert(!cps.exists(Set(25L, 46L, 50L)), s"erased checkpoints leaked: $cps")
    assert(ix.table("checkpoints").agg(max("slot_no")).head().getLong(0) == 43L)
  }

  test("watermarked hourly windows emit closed windows and drop late data") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStreams
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-06-01 $h%02d:$m%02d:00")
    val ms = MemoryStream[(java.sql.Timestamp, String, Long, Double)]
    val windows = EventStreams.hourlyWindows(
      ms.toDF.toDF("ts", "event_type", "user_id", "value"))
    val q = windows.writeStream.format("memory").queryName("hourly")
      .outputMode("append").start()
    try {
      // hour 09: three events, two users
      ms.addData((ts(9, 5), "view", 1L, 1.0), (ts(9, 20), "view", 2L, 2.0),
        (ts(9, 40), "buy", 1L, 3.5))
      q.processAllAvailable()
      // advancing past 10:30 closes hour 09 (watermark = max ts − 30 min)
      ms.addData((ts(11, 0), "view", 3L, 1.0))
      q.processAllAvailable()
      val out = spark.table("hourly")
        .select(col("window.start"), col("event_type"), col("n_events"), col("value_milli"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3)))
      assert(out.toSet == Set((ts(9, 0), "view", 2L, 3000L), (ts(9, 0), "buy", 1L, 3500L)))
      // a straggler inside the watermarked-out hour is dropped, not re-emitted
      ms.addData((ts(9, 50), "view", 9L, 9.0))
      q.processAllAvailable()
      assert(spark.table("hourly").count() == 2)
    } finally q.stop()
  }

  test("streaming ingest dedup: duplicates dropped within horizon, state evicted after") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStreams
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-06-01 $h%02d:$m%02d:00")
    val ms = MemoryStream[(java.sql.Timestamp, Long, String)]
    val deduped = EventStreams.dedupStream(
      ms.toDF.toDF("ts", "doc_id", "text"), horizon = "1 hour")
    val q = deduped.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      // in-batch duplicate (docs 1/2 identical) + distinct doc 3
      ms.addData((ts(9, 0), 1L, "same text"), (ts(9, 10), 2L, "same text"),
        (ts(9, 20), 3L, "other text"))
      q.processAllAvailable()
      def ids = spark.table("dedup").select("doc_id").as[Long].collect().toSet
      assert(ids == Set(1L, 3L))
      // cross-batch duplicate inside the horizon is still dropped
      ms.addData((ts(9, 30), 4L, "same text"))
      q.processAllAvailable()
      assert(ids == Set(1L, 3L))
      // advance event time far past the horizon: state for old hashes is
      // evicted, so a much-later re-occurrence passes (the documented
      // bounded-state contract)
      ms.addData((ts(14, 0), 5L, "unrelated"))
      q.processAllAvailable()
      ms.addData((ts(14, 30), 6L, "same text"))
      q.processAllAvailable()
      assert(ids == Set(1L, 3L, 5L, 6L))
    } finally q.stop()
  }

  test("stateful sessionization closes sessions on gap, exactly once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStreams
    import graft.streaming.EventStreams.{SessionEvent, SessionOut}
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val gap = 1800L * 1000000000L // 30 min in nanos
    val ms = MemoryStream[SessionEvent]
    val sessions = EventStreams.sessionize(ms.toDS(), gap)
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // user 1: two events 10 min apart (one session), user 2: one event
      ms.addData(SessionEvent(1L, 100L, 0L), SessionEvent(1L, 101L, 600L * 1000000000L),
        SessionEvent(2L, 200L, 0L))
      q.processAllAvailable()
      assert(spark.table("sessions").count() == 0) // nothing closed yet
      // user 1 returns after the gap: session 1 closes, session 2 opens
      ms.addData(SessionEvent(1L, 102L, 3 * 3600L * 1000000000L))
      q.processAllAvailable()
      val out = spark.table("sessions").as[SessionOut].collect().toSet
      assert(out == Set(SessionOut(1L, 1L, 2L, 100L, 101L)))
      // the same close is never re-emitted on later batches
      ms.addData(SessionEvent(2L, 201L, 3 * 3600L * 1000000000L))
      q.processAllAvailable()
      assert(spark.table("sessions").count() == 2) // user 1 s1 + user 2 s1
    } finally q.stop()
  }

  test("streaming funnel: conversion emitted once, cross-batch, late view lowers start") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStreams
    import graft.streaming.EventStreams.{FunnelEvent, FunnelOut}
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[FunnelEvent]
    val conv = EventStreams.funnelStream(ms.toDS(), "view", "purchase")
    val q = conv.writeStream.format("memory").queryName("funnel_stream")
      .outputMode("append").start()
    try {
      // batch 1: user 1 views; a pre-view purchase must not convert
      ms.addData(FunnelEvent(1L, "purchase", 50L), FunnelEvent(1L, "view", 100L),
        FunnelEvent(2L, "view", 200L))
      q.processAllAvailable()
      assert(spark.table("funnel_stream").count() == 0)
      // batch 2: user 1 converts (cross-batch); an EARLIER view arriving
      // late for unconverted user 2 lowers the stored start
      ms.addData(FunnelEvent(1L, "purchase", 150L), FunnelEvent(2L, "view", 120L))
      q.processAllAvailable()
      assert(spark.table("funnel_stream").as[FunnelOut].collect().toSet ==
        Set(FunnelOut(1L, 100L, 150L)))
      // batch 3: user 2 converts against the lowered start; user 1's second
      // purchase is NOT re-emitted (exactly-once output)
      ms.addData(FunnelEvent(2L, "purchase", 130L), FunnelEvent(1L, "purchase", 999L))
      q.processAllAvailable()
      assert(spark.table("funnel_stream").as[FunnelOut].collect().toSet ==
        Set(FunnelOut(1L, 100L, 150L), FunnelOut(2L, 120L, 130L)))
      // batch 4: purchase arrives BEFORE the view in the batch but shares
      // its timestamp — the batch funnel's `ts >= from_ts` converts on
      // equality, so the in-batch order must put the view first
      ms.addData(FunnelEvent(3L, "purchase", 300L), FunnelEvent(3L, "view", 300L))
      q.processAllAvailable()
      assert(spark.table("funnel_stream").as[FunnelOut].collect().toSet ==
        Set(FunnelOut(1L, 100L, 150L), FunnelOut(2L, 120L, 130L),
          FunnelOut(3L, 300L, 300L)))
    } finally q.stop()
  }

  test("incremental IVF-PQ index append: map-only per batch, readers see new vectors") {
    import graft.llm.Similarity
    import spark.implicits._
    def vec(xs: Double*) = xs.map(_.toFloat).toArray
    // two orthogonal-ish centroids and a fixed residual codebook (m=2, subDim=4)
    val centroids = Seq(
      (1L, vec(1, 0, 0, 0, 0, 0, 0, 0)), (2L, vec(0, 0, 0, 0, 1, 0, 0, 0))
    ).toDF("centroid_id", "centroid")
    val cbSource = Seq(
      (10L, vec(0.9, 0.1, 0, 0, 0, 0, 0, 0)), (20L, vec(0, 0, 0, 0.2, 0.8, 0, 0, 0))
    ).toDF("vec_id", "embedding")
    val codebook = Similarity.pqCodebook(cbSource, Seq(10L -> 1, 20L -> 2), 2, 4)
    val idxDir = java.nio.file.Files.createTempDirectory("graft-ivfpq-inc").toString
    try {
      val b1 = Seq((100L, vec(0.9, 0, 0, 0, 0, 0, 0, 0)),
                   (101L, vec(0, 0, 0, 0, 0.8, 0, 0, 0))).toDF("vec_id", "embedding")
      val b2 = Seq((102L, vec(0.95, 0.05, 0, 0, 0, 0, 0, 0))).toDF("vec_id", "embedding")
      // the per-batch encode is map-only: no hash shuffle in its plan
      val encPlan = Similarity.ivfPqEncode(
          Similarity.assignCells(b1, centroids, metric = "l2"), centroids, codebook, 2, 4)
        .queryExecution.executedPlan.toString
      assert(!encPlan.contains("Exchange hashpartitioning"), encPlan)
      Similarity.ivfPqAppend(b1, centroids, codebook, 2, 4, idxDir)
      val afterB1 = spark.read.parquet(idxDir)
      assert(afterB1.count() == 2)
      Similarity.ivfPqAppend(b2, centroids, codebook, 2, 4, idxDir)
      val idx = spark.read.parquet(idxDir)
      // readers see the appended vector in its cell partition without any
      // rebuild, and the incremental index equals the batch-built one
      assert(idx.count() == 3)
      assert(idx.where(col("cell") === 1).select("vec_id").as[Long].collect().toSet
        == Set(100L, 102L))
      val incRows = idx.select("vec_id", "cell", "c0", "c1").collect().map(_.toSeq).toSet
      val batchRows = Similarity.ivfPqEncode(
          Similarity.assignCells(b1.unionByName(b2), centroids, metric = "l2"),
          centroids, codebook, 2, 4)
        .select("vec_id", "cell", "c0", "c1").collect().map(_.toSeq).toSet
      assert(incRows == batchRows)
      // compaction: the two appends left multiple files in cell 1; after
      // compactIndex each cell dir holds exactly ONE parquet file and the
      // rows are unchanged
      def filesIn(cell: Int): Long = {
        val dir = java.nio.file.Paths.get(idxDir, s"cell=$cell")
        val list = java.nio.file.Files.list(dir)
        try list.filter(p => p.toString.endsWith(".parquet")).count()
        finally list.close()
      }
      assert(filesIn(1) >= 2)
      Similarity.compactIndex(spark, idxDir)
      assert(filesIn(1) == 1 && filesIn(2) == 1)
      assert(spark.read.parquet(idxDir).select("vec_id", "cell", "c0", "c1")
        .collect().map(_.toSeq).toSet == batchRows)
      // crash window A: publish succeeded but the trash was never deleted
      // (live dir AND trash both exist) — the next compaction's heal must
      // clear the stale trash and succeed (shared AtomicSwap discipline)
      val staleTrash = java.nio.file.Paths.get(idxDir + ".compacting.trash")
      java.nio.file.Files.createDirectories(staleTrash)
      java.nio.file.Files.writeString(staleTrash.resolve("stale.txt"), "stale")
      Similarity.compactIndex(spark, idxDir)
      assert(!java.nio.file.Files.exists(staleTrash), "stale trash not cleaned")
      assert(spark.read.parquet(idxDir).select("vec_id", "cell", "c0", "c1")
        .collect().map(_.toSeq).toSet == batchRows)
      // crash window B: the live tree was renamed aside but the publish
      // never happened (work + trash survive, live dir GONE) — heal must
      // restore the original from trash before the rewrite reads it
      val fs = new org.apache.hadoop.fs.Path(idxDir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val dstP = new org.apache.hadoop.fs.Path(idxDir)
      val workP = new org.apache.hadoop.fs.Path(idxDir + ".compacting")
      val trashP = new org.apache.hadoop.fs.Path(idxDir + ".compacting.trash")
      fs.mkdirs(workP)
      fs.mkdirs(trashP)
      assert(fs.rename(dstP, new org.apache.hadoop.fs.Path(trashP, dstP.getName)))
      Similarity.compactIndex(spark, idxDir)
      assert(!fs.exists(workP) && !fs.exists(trashP))
      assert(spark.read.parquet(idxDir).select("vec_id", "cell", "c0", "c1")
        .collect().map(_.toSeq).toSet == batchRows,
        "mid-swap crash must heal losslessly")
    } finally graft.queries.ArtifactStore.deleteTree(java.nio.file.Paths.get(idxDir))
  }

  test("stateless text operators lift to streaming unchanged (pii scan)") {
    // the pipeline's per-row operators (pii scan, quality gates, language
    // id, fingerprints) are pure projections/filters — the SAME function
    // applies to a readStream frame with no code change, which is how a
    // live ingest firehose gets scanned before it lands in the corpus
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(Long, String)]
    val scanned = graft.llm.TextAnalysis.piiScan(ms.toDF.toDF("doc_id", "text"))
    assert(scanned.isStreaming) // the plan lifted, nothing was collected
    val q = scanned.writeStream.format("memory").queryName("pii_stream")
      .outputMode("append").start()
    try {
      ms.addData((1L, "reach me at a@b.co"), (2L, "clean"))
      q.processAllAvailable()
      ms.addData((3L, "call 555-123-4567 twice 555-123-4567"))
      q.processAllAvailable()
      val out = spark.table("pii_stream")
        .select("doc_id", "email_count", "phone_count", "redacted")
        .as[(Long, Long, Long, String)].collect().toSet
      assert(out == Set(
        (1L, 1L, 0L, "reach me at [EMAIL]"),
        (2L, 0L, 0L, "clean"),
        (3L, 0L, 2L, "call [PHONE] twice [PHONE]")))
    } finally q.stop()
  }

  test("incremental semantic dedup lifts to streaming (map-only assign + stream-static join)") {
    // the batch side of incrementalSemanticPairs is a broadcast-crossed
    // per-row argmax (no state) joined stream-static against the persisted
    // index — the SAME operator runs under Structured Streaming unchanged
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val centroids = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f))).toDF("centroid_id", "centroid")
    val index = graft.llm.Similarity.assignCells(Seq(
      (10L, Array(1.0f, 0.05f, 0.0f)),
      (20L, Array(0.0f, 1.0f, 0.05f))).toDF("vec_id", "embedding"), centroids)
    val ms = MemoryStream[(Long, Array[Float])]
    val batchAssigned = graft.llm.Similarity.assignCells(
      ms.toDF.toDF("vec_id", "embedding"), centroids)
    val pairs = graft.llm.Dedup.incrementalSemanticPairs(
      index, batchAssigned, threshold = 0.9)
    assert(pairs.isStreaming)
    val q = pairs.writeStream.format("memory").queryName("sem_inc_stream")
      .outputMode("append").start()
    try {
      // 100 is a near-dup of indexed 10 (same cell, cos ≈ 0.998); 101 is a
      // z-axis vector — lands in a cell but clears no threshold
      ms.addData((100L, Array(0.95f, 0.05f, 0.0f)), (101L, Array(0.0f, 0.0f, 1.0f)))
      q.processAllAvailable()
      val out = spark.table("sem_inc_stream")
        .select("batch_id", "index_id").as[(Long, Long)].collect().toSet
      assert(out == Set((100L, 10L)))
    } finally q.stop()
  }

  test("chunker lifts to streaming unchanged (stateless map, explode included)") {
    // chunkWithOverlap is a pure map (explode + projection, zero shuffle),
    // so the SAME function chunks a readStream firehose — documents stream
    // into retrieval-index chunks without a batch round-trip
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(Long, String)]
    val chunked = graft.llm.Sampling.chunkWithOverlap(
      ms.toDF.toDF("doc_id", "text"), window = 4, stride = 2)
    assert(chunked.isStreaming)
    val q = chunked.writeStream.format("memory").queryName("chunk_stream")
      .outputMode("append").start()
    try {
      ms.addData((1L, "a b c d e f"), (2L, ""))
      q.processAllAvailable()
      val out = spark.table("chunk_stream")
        .select("doc_id", "chunk_idx", "start_tok", "chunk_text")
        .as[(Long, Long, Long, String)].collect().toSet
      assert(out == Set((1L, 0L, 0L, "a b c d"), (1L, 1L, 2L, "c d e f")))
    } finally q.stop()
  }

  test("end-to-end streaming curation: batch-by-batch equals one-shot on any split") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.CurationStream
    import graft.streaming.CurationStream.{CurationArtifacts, CurationSinks}
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    // frozen deployment artifacts: eval-set shingles, a trained classifier
    // (positive class speaks good/great; negative bad/ugly/awful), a 2-cell
    // coarse quantizer, and a tiny PQ codebook for the ANN-index appends
    val benchGrams = graft.llm.Dedup.charGrams(
      Seq((100L, "zebraquagga xylophone sample")).toDF("doc_id", "text"), 8)
    val classifier = graft.llm.TextAnalysis.trainTextClassifier(
      Seq((1L, "good nice great fine", true), (2L, "good great solid", true),
        (3L, "bad ugly awful", false), (4L, "bad awful poor", false))
        .toDF("doc_id", "text", "is_pos"),
      col("is_pos")).localCheckpoint(true)
    val centroids = Seq(
      (1L, Array(1f, 0f, 0f, 0f)), (2L, Array(-1f, 0f, 0f, 0f)))
      .toDF("centroid_id", "centroid").localCheckpoint(true)
    val codebook = graft.llm.Similarity.pqCodebook(
      Seq((1L, Array(0.1f, 0f, 0f, 0f)), (2L, Array(0f, 0.1f, 0f, 0f)))
        .toDF("vec_id", "embedding"),
      Seq(1L -> 1, 2L -> 2), m = 2, subDim = 2).localCheckpoint(true)
    val art = CurationArtifacts(benchGrams, classifier, centroids, codebook,
      m = 2, subDim = 2, bands = 2, rowsPerBand = 2, shingle = 8,
      semanticTau = 0.95)

    // the corpus, in ingest(=id) order:
    //   10 survives; 11 is its semantic near-dup (cos ≈ 0.956, same cell);
    //   12 is a semantic near-dup of 11 but NOT of 10 (the chain — its
    //      verdict depends on 11's persisted vector even though 11 was
    //      dropped); 13 is an exact TEXT dup of 10 with a far embedding;
    //   14 fails the classifier; 15 is benchmark-contaminated; 16 is clean
    val docs = Seq(
      (10L, "good solid unique alpha passage about spark windows today",
        Array(1f, 0f, 0f, 0f)),
      (11L, "good fresh other beta passage on join strategies tomorrow",
        Array(0.9563f, 0.2924f, 0f, 0f)),
      // NB "exchange" would hash-collide with training-negative "poor" at
      // hexChars=2 and flip this doc's classifier verdict — fixture words
      // are chosen collision-free so the chain rule is what's tested
      (12L, "good another gamma passage regarding shuffle plans",
        Array(0.8290f, 0.5592f, 0f, 0f)),
      (13L, "good solid unique alpha passage about spark windows today",
        Array(-1f, 0f, 0f, 0f)),
      (14L, "bad ugly awful bad ugly awful totally", Array(-0.9f, 0.1f, 0f, 0f)),
      (15L, "good text zebraquagga xylophone mention here",
        Array(-0.8f, -0.2f, 0f, 0f)),
      (16L, "good entirely different delta passage with vectors galore",
        Array(0f, 0f, 1f, 0f)))
    val expectSurvivors = Set(10L, 16L)
    val expectGatePassing = Set(10L, 11L, 12L, 13L, 16L)

    def sinksIn(tag: String): CurationSinks = {
      val base = tmpDir(s"graft-curation-$tag")
      CurationSinks(s"$base/corpus", s"$base/sigs", s"$base/vecs", s"$base/idx",
        s"$base/stats")
    }
    def corpusIds(s: CurationSinks): Set[Long] =
      spark.read.parquet(s.corpusDir).select("doc_id").as[Long].collect().toSet

    // ---- split A: {10, 11} then {12..16}, through the streaming wiring ----
    val sA = sinksIn("a")
    val ms = MemoryStream[(Long, String, Array[Float])]
    val ckpt = tmpDir("graft-curation-ckpt")
    ms.addData(docs.filter(_._1 <= 11))
    CurationStream.run(ms.toDF.toDF("doc_id", "text", "embedding"), art, sA, ckpt)
    ms.addData(docs.filter(_._1 >= 12))
    CurationStream.run(ms.toDF.toDF("doc_id", "text", "embedding"), art, sA, ckpt)
    assert(corpusIds(sA) == expectSurvivors, s"split A: ${corpusIds(sA)}")

    // ---- split B: everything in ONE batch ----
    val sB = sinksIn("b")
    CurationStream.curateBatch(docs.toDF("doc_id", "text", "embedding"), art, sB, 0L)
    assert(corpusIds(sB) == expectSurvivors, s"split B: ${corpusIds(sB)}")

    // ---- split C: one doc per batch (the finest split) ----
    val sC = sinksIn("c")
    docs.zipWithIndex.foreach { case (d, i) =>
      CurationStream.curateBatch(Seq(d).toDF("doc_id", "text", "embedding"), art, sC, i.toLong)
    }
    assert(corpusIds(sC) == expectSurvivors, s"split C: ${corpusIds(sC)}")

    // ---- at-least-once replay: re-running a batch under ITS OWN id (what
    // foreachBatch does after a mid-batch failure) overwrites that batch's
    // partition instead of double-appending — corpus, probe artifacts and
    // telemetry all land exactly once ----
    val beforeReplay = spark.read.parquet(sC.corpusDir).count()
    CurationStream.curateBatch(
      Seq(docs.head).toDF("doc_id", "text", "embedding"), art, sC, 0L)
    assert(spark.read.parquet(sC.corpusDir).count() == beforeReplay,
      "batch replay must be idempotent")
    assert(corpusIds(sC) == expectSurvivors)

    // ---- the one-shot reference agrees, row for row ----
    val ref = CurationStream.curateReference(
      docs.toDF("doc_id", "text", "embedding"), art)
    assert(ref.select("doc_id").as[Long].collect().toSet == expectSurvivors)
    val refRows = ref.select("doc_id", "text").as[(Long, String)].collect().toSet
    val gotRows = spark.read.parquet(sA.corpusDir)
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(gotRows == refRows)

    // ---- artifact discipline: probe artifacts hold ALL gate-passing docs
    // (including dropped duplicates — the chain rule needs 11's vector);
    // the ANN index is cell-partitioned and code-only ----
    val sigIds = spark.read.parquet(sA.sigDir).select("doc_id").as[Long].collect().toSet
    val vecIds = spark.read.parquet(sA.vecDir).select("vec_id").as[Long].collect().toSet
    assert(sigIds == expectGatePassing, s"sigs: $sigIds")
    assert(vecIds == expectGatePassing, s"vecs: $vecIds")
    val idx = spark.read.parquet(sA.idxDir)
    assert(idx.columns.contains("cell") && idx.columns.contains("c0") &&
      !idx.columns.contains("embedding"))
    assert(idx.select("vec_id").as[Long].collect().toSet == expectGatePassing)

    // ---- sketch telemetry: the per-batch register appends fold to
    // EXACTLY the sketch of the concatenated survivors (the merge laws,
    // end-to-end through the pipeline) — split A's two batches and split
    // B's single batch read back identical estimates ----
    val (hllA, qlenA) = CurationStream.corpusStats(spark, sA)
    val (hllB, qlenB) = CurationStream.corpusStats(spark, sB)
    val survToks = spark.read.parquet(sB.corpusDir)
      .select(lit("corpus").as("scope"),
        explode(split(col("text"), " ")).as("token"))
    val directHll = graft.llm.Sketches.hllEstimate(
      graft.llm.Sketches.hllRegisters(survToks, Seq("scope"), "token"), Seq("scope"))
    assert(hllA.collect().toSeq == directHll.collect().toSeq)
    assert(hllB.collect().toSeq == directHll.collect().toSeq)
    assert(qlenA.orderBy("q").collect().toSeq == qlenB.orderBy("q").collect().toSeq)

    // ---- heavy-hitters telemetry: the per-batch CMS registers + exact
    // candidate lists decide corpus-level phi-heavy survivor tokens WITHOUT
    // re-reading the corpus; both one-sided guarantees hold on any split ----
    val survTokCounts = spark.read.parquet(sB.corpusDir)
      .select(explode(split(col("text"), " ")).as("token"))
      .where(col("token") =!= "").groupBy("token").count()
      .as[(String, Long)].collect().toMap
    val nTok = survTokCounts.values.sum
    val hhPhi = 0.10
    val trueHeavy = survTokCounts.filter(_._2 >= math.ceil(nTok * hhPhi)).keySet
    // a strict subset: "good"/"passage" recur across survivors, the rest don't
    assert(trueHeavy.nonEmpty && trueHeavy.size < survTokCounts.size)
    for (s <- Seq(sA, sB, sC)) {
      val got = CurationStream.corpusHeavyHitters(spark, s, hhPhi)
        .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
      assert(trueHeavy.subsetOf(got.keySet), s"missed hitters: ${trueHeavy.diff(got.keySet)}")
      assert(got.forall { case (t, est) => est >= survTokCounts.getOrElse(t, 0L) },
        "CMS under-counted")
    }
    // probing below the recorded candidate floor must fail loudly — a
    // silent probe there could miss true hitters
    val low = intercept[Exception] {
      CurationStream.corpusHeavyHitters(spark, sB, 0.001).collect()
    }
    assert(low.getMessage.contains("candidate floor"), low.getMessage)

    // ---- plan shape: the composed one-shot reference never degenerates
    // into a cartesian (every dup relation is an equi-join or banded key
    // join; the gates are broadcast probes) ----
    val refPlan = CurationStream.curateReference(
      docs.toDF("doc_id", "text", "embedding"), art)
      .queryExecution.executedPlan.toString
    assert(!refPlan.contains("CartesianProduct"), refPlan)

    // ======== telescoping sink compaction ========
    // sD replays split C (one doc per batch, ids 0..6), then folds batches
    // <= 4; every probe surface must be indistinguishable from the
    // uncompacted control, the stream must continue correctly THROUGH the
    // consolidated partitions, and the partition count must actually drop
    // (the whole point of the maintenance job).
    def batchDirs(dir: String): Seq[String] =
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
        .map(_.getName).sorted
    val sD = sinksIn("d")
    docs.zipWithIndex.foreach { case (d, i) =>
      CurationStream.curateBatch(Seq(d).toDF("doc_id", "text", "embedding"), art, sD, i.toLong)
    }
    assert(batchDirs(sD.sigDir).size == 7, batchDirs(sD.sigDir)) // one per batch
    CurationStream.compactSinks(spark, sD, upTo = 4L)
    // partition-count bound: batches 0..4 are ONE consolidated partition now
    assert(batchDirs(sD.sigDir) == Seq("batch_id=4", "batch_id=5", "batch_id=6"),
      batchDirs(sD.sigDir))
    assert(batchDirs(sD.corpusDir) == Seq("batch_id=4", "batch_id=5", "batch_id=6"),
      batchDirs(sD.corpusDir))
    // net effect: identical to the uncompacted control on every surface
    assert(corpusIds(sD) == expectSurvivors)
    assert(spark.read.parquet(sD.sigDir).select("doc_id").as[Long].collect().toSet
      == expectGatePassing)
    assert(spark.read.parquet(sD.vecDir).select("vec_id").as[Long].collect().toSet
      == expectGatePassing)
    val (hllD, qlenD) = CurationStream.corpusStats(spark, sD)
    assert(hllD.collect().toSeq == directHll.collect().toSeq)
    assert(qlenD.orderBy("q").collect().toSeq == qlenB.orderBy("q").collect().toSeq)
    val hhD = CurationStream.corpusHeavyHitters(spark, sD, hhPhi)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(trueHeavy.subsetOf(hhD.keySet), s"missed hitters: ${trueHeavy.diff(hhD.keySet)}")

    // the stream continues THROUGH the consolidated partitions: a text dup
    // of doc 10 must still be dropped (its probe now reads the folded
    // signature index), a fresh doc survives — on BOTH the compacted run
    // and the uncompacted control, identically
    val more = Seq(
      (17L, "good solid unique alpha passage about spark windows today",
        Array(0f, 0f, 0f, 1f)),
      (18L, "good wholly novel epsilon passage concerning catalyst rules",
        Array(0f, 0f, -1f, 0f)))
    CurationStream.curateBatch(more.toDF("doc_id", "text", "embedding"), art, sC, 7L)
    CurationStream.curateBatch(more.toDF("doc_id", "text", "embedding"), art, sD, 7L)
    assert(corpusIds(sC) == expectSurvivors + 18L, s"control: ${corpusIds(sC)}")
    assert(corpusIds(sD) == corpusIds(sC), s"compacted run diverged: ${corpusIds(sD)}")

    // idempotence: re-running the fold (and folding further) changes nothing
    CurationStream.compactSinks(spark, sD, upTo = 4L)
    CurationStream.compactSinks(spark, sD, upTo = 6L)
    assert(batchDirs(sD.sigDir) == Seq("batch_id=6", "batch_id=7"), batchDirs(sD.sigDir))
    assert(corpusIds(sD) == corpusIds(sC))
    assert(CurationStream.corpusStats(spark, sD)._1.collect().toSeq
      == CurationStream.corpusStats(spark, sC)._1.collect().toSeq)

    // crash recovery: a leftover work dir (write done or partial, publish
    // not) with originals renamed aside must restore and re-fold — the
    // next compactSinks self-heals before folding
    val sigRoot = new java.io.File(sD.sigDir)
    val work = new java.io.File(sigRoot, ".compact-7")
    val trash = new java.io.File(sigRoot, ".compact-7.trash")
    assert(work.mkdir() && trash.mkdirs())
    assert(new java.io.File(sigRoot, "batch_id=6")
      .renameTo(new java.io.File(trash, "batch_id=6")))
    CurationStream.compactSinks(spark, sD, upTo = 7L)
    assert(batchDirs(sD.sigDir) == Seq("batch_id=7"), batchDirs(sD.sigDir))
    assert(!work.exists() && !trash.exists())
    // 17 is a dropped dup but GATE-PASSING, so its probe signature persists
    // through every fold (the chain rule); 18 is fresh
    assert(spark.read.parquet(sD.sigDir).select("doc_id").as[Long].collect().toSet
      == expectGatePassing + 17L + 18L)
  }

  test("curation property: random splits with random compaction points equal one-shot") {
    curationSplitProperty(Seq(11))
  }
  // amplification: two more random split/compaction interleavings
  test("curation property under two more seeded splits", HeavyTest) {
    curationSplitProperty(Seq(23, 47))
  }
  private def curationSplitProperty(seeds: Seq[Int]): Unit = {
    import graft.streaming.CurationStream
    import graft.streaming.CurationStream.{CurationArtifacts, CurationSinks}
    import spark.implicits._

    val benchGrams = graft.llm.Dedup.charGrams(
      Seq((100L, "zebraquagga xylophone sample")).toDF("doc_id", "text"), 8)
    val classifier = graft.llm.TextAnalysis.trainTextClassifier(
      Seq((1L, "good nice great fine", true), (2L, "good great solid", true),
        (3L, "bad ugly awful", false), (4L, "bad awful poor", false))
        .toDF("doc_id", "text", "is_pos"),
      col("is_pos")).localCheckpoint(true)
    val centroids = Seq(
      (1L, Array(1f, 0f, 0f, 0f)), (2L, Array(-1f, 0f, 0f, 0f)))
      .toDF("centroid_id", "centroid").localCheckpoint(true)
    val codebook = graft.llm.Similarity.pqCodebook(
      Seq((1L, Array(0.1f, 0f, 0f, 0f)), (2L, Array(0f, 0.1f, 0f, 0f)))
        .toDF("vec_id", "embedding"),
      Seq(1L -> 1, 2L -> 2), m = 2, subDim = 2).localCheckpoint(true)
    val art = CurationArtifacts(benchGrams, classifier, centroids, codebook,
      m = 2, subDim = 2, bands = 2, rowsPerBand = 2, shingle = 8,
      semanticTau = 0.95)
    // the sibling test's corpus: survivors {10, 16}; 11/12 semantic chain,
    // 13 text dup, 14 classifier-negative, 15 contaminated
    val docs = Seq(
      (10L, "good solid unique alpha passage about spark windows today",
        Array(1f, 0f, 0f, 0f)),
      (11L, "good fresh other beta passage on join strategies tomorrow",
        Array(0.9563f, 0.2924f, 0f, 0f)),
      (12L, "good another gamma passage regarding shuffle plans",
        Array(0.8290f, 0.5592f, 0f, 0f)),
      (13L, "good solid unique alpha passage about spark windows today",
        Array(-1f, 0f, 0f, 0f)),
      (14L, "bad ugly awful bad ugly awful totally", Array(-0.9f, 0.1f, 0f, 0f)),
      (15L, "good text zebraquagga xylophone mention here",
        Array(-0.8f, -0.2f, 0f, 0f)),
      (16L, "good entirely different delta passage with vectors galore",
        Array(0f, 0f, 1f, 0f)))
    val refSurvivors = CurationStream.curateReference(
        docs.toDF("doc_id", "text", "embedding"), art)
      .select("doc_id").as[Long].collect().toSet

    for (seed <- seeds) {
      val rnd = new scala.util.Random(seed)
      // random split preserving id order: each gap is a batch boundary
      // with probability 1/2; after each batch, fold up to its own id
      // with probability 1/2 (safe here — ids only grow, nothing replays)
      val batches = docs.foldLeft(Vector(Vector.empty[(Long, String, Array[Float])])) {
        case (acc, d) =>
          if (acc.last.nonEmpty && rnd.nextBoolean()) acc :+ Vector(d)
          else acc.init :+ (acc.last :+ d)
      }.filter(_.nonEmpty)
      val base = tmpDir(s"graft-curation-prop-$seed")
      val sinks = CurationSinks(s"$base/corpus", s"$base/sigs", s"$base/vecs",
        s"$base/idx", s"$base/stats")
      batches.zipWithIndex.foreach { case (b, i) =>
        CurationStream.curateBatch(b.toDF("doc_id", "text", "embedding"), art, sinks, i.toLong)
        if (rnd.nextBoolean())
          CurationStream.compactSinks(spark, sinks, upTo = i.toLong)
      }
      val got = spark.read.parquet(sinks.corpusDir)
        .select("doc_id").as[Long].collect().toSet
      assert(got == refSurvivors,
        s"seed $seed (${batches.map(_.map(_._1))}): $got != $refSurvivors")
      val sigs = spark.read.parquet(sinks.sigDir)
        .select("doc_id").as[Long].collect().toSet
      assert(sigs == Set(10L, 11L, 12L, 13L, 16L), s"seed $seed sigs: $sigs")
    }
  }

  test("curation stream self-maintains: compactEvery folds earlier partitions in-stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.CurationStream
    import graft.streaming.CurationStream.{CurationArtifacts, CurationSinks}
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val benchGrams = graft.llm.Dedup.charGrams(
      Seq((100L, "zebraquagga xylophone sample")).toDF("doc_id", "text"), 8)
    val classifier = graft.llm.TextAnalysis.trainTextClassifier(
      Seq((1L, "good nice great fine", true), (2L, "good great solid", true),
        (3L, "bad ugly awful", false), (4L, "bad awful poor", false))
        .toDF("doc_id", "text", "is_pos"),
      col("is_pos")).localCheckpoint(true)
    val centroids = Seq(
      (1L, Array(1f, 0f, 0f, 0f)), (2L, Array(-1f, 0f, 0f, 0f)))
      .toDF("centroid_id", "centroid").localCheckpoint(true)
    val codebook = graft.llm.Similarity.pqCodebook(
      Seq((1L, Array(0.1f, 0f, 0f, 0f)), (2L, Array(0f, 0.1f, 0f, 0f)))
        .toDF("vec_id", "embedding"),
      Seq(1L -> 1, 2L -> 2), m = 2, subDim = 2).localCheckpoint(true)
    val art = CurationArtifacts(benchGrams, classifier, centroids, codebook,
      m = 2, subDim = 2, bands = 2, rowsPerBand = 2, shingle = 8,
      semanticTau = 0.95)

    // six clean survivors plus one exact text dup of doc 0 in the LAST
    // batch — its drop verdict must route through partitions the in-stream
    // compaction has already consolidated. Texts reuse the sibling test's
    // proven classifier-positive, mutually-non-near-dup vocabulary;
    // embeddings fan out at 0.4 rad steps (consecutive cos ≈ 0.92 < tau).
    val texts = Seq(
      "good solid unique alpha passage about spark windows today",
      "good fresh other beta passage on join strategies tomorrow",
      "good another gamma passage regarding shuffle plans",
      "good entirely different delta passage with vectors galore",
      "good wholly novel epsilon passage concerning catalyst rules",
      "good solid catalyst vectors tomorrow regarding gamma rules")
    val docs = texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t,
        Array(math.cos(i * 0.4).toFloat, math.sin(i * 0.4).toFloat, 0f, 0f))
    } :+ ((6L, texts.head, Array(0f, 0f, 1f, 0f)))

    val base = tmpDir("graft-curation-auto")
    val sinks = CurationSinks(s"$base/corpus", s"$base/sigs", s"$base/vecs",
      s"$base/idx", s"$base/stats")
    val ckpt = tmpDir("graft-curation-auto-ckpt")
    val ms = MemoryStream[(Long, String, Array[Float])]
    docs.foreach { d =>
      ms.addData(Seq(d))
      CurationStream.run(ms.toDF.toDF("doc_id", "text", "embedding"), art, sinks,
        ckpt, compactEvery = Some(2), compactMaxRuns = 2, corpusPartitions = 2)
    }

    // corpusPartitions threads from run() into the in-stream fold: every
    // consolidated corpus run was written with repartition(2), so no run
    // directory holds more than 2 data files (the single-file rewrite of
    // the biggest run was the scale hazard this parameter closes)
    Option(new java.io.File(sinks.corpusDir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id=")).foreach { d =>
        val files = Option(d.listFiles()).toSeq.flatten
          .count(_.getName.endsWith(".parquet"))
        assert(files <= 2, s"${d.getName}: $files parquet files")
      }

    // ids 0..6 ran; TIERED compaction fired at ids 2/4/6 folding <=1/<=3/
    // <=5 down to at most 2 runs each time — so at most compactMaxRuns
    // consolidated runs plus the batches since the last fold remain (vs 7
    // partitions unmaintained), and the fold never rewrites the whole
    // history (the bounded-write-amplification contract)
    val dirs = Option(new java.io.File(sinks.sigDir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id=")).map(_.getName).sorted
    assert(dirs.size <= 4 && dirs.contains("batch_id=6"), dirs)
    // the dup in batch 6 was dropped via the consolidated probe index;
    // everything else survived
    val survivors = spark.read.parquet(sinks.corpusDir)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == (0L to 5L).toSet, s"survivors: $survivors")
    assert(spark.read.parquet(sinks.sigDir).select("doc_id").as[Long].collect().toSet
      == (0L to 6L).toSet)
  }

  test("tiered sink compaction: maxRuns bounds partitions, heals stale attempts from ANY fold point") {
    import graft.streaming.CurationStream
    import spark.implicits._
    val dir = tmpDir("graft-tiered-compact")
    def write(id: Long, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "v").coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/batch_id=$id")
    val all = (0L until 10L).map(i => i -> Seq((i, s"row$i")))
    all.foreach { case (id, rows) => write(id, rows) }
    def dirs(): Seq[String] =
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
        .map(_.getName).sorted
    assert(dirs().size == 10)

    // a crashed earlier attempt at a DIFFERENT fold point (upTo=3): its
    // work dir exists and batch_id=2 was already renamed into its trash —
    // those rows are invisible to parquet listing until healed. The old
    // recovery keyed on the CURRENT upTo only and would have lost them.
    val root = new java.io.File(dir)
    val work = new java.io.File(root, ".compact-3")
    val trash = new java.io.File(root, ".compact-3.trash")
    assert(work.mkdir() && trash.mkdirs())
    assert(new java.io.File(root, "batch_id=2")
      .renameTo(new java.io.File(trash, "batch_id=2")))
    assert(spark.read.parquet(dir).count() == 9) // stranded

    CurationStream.compactOne(spark, dir, upTo = 8L, Nil, 1, maxRuns = 3)
    assert(!work.exists() && !trash.exists(), "stale attempt not healed")
    // ids 0..8 folded into at most 3 contiguous runs (plus untouched 9)
    val after = dirs()
    assert(after.size == 4 && after.contains("batch_id=9"), after.toString)
    // every row survived, including the one stranded in the stale trash
    val got = spark.read.parquet(dir).select("doc_id", "v")
      .as[(Long, String)].collect().toSet
    assert(got == all.flatMap(_._2).toSet, got.toString)
    // idempotent: re-running at the same bound changes nothing
    CurationStream.compactOne(spark, dir, upTo = 8L, Nil, 1, maxRuns = 3)
    assert(dirs() == after)
    // tightening the bound to 1 gives the offline full fold: one
    // consolidated partition under the max folded id
    CurationStream.compactOne(spark, dir, upTo = 9L, Nil, 1, maxRuns = 1)
    assert(dirs() == Seq("batch_id=9"), dirs().toString)
    assert(spark.read.parquet(dir).select("doc_id", "v")
      .as[(Long, String)].collect().toSet == all.flatMap(_._2).toSet)
  }
}
