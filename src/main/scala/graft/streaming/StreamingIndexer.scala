package graft.streaming

import graft.index.{GraftIndex, Mutations}
import graft.ingest.{BlockReader, Indexer}
import graft.model.Pattern
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** S6 — the Mailbox consumer loop as Structured Streaming.
  *
  * The reference micro-batches blocks through a bounded STM queue and drains
  * it whole per SQLite transaction (/root/reference/src/Kupo/App/Mailbox.hs:
  * 27-83, consumer /root/reference/src/Kupo/App.hs:496-510); rollbacks are
  * intermittent messages that BLOCK further forwards until consumed
  * (Mailbox.hs:64-77) — i.e. a rollback is a barrier: `flushMailbox` never
  * yields forwards and a rollback in the same drain.
  *
  * Here the queue is a file stream of Ogmios-shaped JSONL (BlockReader's
  * wire format) and the drain is `foreachBatch`: one micro-batch = one
  * atomic manifest bump, mirroring the reference's one-transaction-per-drain
  * crash consistency (App.hs:512-577). A batch is applied with the NET
  * EFFECT of its envelopes in chain order — (file name asc, line order) —
  * so a file containing forward → rollback → forward produces exactly the
  * reference state: the pre-batch index rolls back once to the minimum
  * target, and an in-batch forward survives iff NO LATER rollback in the
  * batch undercuts its slot (suffix-minimum of rollback targets). This is
  * the same fixpoint the Mailbox reaches by blocking, computed without
  * serializing the batch: erased forwards are filtered out distributively,
  * only the (rare, tiny) rollback envelopes are collected.
  *
  * Exactly-once: the file source checkpoint records which files are
  * consumed; `Indexer.ingest` appends are idempotent (PK dedup at
  * read/compaction), so a batch replayed after a crash re-appends the same
  * rows harmlessly — the INSERT OR IGNORE analogue at the stream level.
  *
  * Cost of a forward-only drain, in Spark jobs: one parses the batch and
  * looks for rollbacks (`graft.ingest parse`), one materializes its blocks
  * (`graft.ingest materialize`), and the commit writes the seven index
  * tables concurrently and then the bloom sidecar, one job each
  * (`graft.write …`) — ten in all, the same for any batch small enough
  * for the one-file write cut-over. A reorg batch adds its rollback and
  * the ordered re-read (`graft.ingest reorg`). */
object StreamingIndexer {

  /** Process one drained micro-batch with chain-order (net-effect) semantics.
    *
    * `rewrite` is a per-LINE transform applied to the `raw` column before
    * envelope parsing (identity for Ogmios-native feeds; the Hydra producer
    * passes its line bridge). Threading it here — instead of the caller
    * pre-transforming the frame — matters for the ordered path: on a reorg
    * batch the files are re-read to recover chain order, and the rewrite
    * must re-apply to THOSE lines too, or the re-read would parse the
    * untransformed originals and silently drop the batch's forwards.
    *
    * Feeds that are not file-backed can carry an explicit `seq` column
    * (monotone per-envelope chain order within the batch); it is used
    * directly and nothing is re-read. */
  def processBatch(ix: GraftIndex, raw: DataFrame, patterns: Set[Pattern],
                   rewrite: Column => Column = identity,
                   maxSegmentsPerTable: Option[Int] = None): Unit = {
    val env = BlockReader.parseEnvelope(rewritten(raw, rewrite)).cache()
    try {
      val rollbackPoints = GraftIndex.describedAs(ix.spark, "graft.ingest parse")(
        BlockReader.rollbacks(env).collect())
      if (rollbackPoints.isEmpty) {
        // forwards only: order within the batch is immaterial (appends);
        // ingest materializes the blocks once and skips an empty batch
        Indexer.ingest(ix, BlockReader.blocks(env), patterns)
      } else GraftIndex.describedAs(ix.spark, "graft.ingest reorg") {
        processOrdered(ix, raw, patterns, rewrite,
          fallbackTarget = rollbackPoints.map(_.getLong(0)).min)
      }
    } finally env.unpersist()
    // post-drain maintenance, the long-running writer's duty: optionally
    // bound per-table segment growth by verbatim tiering (each micro-batch
    // appends one segment per touched table — unmaintained, scans open
    // ever more files), then sweep dereferenced segment dirs (one
    // directory listing per batch) or the disk grows forever
    maxSegmentsPerTable.foreach { n =>
      ix.manifest.tables.keysIterator.foreach(t => ix.compactSegments(t, n))
    }
    ix.vacuum(ix.vacuumGraceMs)
    ()
  }

  /** Apply the line rewrite to the `raw` column (keeping every other column,
    * e.g. `seq`) and drop the rewrite's "no block here" sentinels. */
  private def rewritten(df: DataFrame, rewrite: Column => Column): DataFrame = {
    val others = df.columns.filter(_ != "raw").map(col(_)).toSeq
    df.select(rewrite(col("raw")).as("raw") +: others: _*)
      .where(col("raw").isNotNull && length(col("raw")) > 0)
  }

  /** Rollbacks present: recover an explicit chain sequence and apply the net
    * effect. A feeder-supplied `seq` column wins; otherwise the batch's
    * files are re-read as an order-preserving union of per-file RDDs (one
    * `textFile` per path — comma or glob metacharacters in a path are never
    * re-interpreted) and `zipWithIndex` numbers rows partition-major in that
    * order, so `seq` is exactly (file name asc, line order) — the feeder's
    * chain order. Costs one extra scan of the batch, paid only on reorg
    * batches. */
  private def processOrdered(ix: GraftIndex, raw: DataFrame, patterns: Set[Pattern],
                             rewrite: Column => Column, fallbackTarget: Long): Unit = {
    val spark = raw.sparkSession

    /** No per-envelope order is recoverable: rollback barrier first, then
      * all forwards — correct when the feeder never emits a forward before
      * a rollback within one batch (single-envelope batches trivially so). */
    def barrierFirst(): Unit = {
      Mutations.rollbackTo(ix, fallbackTarget)
      val env = BlockReader.parseEnvelope(rewritten(raw, rewrite))
      Indexer.ingest(ix, BlockReader.blocks(env), patterns)
    }

    val ordered: DataFrame =
      if (raw.columns.contains("seq")) raw
      else {
        val files = raw.select(input_file_name().as("f")).where(col("f") =!= "")
          .distinct().collect().map(_.getString(0)).sorted
        if (files.isEmpty) { barrierFirst(); return } // e.g. a memory source
        import spark.implicits._
        spark.sparkContext.union(files.toIndexedSeq.map(spark.sparkContext.textFile(_)))
          .zipWithIndex().map { case (line, i) => (i, line) }
          .toDF("seq", "raw")
      }
    val env = BlockReader.parseEnvelope(rewritten(ordered, rewrite), keep = Seq("seq"))
      .cache()
    try {
      val rbs = env.where(col("direction") === "backward")
        .select(col("seq"), coalesce(col("point.slot"), lit(-1L)))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      if (rbs.isEmpty) {
        // defense in depth: the first pass saw a rollback but the ordered
        // re-read did not (a transformed file feed whose caller forgot to
        // thread `rewrite`, or a feeder rewriting files in place). Degrade
        // to barrier-first on the first-pass frame rather than throwing on
        // suffixMin.head and losing the batch's forwards.
        barrierFirst(); return
      }
      // suffix minima of rollback targets in chain order: suffixMin(i) is the
      // deepest rollback at-or-after rollback i
      val suffixMin = rbs.map(_._2).scanRight(Long.MaxValue)(math.min).init
      // the pre-batch index sees every rollback → cut once to the global min
      Mutations.rollbackTo(ix, suffixMin.head)
      // an in-batch forward at `seq` survives iff the next rollback after it
      // (if any) has suffix-min target >= its slot
      val slotCol = coalesce(col("block.slot"), col("block.height"))
      val survives = rbs.zip(suffixMin).foldRight(lit(true): Column) {
        case (((rseq, _), m), later) => when(col("seq") < rseq, slotCol <= m).otherwise(later)
      }
      Indexer.ingest(ix,
        BlockReader.blocks(env.where(col("direction") === "forward").where(survives)), patterns)
    } finally env.unpersist()
  }

  /** Start the streaming indexer over a directory of JSONL files.
    * `Trigger.AvailableNow` drains everything pending then stops (backfill /
    * test mode); a processing-time trigger tails the directory (live mode).
    * The checkpoint lives inside the index root: index + stream position
    * move together, like the reference's checkpoint-in-the-same-transaction
    * (App.hs:526-544). */
  def start(spark: SparkSession, inputDir: String, ix: GraftIndex,
            patterns: Set[Pattern],
            trigger: Trigger = Trigger.AvailableNow(),
            rewrite: Column => Column = identity,
            maxSegmentsPerTable: Option[Int] = None): StreamingQuery = {
    spark.readStream
      .text(inputDir)
      .withColumnRenamed("value", "raw")
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(ix, batch, patterns, rewrite, maxSegmentsPerTable)
      }
      .option("checkpointLocation", s"${ix.root}/_stream_checkpoint")
      .trigger(trigger)
      .start()
  }

  /** Drain everything currently pending and wait for completion. */
  def runAvailableNow(spark: SparkSession, inputDir: String, ix: GraftIndex,
                      patterns: Set[Pattern],
                      rewrite: Column => Column = identity,
                      maxSegmentsPerTable: Option[Int] = None): Unit = {
    val q = start(spark, inputDir, ix, patterns, rewrite = rewrite,
      maxSegmentsPerTable = maxSegmentsPerTable)
    q.awaitTermination()
  }
}
