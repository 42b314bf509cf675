package graft.tools

import graft.index.GraftIndex
import graft.ingest.Indexer
import graft.model.Pattern

/** Scale rehearsal: build a 10×-the-test-fixture index through the real
  * streaming write path (micro-batch appends, then a partial compaction +
  * vacuum) and MEASURE the scale claims in SCALE.md instead of asserting
  * them:
  *   (a) slot-range scans open only manifest-pruned segment files
  *       (`DataFrame.inputFiles` = the parquet files the scan touches);
  *   (b) after compaction, spent-range scans open only segments whose
  *       manifest max(spent_at) stat reaches the bound;
  *   (c) reconcile (spends delta overlay) plans as a broadcast join with
  *       zero shuffle exchanges on the fact side;
  *   (d) vacuum keeps on-disk segment dirs == manifest (no garbage).
  * Prints one JSON line; the numbers are recorded in SCALE.md's appendix.
  * Run: `sbt "runMain graft.tools.ScaleRehearsal"`. */
object ScaleRehearsal {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session()
    spark.sparkContext.setLogLevel("ERROR")

    val root = java.nio.file.Files.createTempDirectory("graft-scale").toString
    val ix = new GraftIndex(spark, root, vacuumGraceMs = 0L)
    val patterns = Set[Pattern](Pattern.MatchAny(includingBootstrap = true))

    // 400 blocks (10× the unit fixtures), slots 10..4000, ingested as 40
    // micro-batch appends → 40 segments with disjoint created_at ranges
    val blocks = FixtureChain.chain(400)
    blocks.grouped(10).foreach { batch =>
      Indexer.ingest(ix, FixtureChain.toDf(spark, batch), patterns)
    }
    val totalRows = ix.table("inputs").count()
    val appendSegs = ix.manifest.tables("inputs").size

    // (a) created_at range scan: [3010, 3400] ≈ 10% of the chain
    val fullFilesA = ix.table("inputs").inputFiles.length
    val rangeFiles = ix.tableSlotRange("inputs", Some(3010L), Some(3400L)).inputFiles.length
    val rangeSegs = ix.manifest.tables("inputs").count(s =>
      s.maxSlot.exists(_ >= 3010L) && s.minSlot.exists(_ <= 3400L))

    // partial compaction folds the (scattered) spend marks into only the
    // segments they touch; the delta empties, so spent-stat pruning is sound
    ix.compactSpends()
    val compactedSegs = ix.manifest.tables("inputs").size

    // (b) spent-range scan near the tip: only segments whose manifest
    // max(spent_at) reaches 3900 are opened (untouched segments carry
    // NoneSpent and are skipped wholesale)
    val fullFilesB = ix.table("inputs").inputFiles.length
    val spentFiles = ix.inputsForSpentRange(Some(3900L)).inputFiles.length
    val spentSegs = ix.manifest.tables("inputs").count(_.spent match {
      case GraftIndex.SpentStat.MaxAt(m)  => m >= 3900L
      case GraftIndex.SpentStat.Unknown   => true
      case GraftIndex.SpentStat.NoneSpent => false
    })

    // (c) reconcile with a NON-empty delta must broadcast the delta and
    // never shuffle the fact table
    Indexer.ingest(ix, FixtureChain.toDf(spark,
      Seq(FixtureChain.Blk(4010L, FixtureChain.hex32(909090), Seq(
        FixtureChain.Tx(FixtureChain.hex32(909091),
          Seq((blocks.last.txs.head.id, 0)),
          Seq(FixtureChain.Out(FixtureChain.baseAddr(0, 0), 1L))))))), patterns)
    val plan = ix.inputsWithSpends.queryExecution.executedPlan.toString
    val broadcastJoin = plan.contains("BroadcastHashJoin")
    val shuffleExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length

    // (d) vacuum bound: on-disk segment dirs vs manifest
    ix.vacuum(0L)
    val diskDirs = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(root, "inputs"))
      try s.count().toInt finally s.close()
    }
    val manifestDirs = ix.manifest.tables("inputs").size

    // (e) segment TIERING at streaming scale: bound the (post-compaction)
    // segment set to 6, verbatim. Content must be bit-stable, the bound
    // must hold, a range scan must STILL prune through the merged stats,
    // and vacuum must reclaim every dereferenced merge input.
    val preTierRows = ix.inputsWithSpends
      .select("tx_id", "output_index", "created_at", "spent_at")
      .collect().map(_.toSeq).toSet
    val tierRemoved = ix.compactSegments("inputs", maxSegments = 6)
    val tieredSegs = ix.manifest.tables("inputs").size
    val tieredSame = ix.inputsWithSpends
      .select("tx_id", "output_index", "created_at", "spent_at")
      .collect().map(_.toSeq).toSet == preTierRows
    val tieredFullFiles = ix.table("inputs").inputFiles.length
    val tieredRangeFiles = ix.tableSlotRange("inputs", Some(3010L), Some(3400L))
      .inputFiles.length
    ix.vacuum(0L)
    val tieredDiskDirs = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(root, "inputs"))
      try s.count().toInt finally s.close()
    }

    println(
      s"""{"rows":$totalRows,"append_segments":$appendSegs,"full_scan_files_pre":$fullFilesA,""" +
        s""""range_scan_files":$rangeFiles,"range_overlapping_segments":$rangeSegs,""" +
        s""""segments_after_compact_spends":$compactedSegs,"full_scan_files_post":$fullFilesB,""" +
        s""""spent_scan_files":$spentFiles,"spent_eligible_segments":$spentSegs,""" +
        s""""reconcile_broadcast":$broadcastJoin,"reconcile_shuffle_exchanges":$shuffleExchanges,""" +
        s""""disk_segment_dirs":$diskDirs,"manifest_segment_dirs":$manifestDirs,""" +
        s""""tier_removed":$tierRemoved,"tiered_segments":$tieredSegs,""" +
        s""""tiered_range_files":$tieredRangeFiles,"tiered_full_files":$tieredFullFiles,""" +
        s""""tiered_disk_dirs":$tieredDiskDirs}""")

    // hard gates so a regression fails loudly wherever this main runs
    require(rangeFiles < fullFilesA / 4, s"range pruning weak: $rangeFiles vs $fullFilesA")
    require(spentFiles < fullFilesB, s"spent pruning inert: $spentFiles vs $fullFilesB")
    require(broadcastJoin && shuffleExchanges == 0, "reconcile must broadcast, not shuffle")
    require(diskDirs == manifestDirs, s"vacuum leak: $diskDirs vs $manifestDirs")
    require(tieredSegs <= 6 && tierRemoved > 0,
      s"tiering inert: $tieredSegs segments after removing $tierRemoved")
    require(tieredSame, "tiering must re-file rows verbatim")
    require(tieredRangeFiles < tieredFullFiles,
      s"tiered range scan stopped pruning: $tieredRangeFiles vs $tieredFullFiles")
    require(tieredDiskDirs == tieredSegs,
      s"tiering vacuum leak: $tieredDiskDirs vs $tieredSegs")
    spark.stop()
  }
}
