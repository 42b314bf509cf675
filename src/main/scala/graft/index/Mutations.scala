package graft.index

import graft.model.Pattern
import org.apache.spark.sql.functions._

/** State-maintenance operators over a GraftIndex — SURVEY.md §2.5.
  * Each one is a declarative rewrite job; segment stats turn the common cases
  * into metadata-only segment drops instead of data rewrites. */
object Mutations {

  /** U1 markInputs (/root/reference/src/Kupo/App/Database/SQLite.hs:645-652,857-866):
    * record spent provenance for consumed refs. Merge-on-read: append to the
    * spends delta; `GraftIndex.inputsWithSpends` reconciles, `compact()`
    * materializes. NO existence check against `inputs`: reconciliation joins
    * FROM the inputs side, so a mark whose ref was never indexed is simply
    * unobservable (and compact() drops it) — exactly the reference's UPDATE
    * silently missing absent rows. The round-1 semi-join bought nothing and
    * cost a full O(index) scan per micro-batch — the per-batch work is now
    * O(batch). */
  def markInputs(ix: GraftIndex, spends: org.apache.spark.sql.DataFrame): Unit =
    ix.append("spends", spends)

  /** U2 deleteInputs (SQLite.hs:641-643,846-855): delete rows matching a
    * pattern — anti-filter rewrite of ONLY the segments that can hold a
    * match. The reference's DELETE walks the same B-trees its reads use;
    * here the policy/address slot windows and the v6 key blooms prove most
    * segments irrelevant, and those are kept VERBATIM (their stats and
    * sidecar rows stay valid — paths unchanged). Before this, deleting a
    * spam policy from a 100 TB index rewrote every segment; now it rewrites
    * the policy's slot window, and deleting an ABSENT key touches zero
    * bytes. An unbounded pattern (MatchAny, metadata tag, or probes gated
    * off) falls back to the full rewrite. Returns rows deleted (observed on
    * the rewrite itself — segments left out provably hold no match, so they
    * contribute zero by the windows'/bloom's soundness). */
  def deleteInputs(ix: GraftIndex, patterns: Set[Pattern]): Long = {
    val snap = ix.pinned // one manifest read for the whole derivation
    val segs = snap.manifest.tables.getOrElse("inputs", Nil)
    val (rewrite, kept) =
      graft.query.FoldInputs.relevantInputSegments(snap, patterns) match {
        case None        => (segs, List.empty[GraftIndex.Segment])
        case Some(paths) => segs.partition(s => paths.contains(s.path))
      }
    if (rewrite.isEmpty) return 0L // provably no matching row anywhere
    // deleted = rows(rewritten segments) − rows(their replacement), both off
    // MANIFEST STATS — no counting scans, and no Observation: a filter that
    // deletes a whole segment propagates empty at runtime (AQE) and drops
    // sub-exchange CollectMetrics nodes with it, losing the observed count
    val rewriteRows = {
      val viaStats = rewrite.flatMap(_.rows)
      if (viaStats.size == rewrite.size) viaStats.sum
      else snap.readSegments("inputs", rewrite).count() // legacy no-rows manifests
    }
    val keep = snap.readSegments("inputs", rewrite).where(!Pattern.anyOf(patterns))
    ix.replaceWith("inputs", kept, Some(keep))
    val keptPaths = kept.map(_.path).toSet
    val newRows = ix.manifest.tables.getOrElse("inputs", Nil)
      .filterNot(s => keptPaths.contains(s.path)).flatMap(_.rows).sum
    rewriteRows - newRows
  }

  /** U3 pruneInputs (SQLite.hs:654-657,876-883): GC spent rows older than
    * maxSlot − longestRollback. One declarative job — the reference's
    * LIMIT-50000 incremental dance exists only to bound writer latency. */
  def pruneInputs(ix: GraftIndex, longestRollback: Long): Long = {
    val snap0 = ix.pinned // one manifest read for the whole derivation
    val maxSlot = snap0.maxCheckpoint match {
      case None         => return 0L
      case Some((s, _)) => s
    }
    val threshold = maxSlot - longestRollback
    // collected = rows(before) − rows(after), both off MANIFEST STATS —
    // no counting scans, and no Observation: a GC that empties the table
    // propagates empty at runtime (AQE) and drops sub-exchange
    // CollectMetrics nodes with it, losing the observed count (reconcile
    // is 1:1 on inputs rows, so the before-count is the inputs stat sum)
    val snap = snap0
    val segs = snap.manifest.tables.getOrElse("inputs", Nil)
    // stat surgery (rollback's trick, applied to GC): with the spends delta
    // EMPTY every effective spent_at is baked in, so a NoneSpent segment
    // provably holds nothing to collect — keep it verbatim. On a mostly-
    // unspent index (the --prune-utxo steady state) the GC then touches
    // only segments that ever baked a spend. A non-empty delta may mark any
    // segment → rewrite all (the delta folds in and clears, as before).
    val deltaEmpty = snap.manifest.tables.getOrElse("spends", Nil).isEmpty
    val (kept, rewrite) =
      if (deltaEmpty) segs.partition(_.spent == GraftIndex.SpentStat.NoneSpent)
      else (List.empty[GraftIndex.Segment], segs)
    if (rewrite.isEmpty) return 0L // provably nothing to collect, no bump
    val rewriteRows = {
      val viaStats = rewrite.flatMap(_.rows)
      if (viaStats.size == rewrite.size) viaStats.sum
      else snap.readSegments("inputs", rewrite).count() // legacy no-rows manifests
    }
    val keep = snap.reconcile(snap.readSegments("inputs", rewrite))
      .where(col("spent_at").isNull || col("spent_at") >= threshold)
    ix.replaceWith("inputs", kept, Some(keep))
    if (!deltaEmpty) ix.replace("spends", ix.emptyOf("spends"))
    val keptPaths = kept.map(_.path).toSet
    val afterRows = ix.manifest.tables.getOrElse("inputs", Nil)
      .filterNot(s => keptPaths.contains(s.path)).flatMap(_.rows).sum
    rewriteRows - afterRows
  }

  /** U4 pruneBinaryData (SQLite.hs:758-760,1031-1041): anti-join GC of datums
    * referenced by no input. */
  def pruneBinaryData(ix: GraftIndex): Unit = {
    val referenced = ix.table("inputs")
      .where(col("datum_info").isNotNull)
      .select(col("datum_info.hash").as("binary_data_hash"))
    ix.replace("binary_data",
      ix.table("binary_data").join(referenced, Seq("binary_data_hash"), "left_anti"))
  }

  /** S9 copyDatabase (SQLite.hs:476-576): bootstrap a new index as a
    * filtered copy of an existing one — per-pattern row copy in the
    * reference (count → 10k-row queue → batch insert → VACUUM); here ONE
    * declarative job per table: inputs filtered by the pattern set,
    * policies semi-joined to survivors, datums/scripts pruned to referenced
    * hashes, checkpoints copied whole. Returns the new index. */
  def copyFiltered(src: GraftIndex, dstRoot: String, patterns: Set[Pattern]): GraftIndex = {
    val dst = new GraftIndex(src.spark, dstRoot)
    val snap = src.pinned
    // bootstrap scans ONLY the segments that can hold a match (the same
    // window/bloom relevance deleteInputs walks): spinning a per-dapp copy
    // off a 100 TB source reads the patterns' slot windows, not the whole
    // index. Rows outside the relevant segments provably fail the filter,
    // so the copy is byte-identical either way; reconcile still reads the
    // full (bounded) spends delta, so spend marks on surviving rows land.
    val scan = graft.query.FoldInputs.relevantInputSegments(snap, patterns) match {
      case None        => snap.inputsWithSpends
      case Some(paths) =>
        val segs = snap.manifest.tables.getOrElse("inputs", Nil)
          .filter(s => paths.contains(s.path))
        snap.reconcile(snap.readSegments("inputs", segs))
    }
    val kept = scan.where(Pattern.anyOf(patterns))
    // STAGE the inputs copy (bytes land, manifest untouched): the side-table
    // prunes then semi-join against the WRITTEN copy — read-back beats
    // recomputing the filtered reconcile three times AND beats holding the
    // copy in memory (a MatchAny copy of a 100 TB index must not
    // localCheckpoint) — while the whole bootstrap still commits as ONE
    // atomic manifest bump with one covering bloom sidecar
    val keptSeg = dst.stageSegment("inputs", kept)
    val inputsCopy = dst.readSegments("inputs", keptSeg.toList)
    val keptRefs = inputsCopy.select("tx_id", "output_index")
    val keptDatums = inputsCopy
      .where(col("datum_info").isNotNull)
      .select(col("datum_info.hash").as("binary_data_hash"))
    val keptScripts = inputsCopy
      .where(col("script_hash").isNotNull).select("script_hash")
    val spark = src.spark
    import spark.implicits._
    dst.commitAll(replaces = Map(
      "policies" ->
        snap.table("policies").join(keptRefs, Seq("tx_id", "output_index"), "left_semi"),
      // rebuilt (not copied): the copy holds fewer inputs, and a fresh
      // aggregate gives it exact windows instead of the source's stale-wide
      // ones
      "address_stats" -> graft.ingest.MatchBlock.addressStats(inputsCopy),
      "binary_data" ->
        snap.table("binary_data").join(keptDatums, Seq("binary_data_hash"), "left_semi"),
      "scripts" ->
        snap.table("scripts").join(keptScripts, Seq("script_hash"), "left_semi"),
      "patterns" -> patterns.map(_.toText).toSeq.toDF("pattern")),
      staged = Map("inputs" -> keptSeg.toList),
      // safe concurrently: every frame derives from parquet read-backs of
      // the already-written copy / pinned source segments plus one literal
      // local relation — no shared stateful expression instances (see the
      // commitAll serialization note); overlaps five job floors
      concurrentWrites = true)
    // checkpoints copy unfiltered: adopt the immutable segment files
    // verbatim (file-level copy + manifest registration, no Spark job) —
    // from the SAME pinned snapshot the inputs scan read, never the live
    // src: a commit landing mid-copy would otherwise yield a copy whose
    // checkpoints claim sync to a slot whose inputs it lacks (vacuum's
    // grace window keeps the pinned segments alive for the file copy)
    dst.adoptSegments("checkpoints", snap)
    dst
  }

  /** U5 rollbackTo (SQLite.hs:799-819): after rollback to slot s —
    * no row created after s, no spent_at after s (baked-in marks are
    * UN-SPENT, not dropped: SQLite.hs:1057-1059 `UPDATE inputs SET
    * spent_at = NULL WHERE spent_at > s`), no checkpoint after s.
    * Segments entirely beyond s are dropped from the manifest (no IO);
    * segments provably clean (created ≤ s AND max spent_at ≤ s per the
    * manifest spent stat) are kept untouched; everything else is rewritten.
    * Returns the new max checkpoint slot, if any — from the index's tip
    * memo, so a no-op rollback (a resume at the tip) runs no Spark job. */
  def rollbackTo(ix: GraftIndex, s: Long): Option[Long] = {
    // ONE atomic manifest swap for all three tables: a crash mid-rollback
    // can no longer expose inputs cut but checkpoints stale (the state the
    // Resume negotiation recovers from); the straddling-segment rewrites
    // are independent jobs and run concurrently inside commitAll
    val changes = Seq(
      inputsChange(ix, s),
      tableChange(ix, "spends", s, col("spent_at") <= s),
      tableChange(ix, "checkpoints", s, col("slot_no") <= s)).flatten.toMap
    // concurrent: the straddling rewrites are plain filters over disjoint
    // parquet scans — no shared stateful expression instances
    if (changes.nonEmpty) ix.commitAll(replaceKeeping = changes, concurrentWrites = true)
    ix.maxCheckpoint.map(_._1)
  }

  private type Change = (String, (List[GraftIndex.Segment], Option[org.apache.spark.sql.DataFrame]))

  /** inputs-table rollback: drop rows created after s AND null out spend
    * provenance recorded after s. A segment escapes the rewrite only when
    * BOTH its created_at and its spent_at stats prove it untouched —
    * `SpentStat.Unknown` (pre-upgrade manifest) rewrites conservatively. */
  private def inputsChange(ix: GraftIndex, s: Long): Option[Change] = {
    import GraftIndex.SpentStat
    val segs = ix.manifest.tables.getOrElse("inputs", Nil)
    val (dropped, candidates) = segs.partition(_.minSlot.exists(_ > s))
    val (untouched, straddling) = candidates.partition { sg =>
      val createdClean = sg.maxSlot.exists(_ <= s)
      val spentClean = sg.spent match {
        case SpentStat.NoneSpent => true
        case SpentStat.MaxAt(m)  => m <= s
        case SpentStat.Unknown   => false
      }
      createdClean && spentClean
    }
    if (straddling.nonEmpty) {
      val keepSpend = col("spent_at").isNotNull && col("spent_at") <= s
      val df = ix.spark.read
        .schema(ix.table("inputs").schema)
        .parquet(straddling.map(sg => s"${ix.root}/${sg.path}"): _*)
        .where(col("created_at") <= s)
        .withColumn("spent_by", when(keepSpend, col("spent_by")))
        .withColumn("spent_with", when(keepSpend, col("spent_with")))
        .withColumn("spent_at", when(keepSpend, col("spent_at")))
      Some("inputs" -> (untouched, Some(df)))
    } else if (dropped.nonEmpty) {
      Some("inputs" -> (untouched, None))
    } else None
  }

  private def tableChange(ix: GraftIndex, table: String, s: Long,
                          keep: org.apache.spark.sql.Column): Option[Change] = {
    val segs = ix.manifest.tables.getOrElse(table, Nil)
    val (dropped, candidates) = segs.partition(_.minSlot.exists(_ > s))
    val (untouched, straddling) = candidates.partition(_.maxSlot.exists(_ <= s))
    if (straddling.nonEmpty) {
      val df = ix.spark.read
        .schema(ix.table(table).schema)
        .parquet(straddling.map(sg => s"${ix.root}/${sg.path}"): _*)
        .where(keep)
      Some(table -> (untouched, Some(df)))
    } else if (dropped.nonEmpty) {
      Some(table -> (untouched, None))
    } else None
  }
}
