package graft.ingest

import graft.index.GraftIndex
import graft.model.Pattern
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.storage.StorageLevel

/** Input-management policy — the reference's `--prune-utxo` switch
  * (/root/reference/src/Kupo/App.hs:558-577): what happens to an index row
  * when its output is consumed. */
sealed trait InputManagement

/** Reference default: consumed refs append as spend MARKS; rows stay until
  * the periodic gardener ([[graft.index.Mutations.pruneInputs]]) collects
  * them once they fall out of the rollback-unstable window. */
case object MarkSpentInputs extends InputManagement

/** The `--prune-utxo` analogue (App.hs RemoveSpentInputs): a consumed row
  * is DROPPED in the same commit — but only when the spend is deeper than
  * the unstable window (`spent_at < tipSlot − longestRollback`, the
  * reference's distanceToTip guard); shallower spends are marked so a
  * rollback can still resurrect them, exactly the reference's fallback.
  *
  * Spark-first scope: the in-commit drop applies to BATCH-INTERNAL spends
  * (rows produced and consumed inside the same micro-batch never land at
  * all — the dominant case for UTxO churn). Safe spends of rows committed
  * by EARLIER batches stay marks for the gardener: the reference deletes
  * them in place because a B-tree delete is cheap, but here that would
  * rewrite already-sealed parquet segments on every batch — O(affected
  * segments) per micro-batch at 100 TB. `ingest ∘ pruneInputs` reaches
  * the identical end state (model-tested in IndexSpec), with strictly
  * fewer rows ever written than mark mode.
  *
  * Dropping a row's spend MARK along with it is safe only if the row was
  * never committed before — after a crash an OVERLAPPING batch may
  * re-ingest a produce that an earlier batch already sealed (the INSERT
  * OR IGNORE path), and losing its spend mark would leave that earlier
  * copy visible as unspent forever. Overlap is decidable in O(1) from
  * manifest stats: a batch whose min slot is beyond the committed
  * checkpoint tip cannot re-deliver anything sealed (the steady-state
  * forward case — marks of in-batch-dropped rows are dropped too, and the
  * spends delta stays bounded by churn). A batch at or below the tip MAY
  * overlap, so its marks all land; a mark whose row truly never landed
  * simply dangles — [[graft.index.GraftIndex.reconcile]] left-joins marks
  * onto inputs, so it is invisible to every read, and the next
  * pruneInputs / compact sweeps the delta entirely. */
final case class RemoveSpentInputs(longestRollback: Long, tipSlot: Long)
  extends InputManagement

/** Batch ingest driver: one call = one micro-batch = one atomic manifest
  * bump, mirroring the reference's consumer transaction
  * (/root/reference/src/Kupo/App.hs:512-577: insertCheckpoints → insertInputs
  * → insertPolicies → markInputs → insertBinaryData/insertScripts).
  * Appends are idempotent (PK dedup at read/compaction), so re-ingesting an
  * overlapping batch is safe — the INSERT OR IGNORE analogue (SQLite.hs:831-844). */
object Indexer {

  def ingest(ix: GraftIndex, blocks: DataFrame, patterns: Set[Pattern],
             inputManagement: InputManagement = MarkSpentInputs): Unit = {
    // the normalized blocks are computed ONCE, in one job, and every frame
    // of the batch reads those rows: its seven tables then share no
    // expression the optimizer evaluates, so their writes may overlap
    // (commitAll checks it), and an empty batch ends here. A caller's own
    // cache is used as it is and left in place.
    val owned = blocks.storageLevel == StorageLevel.NONE
    if (owned) blocks.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // counted with AQE off: one job builds the rows and counts them
      val n = GraftIndex.describedAs(ix.spark, "graft.ingest materialize")(
        GraftShim.rebind(GraftIndex.noAqeSession(ix.spark), blocks).count())
      if (n > 0) commit(ix, MatchBlock(blocks, patterns), inputManagement)
    } finally if (owned) blocks.unpersist()
  }

  private def commit(ix: GraftIndex, m: Match, inputManagement: InputManagement): Unit = {
    val (produced, spends) = inputManagement match {
      case MarkSpentInputs => (m.produced, m.spends)
      case RemoveSpentInputs(longestRollback, tipSlot) =>
        // strict <, matching the reference's distanceToTip > unstableWindow
        val safe = m.spends.where(col("spent_at") < lit(tipSlot - longestRollback))
          .select("tx_id", "output_index")
        // rows produced AND safely consumed within this batch never land
        val removed = safe.join(m.produced.select("tx_id", "output_index"),
          Seq("tx_id", "output_index"), "left_semi")
        // their marks drop with them ONLY when this batch provably cannot
        // overlap sealed data (min batch slot beyond the committed tip —
        // O(1) from manifest stats + one tiny agg over the batch's own
        // checkpoints). A possibly-overlapping batch keeps every mark: a
        // re-delivered produce may duplicate a row an earlier batch
        // committed, and that copy still needs its spend (see the
        // RemoveSpentInputs scaladoc; IndexSpec pins the regression).
        val committedTip = ix.manifest.tables.getOrElse("checkpoints", Nil)
          .flatMap(_.maxSlot).maxOption
        val batchMin = m.checkpoints.agg(min(col("slot_no"))).head() match {
          case r if r.isNullAt(0) => None
          case r                  => Some(r.getLong(0))
        }
        val mayOverlap = (committedTip, batchMin) match {
          case (Some(t), Some(b)) => b <= t
          case _                  => false
        }
        (m.produced.join(removed, Seq("tx_id", "output_index"), "left_anti"),
          if (mayOverlap) m.spends
          else m.spends.join(removed, Seq("tx_id", "output_index"), "left_anti"))
    }
    // ONE atomic manifest bump for the whole batch (the reference's
    // one-transaction-per-drain), its seven segment writes overlapping
    ix.commitAll(appends = Map(
      "checkpoints" -> m.checkpoints,
      "inputs" -> produced,
      "policies" -> m.policies,
      "address_stats" -> MatchBlock.addressStats(produced),
      "binary_data" -> m.datums,
      "scripts" -> m.scripts,
      "spends" -> spends),
      concurrentWrites = true)
  }

  def setPatterns(ix: GraftIndex, patterns: Set[Pattern]): Unit = {
    val spark = ix.spark
    import spark.implicits._
    ix.replace("patterns", patterns.map(_.toText).toSeq.toDF("pattern"))
  }

  def getPatterns(ix: GraftIndex): Set[Pattern] =
    ix.table("patterns").collect().flatMap(r => Pattern.fromText(r.getString(0))).toSet
}
