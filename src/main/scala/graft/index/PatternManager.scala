package graft.index

import graft.ingest.MatchBlock
import graft.model.Pattern
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pattern management — U6 and the pattern-set HTTP surface
  * (/root/reference/src/Kupo/App/Http.hs:409-453 listing, :686-704 deletes,
  * :843-916 PUT with forced rollback; SURVEY.md §2.5 U6).
  *
  * The reference reacts to `PUT /patterns` by inserting the pattern and
  * REWINDING the whole indexer to a point within the safe zone so the new
  * pattern sees history (producer restart, App.hs:328-346). A rewind is the
  * right move for a cursor-driven single-pass indexer; for a Spark batch
  * engine the equivalent is cheaper and non-disruptive: re-run the ingest
  * kernel over the historical block range for ONLY the new patterns and
  * union the results into the index (SURVEY.md §2.5 U6 mapping). Rows the
  * old pattern set already matched are excluded by an anti-join on the PK,
  * so the operation is idempotent and never duplicates. */
object PatternManager {

  /** Safe-zone guard, mirroring ForcedRollback's `limit` field
    * (/root/reference/src/Kupo/Data/Http/ForcedRollback.hs): rewinding
    * beyond `longestRollback` slots needs an explicit unsafe opt-in. */
  final case class SafeZoneViolation(since: Long, floor: Long)
    extends RuntimeException(s"since=$since is beyond the safe zone (floor=$floor); " +
      "pass allowUnsafe=true to force (limit: unsafe_allow_beyond_safe_zone)")

  /** Point-assertion failures for a full `since` point, mirroring the
    * reference's ErrPointNotFound / ErrPointMismatch
    * (/root/reference/src/Kupo/App/Http.hs:843-916 via assertPointExists). */
  final case class PointNotFound(slot: Long)
    extends RuntimeException(s"no known checkpoint at slot $slot")
  final case class PointMismatch(slot: Long, expected: String, actual: String)
    extends RuntimeException(
      s"checkpoint at slot $slot has header $actual, not $expected")

  /** U6 putPatterns: register `newPatterns` and backfill their history from
    * `blocks` (the block source, already normalized to Schemas.blockType)
    * starting at slot `since`. When `sinceHeaderHash` is given, `since` is a
    * full point and must name a KNOWN checkpoint (the reference validates
    * PUT /patterns rollback points the same way, Http.hs:843-916). One
    * manifest bump per table touched; existing matches are untouched. */
  def putPatterns(ix: GraftIndex, blocks: DataFrame, newPatterns: Set[Pattern],
                  since: Long, longestRollback: Long = 36 * 3600,
                  allowUnsafe: Boolean = false,
                  sinceHeaderHash: Option[String] = None): Unit = {
    val tip = ix.maxCheckpoint.fold(0L)(_._1)
    val floor = tip - longestRollback
    if (since < floor && !allowUnsafe) throw SafeZoneViolation(since, floor)
    sinceHeaderHash.foreach { expected =>
      ix.table("checkpoints").where(col("slot_no") === since)
        .collect().headOption match {
        case None => throw PointNotFound(since)
        case Some(r) if r.getString(1) != expected =>
          throw PointMismatch(since, expected, r.getString(1))
        case _ => ()
      }
    }

    val active = currentPatterns(ix)
    val backfill = newPatterns.diff(active)
    if (backfill.nonEmpty) {
      val m = MatchBlock(blocks.where(col("slot_no") >= since), backfill)
      val existing = ix.table("inputs").select("tx_id", "output_index")
      // only rows no active pattern already produced (PK anti-join keeps the
      // union duplicate-free without waiting for compaction)
      val fresh = m.produced.join(existing, Seq("tx_id", "output_index"), "left_anti")
      // ONE atomic bump for the whole backfill batch (the S8 discipline —
      // a crash mid-backfill can no longer expose inputs without their
      // policies/address_stats superset rows). commitAll, not
      // append("inputs", …): append would auto-derive the side tables and
      // double-write the explicit policies batch below. Duplicate stats
      // rows would be harmless to the window aggregate, but the anti-joined
      // policies batch is exact — keep it that way.
      ix.commitAll(appends = Map(
        "inputs" -> fresh,
        "policies" -> m.policies.join(existing, Seq("tx_id", "output_index"), "left_anti"),
        "address_stats" -> graft.ingest.MatchBlock.addressStats(fresh),
        "binary_data" -> m.datums,
        "scripts" -> m.scripts))
      Mutations.markInputs(ix, m.spends)
    }
    setPatterns(ix, active ++ newPatterns)
  }

  /** DELETE /matches/{pattern} (Http.hs:686-704): refuse while the pattern
    * overlaps the active set — deleting its matches would tear rows out from
    * under a still-active subscription. Returns rows deleted. */
  def deleteMatches(ix: GraftIndex, p: Pattern): Either[String, Long] = {
    val active = currentPatterns(ix)
    if (p.overlaps(active)) Left("still-active pattern: matches are covered by the active set")
    else Right(Mutations.deleteInputs(ix, Set(p)))
  }

  /** DELETE /patterns/{pattern}: retire patterns from the active set (their
    * matches stay until deleteMatches/GC — same split as the reference). */
  def removePatterns(ix: GraftIndex, ps: Set[Pattern]): Unit =
    setPatterns(ix, currentPatterns(ix) -- ps)

  /** GET /patterns/{pattern} (Http.hs:409-417): active patterns included in
    * the given one (`includes` partial order, Pattern.hs:179-216). */
  def listPatterns(ix: GraftIndex, within: Option[Pattern] = None): Seq[Pattern] = {
    val all = currentPatterns(ix).toSeq
    within match {
      case None    => all
      case Some(p) => all.filter(p.includes)
    }
  }

  /** R10 GET /checkpoints/{slot}?strict (Http.hs:557-581): greatest
    * checkpoint at-or-before the slot (listAncestorsDesc(slot+1, 1)); strict
    * mode requires an exact hit. Under the inline bound both answer from
    * the checkpoints memo ([[GraftIndex.checkpointsMemo]]) with no Spark
    * job. Above it they read only the segments whose slot stats allow an
    * answer: strict equality-probes the segments whose [min, max] contains
    * the slot (one task on a slot-ordered index, not one per segment),
    * non-strict skips the segments starting after it. Each is one job: the
    * equality collects its (duplicate-only) rows whole, where a `limit(1)`
    * would scan partition by partition and pay a second job whenever the
    * first partition misses. */
  def getCheckpointBySlot(ix0: GraftIndex, slot: Long, strict: Boolean = false): Option[(Long, String)] = {
    val ix = ix0.pinned
    ix.checkpointsMemo match {
      case Some(cps) =>
        if (strict) cps.bySlot.get(slot).map(slot -> _) else cps.bySlot.rangeTo(slot).lastOption
      case None =>
        val hit =
          if (strict)
            ix.tableSlotRange("checkpoints", Some(slot), Some(slot))
              .where(col("slot_no") === slot)
          else
            ix.tableSlotRange("checkpoints", None, Some(slot))
              .where(col("slot_no") <= slot).orderBy(col("slot_no").desc).limit(1)
        hit.collect().headOption.map(r => (r.getLong(0), r.getString(1)))
    }
  }

  def currentPatterns(ix: GraftIndex): Set[Pattern] =
    ix.table("patterns").collect().flatMap(r => Pattern.fromText(r.getString(0))).toSet

  private def setPatterns(ix: GraftIndex, ps: Set[Pattern]): Unit = {
    val spark = ix.spark
    import spark.implicits._
    ix.replace("patterns", ps.map(_.toText).toSeq.toDF("pattern"))
  }
}
