package graft.tools

import graft.index.GraftIndex
import graft.model.Pattern
import graft.query.{Api, FoldInputs}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** End-to-end rehearsal of the WHOLE segment-count-linear read path at
  * 1000+ segments — one order of magnitude past [[SegmentBloomRehearsal]]
  * (which isolates the v6 bloom prune at ≤256). Every 100 TB claim in
  * SCALE.md routes through machinery whose cost is a function of SEGMENT
  * COUNT, not table bytes: the manifest listing, the pinned-snapshot
  * budget (one control-plane read per query), the v4/v5 slot-window
  * prunes, the v6 membership-sketch prune, and the SpentAt-branch window
  * intersection. This builds a real streaming-cadence index — one
  * `commitAll(inputs + policies + address_stats)` per contiguous
  * created_at slice, the Indexer's drain shape — and measures each
  * mechanism together on the same index, failing loudly if any pruned
  * answer diverges from its unpruned twin.
  *
  * A synthetic "mint-window" policy is injected into ONE slice's rows
  * (`map_concat` on value.assets): a real dapp's policy lives in its mint
  * window, which is exactly what the v4 window prune exists for — the
  * derivation's own policies (l_partkey % 5) span every slot and would
  * show the (correct) no-prune answer instead of the machinery.
  *
  * Run: `sbt "runMain graft.tools.ManySegmentRehearsal [sfDir] [nSegs]"`
  * (defaults sf0.001, 1024). Prints one JSON line, recorded in SCALE.md. */
object ManySegmentRehearsal {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val nSegs = args.drop(1).headOption.map(_.toInt).getOrElse(1024)
    val spark = graft.Session()

    val raw = graft.queries.KupoPipelineQueries.derivedShelleyInputs(spark, sfDir)
    val b = raw.agg(min("created_at"), max("created_at")).head()
    val (loAll, hiAll) = (b.getLong(0), b.getLong(1))
    val width = math.max(1L, (hiAll - loAll + 1) / nSegs)
    val bandPolicy = "f" * 56
    // ~4 segments wide: enough rows that some carry baked spent_at marks
    // (the derivation spends the returnflag=R quarter), so the SpentAt
    // branch measures a non-empty intersection
    val bandLo = loAll + (hiAll - loAll) / 2
    val bandHi = bandLo + 4 * width - 1
    val bandAsset = map(lit(bandPolicy),
      map(lit("aa"), lit(1).cast(DecimalType(38, 0))))
    val inputs = raw.withColumn("value", struct(
        col("value.coins").as("coins"),
        when(col("created_at").between(bandLo, bandHi),
          when(col("value.assets").isNull, bandAsset)
            .otherwise(map_concat(col("value.assets"), bandAsset)))
          .otherwise(col("value.assets")).as("assets")))
      .withColumn("_seg", least(lit(nSegs - 1),
        floor((col("created_at") - loAll) / width)).cast("int"))
      .cache()
    inputs.count()

    val ix = new GraftIndex(spark,
      java.nio.file.Files.createTempDirectory("graft-manyseg").toString,
      vacuumGraceMs = 0L)
    val t0 = System.nanoTime()
    (0 until nSegs).foreach { k =>
      val slice = inputs.where(col("_seg") === k).drop("_seg")
      ix.commitAll(appends = Map(
        "inputs" -> slice,
        "policies" -> graft.ingest.MatchBlock.policiesOf(slice),
        "address_stats" -> graft.ingest.MatchBlock.addressStats(slice)))
    }
    val buildSec = (System.nanoTime() - t0) / 1e9
    inputs.unpersist()
    // FoldInputs resolves created header hashes through an INNER checkpoint
    // join (a row without a block cannot exist on a real chain) — give the
    // synthetic index one checkpoint per slot it references
    val cp = ix.table("inputs").select(col("created_at").as("slot_no"))
      .union(ix.table("inputs").where(col("spent_at").isNotNull)
        .select(col("spent_at").as("slot_no")))
      .distinct().withColumn("header_hash", md5(col("slot_no").cast("string")))
    ix.replace("checkpoints", cp)
    val actualSegs = ix.manifest.tables("inputs").size
    // steady state: the streaming drain's tiering pass keeps the sidecar
    // at a handful of segments no matter how many commits produced it
    ix.compactSegments("segment_blooms", 4)
    ix.vacuum(0L)

    def timed[A](body: => A): (Double, A) = {
      val s = System.nanoTime(); val a = body
      ((System.nanoTime() - s) / 1e9, a)
    }
    def best5[A](body: => A): (Double, A) = {
      val runs = (0 until 5).map(_ => timed(body))
      (runs.map(_._1).min, runs.head._2)
    }
    def segsOf(df: DataFrame): Int =
      df.inputFiles.map(f => f.substring(0, f.lastIndexOf('/'))).distinct
        .count(_.contains("/inputs/"))

    // ---- control plane: one manifest read (the per-query budget) ----
    val (manifestSec, m) = best5(
      GraftIndex.Manifest.read(ix.root).get)
    val manifestBytes = java.nio.file.Files.size(
      java.nio.file.Paths.get(ix.root, "manifest.json"))

    // ---- v6 bloom point lookup: probe + scan vs full schedule ----
    val someTx = ix.table("inputs").where(col("created_at") === bandLo)
      .select("tx_id").head().getString(0)
    // warm both shapes
    ix.table("inputs").where(col("tx_id") === someTx).count()
    ix.tableKeyPoint("inputs", "tx_id", someTx).where(col("tx_id") === someTx).count()
    val (probeSec, candidates) = best5(
      ix.keyCandidates(m, "inputs", "tx_id", someTx,
        m.tables("inputs")).map(_.size).getOrElse(-1))
    val (tFull, nFull) = best5(
      ix.table("inputs").where(col("tx_id") === someTx).count())
    val (tPoint, nPoint) = best5(
      ix.tableKeyPoint("inputs", "tx_id", someTx)
        .where(col("tx_id") === someTx).count())
    require(nFull == nPoint, s"bloom prune diverged: $nFull vs $nPoint")

    // ---- v4 policy window: the mint-window pattern ----
    import Api._
    val polQ = MatchesQuery(Pattern.MatchPolicyId(bandPolicy).toText)
    val polSegs = segsOf(FoldInputs(ix, polQ))
    val (tPol, nPol) = best5(FoldInputs(ix, polQ).count())
    val (tPolFull, nPolFull) = best5(ix.table("inputs")
      .where(Pattern.MatchPolicyId(bandPolicy).toPredicate).count())
    require(nPol == nPolFull, s"policy window diverged: $nPol vs $nPolFull")

    // ---- SpentAt branch: policy window ∩ spent stats at 1k segments ----
    val spentQ = MatchesQuery(Pattern.MatchPolicyId(bandPolicy).toText,
      range = SlotRange(field = RangeField.SpentAt, lowerBound = Some(loAll)))
    val spentSegs = segsOf(FoldInputs(ix, spentQ))
    val (tSpent, nSpent) = best5(FoldInputs(ix, spentQ).count())
    val nSpentFull = ix.table("inputs")
      .where(Pattern.MatchPolicyId(bandPolicy).toPredicate &&
        col("spent_at").isNotNull && col("spent_at") >= loAll).count()
    require(nSpent == nSpentFull, s"spent-range window diverged: $nSpent vs $nSpentFull")

    // ---- steady state: the drain's tiering pass keeps the (tiny) side
    // tables at a handful of segments even when the fact table legitimately
    // holds thousands — re-measure the window-served shapes with the probe
    // cost it actually pays in production ----
    Seq("policies", "address_stats", "checkpoints").foreach(t =>
      ix.compactSegments(t, maxSegments = 4))
    ix.vacuum(0L)
    require(ix.manifest.tables("inputs").size == actualSegs,
      "side-table tiering must not touch the fact table")
    val (tPolTiered, nPolTiered) = best5(FoldInputs(ix, polQ).count())
    require(nPolTiered == nPolFull, s"tiered policy window diverged: $nPolTiered vs $nPolFull")
    val (tSpentTiered, nSpentTiered) = best5(FoldInputs(ix, spentQ).count())
    require(nSpentTiered == nSpentFull, s"tiered spent-range diverged: $nSpentTiered vs $nSpentFull")
    val (planTieredSec, _) = timed(FoldInputs(ix, polQ))

    // ---- pinned-manifest budget holds at this scale ----
    GraftIndex.Manifest.trackReads = true
    val before = GraftIndex.Manifest.readsOf(ix.root)
    val (planSec, _) = timed(FoldInputs(ix, polQ))
    val reads = GraftIndex.Manifest.readsOf(ix.root) - before
    require(reads == 1, s"plan construction read the manifest ${reads}x")

    // ================= MUTATION SIDE (round 14) =================
    // G.1 above proves the READ path segment-count-sublinear; the U1/U2/U5/
    // U7 "index-walking" claims were only ever tested on ≤8-segment
    // fixtures. Measure each on THIS index, counting touched segments off
    // manifest path-diffs and asserting identical answers in-run. Every
    // mutation below is ordered so its fixture state is still available:
    // reconcile (non-destructive) → rollback (tail segment) → spends
    // compaction (head band) → narrow delete (mint band).
    def inputPaths() = ix.manifest.tables("inputs").map(_.path).toSet

    // -- U2a: absent-key delete touches zero bytes at 1000+ segments --
    val pathsA = inputPaths()
    val vA = ix.manifest.version
    val (tDelAbsent, nDelAbsent) = timed(
      graft.index.Mutations.deleteInputs(ix, Set[Pattern](Pattern.MatchPolicyId("e" * 56))))
    require(nDelAbsent == 0L && ix.manifest.version == vA,
      s"absent-key delete deleted $nDelAbsent rows / bumped the manifest")

    // -- U1: reconcile with a delta, broadcast vs over-threshold shuffle --
    // marks live in the FIRST two segments' slot band (disjoint from the
    // mint band and the rollback tail, so later phases are undisturbed)
    val markHi = loAll + 2 * width - 1
    val marks = ix.table("inputs")
      .where(col("created_at").between(loAll, markHi) && col("spent_at").isNull)
      .select(col("tx_id"), col("output_index"),
        (col("created_at") + lit(1L)).as("spent_at"),
        struct(col("tx_id").as("tx_id"), lit(0).cast("int").as("input_index")).as("spent_by"),
        lit(null).cast("string").as("spent_with"))
    graft.index.Mutations.markInputs(ix, marks)
    val deltaRows = ix.manifest.tables("spends").flatMap(_.rows).sum
    val recQ = () => ix.inputsWithSpends
      .where(col("spent_at").isNotNull && col("spent_at") <= markHi + 1).count()
    val (tRecBroadcast, nRecB) = best5(recQ())
    spark.conf.set("spark.graft.spends.broadcastMaxRows", math.max(1L, deltaRows - 1).toString)
    val (tRecShuffle, nRecS) = best5(recQ())
    spark.conf.unset("spark.graft.spends.broadcastMaxRows")
    require(nRecB == nRecS, s"gated reconcile diverged: $nRecB vs $nRecS")

    // -- U7: compactSpends bakes the delta into ONLY the marked band --
    val pathsB = inputPaths()
    val totalRowsB = ix.manifest.tables("inputs").flatMap(_.rows).sum
    val (tCompact, _) = timed(ix.compactSpends())
    val pathsC = inputPaths()
    val compactTouched = (pathsB -- pathsC).size
    require(ix.manifest.tables.getOrElse("spends", Nil).isEmpty, "delta must clear")
    require(ix.manifest.tables("inputs").flatMap(_.rows).sum == totalRowsB,
      "compactSpends must conserve rows")
    val nBaked = ix.table("inputs")
      .where(col("created_at").between(loAll, markHi) && col("spent_at").isNotNull).count()
    require(nBaked >= nRecB, s"marks not baked: $nBaked < $nRecB")

    // -- U5: rollback straddling the TAIL segment (spent_at = created+5 in
    // this derivation, so stats prove everything else clean) --
    val tailSeg = ix.manifest.tables("inputs").maxBy(_.minSlot.getOrElse(0L))
    val rbSlot = (tailSeg.minSlot.get + tailSeg.maxSlot.get) / 2
    val expectRows = ix.table("inputs").where(col("created_at") <= rbSlot).count()
    val pathsD = inputPaths()
    val (tRollback, _) = timed(graft.index.Mutations.rollbackTo(ix, rbSlot))
    val pathsE = inputPaths()
    val rbTouched = (pathsD -- pathsE).size
    require(ix.table("inputs").count() == expectRows, "rollback row cut diverged")
    require(ix.table("inputs").agg(max("spent_at")).head().getLong(0) <= rbSlot,
      "rollback left a future spend mark")

    // -- U2b: narrow delete walks the policy window, keeps the rest --
    val pathsF = inputPaths()
    val expectDel = ix.table("inputs")
      .where(Pattern.MatchPolicyId(bandPolicy).toPredicate).count()
    val (tDelBand, nDelBand) = timed(
      graft.index.Mutations.deleteInputs(ix, Set[Pattern](Pattern.MatchPolicyId(bandPolicy))))
    val pathsG = inputPaths()
    val delTouched = (pathsF -- pathsG).size
    require(nDelBand == expectDel, s"delete count diverged: $nDelBand vs $expectDel")
    require(ix.table("inputs").where(Pattern.MatchPolicyId(bandPolicy).toPredicate).count() == 0L)
    val segsAfter = ix.manifest.tables("inputs").size

    println(f"""{"rehearsal":"many_segment","sf":"$sfDir","segments":$actualSegs,"build_sec":$buildSec%.1f,"manifest":{"bytes":$manifestBytes,"read_sec":$manifestSec%.4f,"reads_per_query":$reads,"plan_sec":$planSec%.4f,"plan_sec_tiered_sides":$planTieredSec%.4f},"point":{"unpruned_sec":$tFull%.4f,"pruned_sec":$tPoint%.4f,"probe_sec":$probeSec%.4f,"candidates":$candidates,"rows":$nFull},"policy_window":{"segments_scanned":$polSegs,"sec":$tPol%.4f,"sec_tiered_sides":$tPolTiered%.4f,"unpruned_sec":$tPolFull%.4f,"rows":$nPol},"policy_spent_range":{"segments_scanned":$spentSegs,"sec":$tSpent%.4f,"sec_tiered_sides":$tSpentTiered%.4f,"rows":$nSpent},"mutations":{"delete_absent":{"sec":$tDelAbsent%.4f,"touched":0},"reconcile":{"delta_rows":$deltaRows,"broadcast_sec":$tRecBroadcast%.4f,"shuffle_sec":$tRecShuffle%.4f,"rows":$nRecB},"compact_spends":{"sec":$tCompact%.1f,"touched_segments":$compactTouched,"of":${pathsB.size}},"rollback":{"sec":$tRollback%.1f,"touched_segments":$rbTouched,"of":${pathsD.size}},"delete_band":{"sec":$tDelBand%.1f,"touched_segments":$delTouched,"of":${pathsF.size},"rows_deleted":$nDelBand,"segments_after":$segsAfter}}}""")
    spark.stop()
  }
}
