package graft

import graft.index.{GraftIndex, Mutations, PatternManager}
import graft.ingest.Indexer
import graft.model.Pattern
import graft.tools.FixtureChain
import graft.query.{Api, FoldInputs}
import org.apache.spark.sql.functions._

/** End-to-end: generated chain → MatchBlock ingest → GraftIndex → FoldInputs,
  * compared against a straight-line in-memory Scala model (ports the idea of
  * the reference's model-based suite, /root/reference/test/Test/Kupo/AppSpec.hs). */
class IndexSpec extends SparkSpec {
  import Api._

  // ---- in-memory model ----
  final case class ModelRow(txId: String, outIx: Int, txIx: Int, address: String,
                            coins: Long, assets: Map[String, Map[String, Long]],
                            createdAt: Long, var spentAt: Option[Long] = None)

  private def runModel(blocks: Seq[FixtureChain.Blk], patterns: Set[Pattern]): Seq[ModelRow] = {
    val rows = scala.collection.mutable.ArrayBuffer.empty[ModelRow]
    blocks.foreach { blk =>
      blk.txs.zipWithIndex.foreach { case (tx, txIx) =>
        tx.outputs.zipWithIndex.foreach { case (o, oIx) =>
          val matches = patterns.exists {
            case p @ (Pattern.MatchAny(_) | Pattern.MatchExact(_) | Pattern.MatchPayment(_) |
                      Pattern.MatchDelegation(_) | Pattern.MatchPaymentAndDelegation(_, _)) =>
              p.matchesAddress(o.address)
            case Pattern.MatchTransactionId(t)       => t == tx.id
            case Pattern.MatchOutputReference(t, i)  => t == tx.id && i == oIx
            case Pattern.MatchPolicyId(p)            => o.assets.contains(p)
            case Pattern.MatchAssetId(p, a)          => o.assets.get(p).exists(_.contains(a))
            case Pattern.MatchMetadataTag(tag)       => tx.metadataLabels.contains(tag)
          }
          if (matches) rows += ModelRow(tx.id, oIx, txIx, o.address, o.coins, o.assets, blk.slot)
        }
        tx.inputs.foreach { case (t, i) =>
          rows.find(r => r.txId == t && r.outIx == i).foreach(_.spentAt = Some(blk.slot))
        }
      }
    }
    rows.toSeq
  }

  private val patterns: Set[Pattern] = Set(Pattern.MatchAny(includingBootstrap = false))
  private lazy val blocks = FixtureChain.chain(12)
  private lazy val model = runModel(blocks, patterns)

  private def freshIndex(): GraftIndex = {
    val ix = new GraftIndex(spark, tmpDir("graft-ix"))
    // ingest in 3 micro-batches of 4 blocks to exercise multi-segment reads
    blocks.grouped(4).foreach { batch =>
      Indexer.ingest(ix, FixtureChain.toDf(spark, batch), patterns)
    }
    ix
  }

  private lazy val ix = freshIndex()

  test("ingest matches the model: row set, spent marks") {
    val got = ix.inputsWithSpends
      .select("tx_id", "output_index", "created_at", "spent_at")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toSet
    val want = model.map(r => (r.txId, r.outIx, r.createdAt, r.spentAt)).toSet
    assert(got == want)
  }

  test("bootstrap outputs are excluded by OnlyShelley") {
    assert(ix.table("inputs").where(col("address").startsWith("00")).count() == 0)
    assert(model.forall(r => !r.address.startsWith("00")))
  }

  test("foldInputs: unspent-only, desc order, matches model") {
    val res = FoldInputs(ix, MatchesQuery("*/*", status = StatusFlag.OnlyUnspent))
    val got = res.select("transaction_id", "output_index").collect()
      .map(r => (r.getString(0), r.getInt(1)))
    val want = model.filter(_.spentAt.isEmpty)
      .sortBy(r => (-r.createdAt, -r.txIx, -r.outIx))
      .map(r => (r.txId, r.outIx))
    assert(got.toSeq == want)
  }

  test("foldInputs: created_at range + asc order") {
    val res = FoldInputs(ix, MatchesQuery("*/*",
      range = SlotRange(RangeField.CreatedAt, Some(30L), Some(70L)),
      order = SortDirection.Asc))
    val got = res.select(col("transaction_id"), col("output_index"), col("created_at.slot_no")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val want = model.filter(r => r.createdAt >= 30 && r.createdAt <= 70)
      .sortBy(r => (r.createdAt, r.txIx, r.outIx))
      .map(r => (r.txId, r.outIx, r.createdAt))
    assert(got.toSeq == want)
  }

  test("foldInputs: spent_at range selects only spent rows in window") {
    val res = FoldInputs(ix, MatchesQuery("*/*",
      range = SlotRange(RangeField.SpentAt, Some(40L), None)))
    val got = res.select("transaction_id", "output_index").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    val want = model.filter(_.spentAt.exists(_ >= 40)).map(r => (r.txId, r.outIx)).toSet
    assert(got == want)
  }

  test("foldInputs: spent_at range answers identically from pruned segments after compact") {
    val ix2 = freshIndex()
    ix2.compact() // empty delta → segment pruning by spent stats kicks in
    val res = FoldInputs(ix2, MatchesQuery("*/*",
      range = SlotRange(RangeField.SpentAt, Some(40L), None)))
    val got = res.select("transaction_id", "output_index").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    val want = model.filter(_.spentAt.exists(_ >= 40)).map(r => (r.txId, r.outIx)).toSet
    assert(got == want)
    // a bound beyond every spend prunes every segment
    assert(FoldInputs(ix2, MatchesQuery("*/*",
      range = SlotRange(RangeField.SpentAt, Some(100000L), None))).count() == 0)
  }

  test("foldInputs: point-form range bounds are asserted against checkpoints") {
    val b = blocks.head // slot 10
    // exact point accepted
    assert(FoldInputs(ix, MatchesQuery("*/*",
      range = SlotRange(RangeField.CreatedAt, Some(b.slot), None,
        lowerBoundHash = Some(b.headerHash)))).count() > 0)
    intercept[Api.PointNotFound] {
      FoldInputs(ix, MatchesQuery("*/*",
        range = SlotRange(RangeField.CreatedAt, Some(b.slot + 1), None,
          lowerBoundHash = Some(b.headerHash))))
    }
    intercept[Api.PointMismatch] {
      FoldInputs(ix, MatchesQuery("*/*",
        range = SlotRange(RangeField.CreatedAt, None, Some(b.slot),
          upperBoundHash = Some("ff" * 32))))
    }
  }

  test("foldInputs: delegation pattern narrows results") {
    val delCred = FixtureChain.baseAddr(0, 0).substring(2, 58)
    val res = FoldInputs(ix, MatchesQuery(s"*/$delCred"))
    val got = res.select("address").distinct().collect().map(_.getString(0)).toSet
    val want = model.filter(_.address.startsWith("01" + delCred)).map(_.address).toSet
    assert(got == want && got.nonEmpty)
  }

  test("foldInputs: policy pattern via the value map") {
    val policy = graft.tools.FixtureChain.hex28(50)
    val res = FoldInputs(ix, MatchesQuery(s"$policy.*"))
    val got = res.select("transaction_id", "output_index").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    val want = model.filter(_.assets.contains(policy)).map(r => (r.txId, r.outIx)).toSet
    assert(got == want && got.nonEmpty)
  }

  test("foldInputs: checkpoint header hashes joined for created and spent points") {
    val res = FoldInputs(ix, MatchesQuery("*/*", status = StatusFlag.OnlySpent))
    val hashes = blocks.map(b => b.slot -> b.headerHash).toMap
    res.select(col("created_at.slot_no"), col("created_at.header_hash"),
               col("spent_at.slot_no"), col("spent_at.header_hash"))
      .collect().foreach { r =>
        assert(hashes(r.getLong(0)) == r.getString(1))
        assert(hashes(r.getLong(2)) == r.getString(3))
      }
  }

  test("spent provenance carries spending tx and redeemer") {
    val res = FoldInputs(ix, MatchesQuery("*/*", status = StatusFlag.OnlySpent))
      .select(col("spent_at.transaction_id"), col("spent_at.redeemer"))
      .collect()
    assert(res.nonEmpty && res.forall(r => r.getString(0) != null && r.getString(0).length == 64))
    assert(res.exists(r => r.getString(1) != null)) // some spends carry redeemers
  }

  test("resolve_hashes inlines datums") {
    val res = FoldInputs(ix, MatchesQuery("*/*", resolveHashes = true))
    val withDatum = res.where(col("datum_type") === "inline" && col("datum").isNotNull)
    assert(withDatum.count() > 0)
  }

  test("R1/R2/R3: counts and policy projection") {
    assert(FoldInputs.countInputs(ix, "*/*") == model.size)
    val wantPolicies = model.flatMap(r => r.assets.keys.map(p => (r.txId, r.outIx, p))).toSet
    val gotPolicies = FoldInputs.foldPolicies(ix, "*/*").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(gotPolicies == wantPolicies)
    assert(FoldInputs.countPolicies(ix, "*/*") == wantPolicies.map(_._3).size)
  }

  test("balanceByPayment: unspent lovelace + utxo count per credential match the model") {
    val want = model.filter(_.spentAt.isEmpty)
      .groupBy(r => r.address.takeRight(56))
      .map { case (cred, rs) => cred -> (rs.size.toLong, rs.map(_.coins).sum) }
    val got = FoldInputs.balanceByPayment(ix, "*/*").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want)
    // credential-keyed partial aggregate: map-side combine before the one
    // exchange — the payload never shuffles
    val plan = FoldInputs.balanceByPayment(ix, "*/*")
      .queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
    assert(plan.contains("partial"), plan)
  }

  test("holdersByPolicy: live utxo count + distinct credentials per policy match the model") {
    val live = model.filter(_.spentAt.isEmpty)
    val want = live.flatMap(r => r.assets.keys.map(p => (p, r.address.takeRight(56))))
      .groupBy(_._1)
      .map { case (p, xs) => p -> (xs.size.toLong, xs.map(_._2).distinct.size.toLong) }
    val got = FoldInputs.holdersByPolicy(ix, "*").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want && got.nonEmpty)
  }

  test("policies side table agrees with the value map") {
    val viaTable = ix.table("policies").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    val viaMap = FoldInputs.foldPolicies(ix, "*").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(viaTable == viaMap)
  }

  test("R6: log-spaced checkpoints start at tip, are distinct and descending") {
    val cps = FoldInputs.listCheckpointsDesc(ix).collect().map(_.getLong(0)).toSeq
    assert(cps.head == blocks.map(_.slot).max)
    assert(cps == cps.distinct && cps == cps.sorted.reverse)
  }

  test("R7/R8: ancestors and max checkpoint") {
    val anc = FoldInputs.listAncestorsDesc(ix, 50L, 3).collect().map(_.getLong(0)).toSeq
    assert(anc == Seq(40L, 30L, 20L))
    assert(FoldInputs.maxCheckpoint(ix).map(_._1).contains(blocks.map(_.slot).max))
  }

  test("R10: checkpoint by slot reads only segments that can answer; answers unchanged") {
    val g = new GraftIndex(spark, tmpDir("graft-cp-slot"))
    blocks.grouped(3).foreach(b => Indexer.ingest(g, FixtureChain.toDf(spark, b), patterns))
    val segs = g.manifest.tables("checkpoints")
    assert(segs.size >= 3)
    val all = g.table("checkpoints").collect().map(r => (r.getLong(0), r.getString(1)))
    val slots = all.map(_._1)
    ((0L to slots.max + 2).filter(s => s % 5 == 0 || slots.contains(s)) :+ slots.max).foreach { s =>
      val atOrBefore = all.filter(_._1 <= s).maxByOption(_._1)
      assert(PatternManager.getCheckpointBySlot(g, s) == atOrBefore, s"slot $s")
      assert(PatternManager.getCheckpointBySlot(g, s, strict = true) ==
        atOrBefore.filter(_._1 == s), s"strict slot $s")
    }
    // a strict hit opens the one segment whose slot range covers it
    val covering = g.tableSlotRange("checkpoints", Some(slots.max), Some(slots.max)).inputFiles
      .map(f => f.substring(0, f.lastIndexOf('/'))).distinct
    assert(covering.length == 1, covering.mkString(", "))
  }

  test("R4: binary data point lookup") {
    val someHash = ix.table("binary_data").limit(1).collect().headOption.map(_.getString(0))
    assert(someHash.nonEmpty)
    assert(FoldInputs.getBinaryData(ix, someHash.get).nonEmpty)
  }

  test("compactSpends() folds the delta into only the touched segments") {
    val ix2 = new GraftIndex(spark, tmpDir("graft-partial-compact"))
    val p = Set[Pattern](Pattern.MatchAny(includingBootstrap = true))
    // batch 1: blocks at slots 10/20, nothing spent
    val txA = FixtureChain.hex32(555001); val txB = FixtureChain.hex32(555002)
    val b10 = FixtureChain.Blk(10L, FixtureChain.hex32(666001),
      Seq(FixtureChain.Tx(txA, Nil, Seq(FixtureChain.Out(FixtureChain.baseAddr(0, 0), 1L)))))
    Indexer.ingest(ix2, FixtureChain.toDf(spark, Seq(b10)), p)
    val seg10 = ix2.manifest.tables("inputs").map(_.path).toSet
    // batch 2: block at slot 500 creates R and spends it in the same block
    val txC = FixtureChain.hex32(555003)
    val b500 = FixtureChain.Blk(500L, FixtureChain.hex32(666002), Seq(
      FixtureChain.Tx(txB, Nil, Seq(FixtureChain.Out(FixtureChain.baseAddr(1, 0), 2L))),
      FixtureChain.Tx(txC, Seq((txB, 0)),
        Seq(FixtureChain.Out(FixtureChain.baseAddr(2, 1), 3L)))))
    Indexer.ingest(ix2, FixtureChain.toDf(spark, Seq(b500)), p)
    val before = ix2.inputsWithSpends
      .select("tx_id", "output_index", "spent_at").collect()
      .map(r => (r.getString(0), r.getInt(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toSet
    ix2.compactSpends()
    assert(ix2.table("spends").count() == 0)
    // results identical, mark baked in
    val after = ix2.inputsWithSpends
      .select("tx_id", "output_index", "spent_at").collect()
      .map(r => (r.getString(0), r.getInt(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toSet
    assert(after == before)
    assert(after.contains((txB, 0, Some(500L))))
    // the slot-10 segment's files were NOT rewritten (marks target slot 500)
    val segsAfter = ix2.manifest.tables("inputs").map(_.path).toSet
    assert(seg10.subsetOf(segsAfter))
  }

  test("reconcile enforces the spends-broadcast gate: an over-threshold delta plans a shuffled join, identical answer") {
    // own session: the gate and the size-based-broadcast kill switch are
    // session confs, and the suite's session is shared across specs
    val s2 = spark.newSession()
    // only the explicit hint can broadcast now — the join strategy observed
    // below is exactly reconcile's gate decision, not a stats threshold
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val g = new GraftIndex(s2, tmpDir("graft-delta-gate"))
    val p = Set[Pattern](Pattern.MatchAny(includingBootstrap = true))
    val txA = FixtureChain.hex32(777001); val txB = FixtureChain.hex32(777002)
    val b10 = FixtureChain.Blk(10L, FixtureChain.hex32(888001),
      Seq(FixtureChain.Tx(txA, Nil, Seq(FixtureChain.Out(FixtureChain.baseAddr(0, 0), 1L)))))
    val b20 = FixtureChain.Blk(20L, FixtureChain.hex32(888002),
      Seq(FixtureChain.Tx(txB, Seq((txA, 0)), Seq(FixtureChain.Out(FixtureChain.baseAddr(1, 0), 2L)))))
    Indexer.ingest(g, FixtureChain.toDf(s2, Seq(b10)), p)
    Indexer.ingest(g, FixtureChain.toDf(s2, Seq(b20)), p)
    assert(g.manifest.tables("spends").nonEmpty, "fixture needs a live delta")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("tx_id", "output_index", "spent_at").collect()
      .map(r => (r.getString(0), r.getInt(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toSet
    // steady state (delta under the default 1M-row gate): the merge-on-read
    // broadcast survives the kill switch because reconcile FORCES it
    val steadyPlan = g.inputsWithSpends.queryExecution.sparkPlan.toString
    assert(steadyPlan.contains("BroadcastHashJoin"), steadyPlan)
    val steady = rows(g.inputsWithSpends)
    assert(steady.contains((txA, 0, Some(20L))))
    // a deployment that deferred compaction past the gate: reconcile must
    // refuse the broadcast (no executor-OOM three stages from the cause)
    // and fall back to a shuffled join with the identical answer. A second
    // spend puts the delta at 2 rows so the (validated, must-be-positive)
    // gate of 1 is genuinely over-threshold.
    val b30 = FixtureChain.Blk(30L, FixtureChain.hex32(888003),
      Seq(FixtureChain.Tx(FixtureChain.hex32(777003), Seq((txB, 0)),
        Seq(FixtureChain.Out(FixtureChain.baseAddr(2, 0), 3L)))))
    Indexer.ingest(g, FixtureChain.toDf(s2, Seq(b30)), p)
    val steady2 = rows(g.inputsWithSpends)
    assert(steady2.contains((txB, 0, Some(30L))))
    s2.conf.set("spark.graft.spends.broadcastMaxRows", "1")
    try {
      val gatedPlan = g.inputsWithSpends.queryExecution.sparkPlan.toString
      assert(!gatedPlan.contains("BroadcastHashJoin"), gatedPlan)
      assert(gatedPlan.contains("SortMergeJoin") || gatedPlan.contains("ShuffledHashJoin"), gatedPlan)
      assert(rows(g.inputsWithSpends) == steady2)
    } finally s2.conf.unset("spark.graft.spends.broadcastMaxRows")
    // compaction restores the shuffle-free path: empty delta, no join at all
    g.compactSpends()
    val compactedPlan = g.inputsWithSpends.queryExecution.sparkPlan.toString
    assert(!compactedPlan.contains("Join"), compactedPlan)
    assert(rows(g.inputsWithSpends) == steady2)
  }

  test("compact() preserves query results") {
    val ix2 = freshIndex()
    val before = FoldInputs(ix2, MatchesQuery("*/*"))
      .select("transaction_id", "output_index", "spent_at").collect().toSeq.toString
    ix2.compact()
    assert(ix2.table("spends").count() == 0)
    val after = FoldInputs(ix2, MatchesQuery("*/*"))
      .select("transaction_id", "output_index", "spent_at").collect().toSeq.toString
    assert(before == after)
  }

  test("U5 rollbackTo: invariants hold and max checkpoint returned") {
    val ix2 = freshIndex()
    val s = 60L
    val newMax = Mutations.rollbackTo(ix2, s)
    assert(newMax.contains(60L))
    val live = ix2.inputsWithSpends
    assert(live.where(col("created_at") > s).count() == 0)
    assert(live.where(col("spent_at") > s).count() == 0)
    assert(ix2.table("checkpoints").where(col("slot_no") > s).count() == 0)
    // un-spending: rows spent after s are live again
    val modelAfter = runModel(blocks.filter(_.slot <= s), patterns)
    val got = live.select("tx_id", "output_index", "spent_at").collect()
      .map(r => (r.getString(0), r.getInt(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    val want = modelAfter.map(r => (r.txId, r.outIx, r.spentAt)).toSet
    assert(got == want)
  }

  test("U5 rollback after compact() un-spends marks baked into inputs") {
    // the round-1 confirmed bug: ingest block@10 producing R → block@20
    // spending R → compact() (spend marks baked into inputs) → rollbackTo(15)
    // must null R's spent provenance (SQLite.hs:1057-1059), even though the
    // inputs segment's created_at stats (≤ 15) look untouched
    val ix2 = new GraftIndex(spark, tmpDir("graft-rollback-compact"))
    val p = Set[Pattern](Pattern.MatchAny(includingBootstrap = true))
    val txA = FixtureChain.hex32(777001)
    val txB = FixtureChain.hex32(777002)
    val b10 = FixtureChain.Blk(10L, FixtureChain.hex32(888001),
      Seq(FixtureChain.Tx(txA, Nil, Seq(FixtureChain.Out(FixtureChain.baseAddr(0, 0), 1000L)))))
    val b20 = FixtureChain.Blk(20L, FixtureChain.hex32(888002),
      Seq(FixtureChain.Tx(txB, Seq((txA, 0)),
        Seq(FixtureChain.Out(FixtureChain.baseAddr(1, 0), 500L)))))
    Indexer.ingest(ix2, FixtureChain.toDf(spark, Seq(b10)), p)
    Indexer.ingest(ix2, FixtureChain.toDf(spark, Seq(b20)), p)
    ix2.compact()
    val spentBefore = ix2.inputsWithSpends
      .where(col("tx_id") === txA && col("output_index") === 0).head()
    assert(spentBefore.getAs[Long]("spent_at") == 20L) // mark baked in
    Mutations.rollbackTo(ix2, 15L)
    val live = ix2.inputsWithSpends
    assert(live.where(col("created_at") > 15L).count() == 0)     // txB's output gone
    assert(live.where(col("spent_at").isNotNull).count() == 0)   // R un-spent
    val r = live.where(col("tx_id") === txA && col("output_index") === 0).head()
    assert(r.isNullAt(r.fieldIndex("spent_at")))
    assert(r.isNullAt(r.fieldIndex("spent_by")))
    assert(r.isNullAt(r.fieldIndex("spent_with")))
  }

  test("U3 pruneInputs drops spent rows older than the safe zone") {
    val ix2 = freshIndex()
    ix2.compact()
    val maxSlot = blocks.map(_.slot).max
    val k = 30L
    Mutations.pruneInputs(ix2, k)
    val live = ix2.inputsWithSpends
    assert(live.where(col("spent_at").isNotNull && col("spent_at") < maxSlot - k).count() == 0)
    val wantKept = model.count(r => r.spentAt.forall(_ >= maxSlot - k))
    assert(live.count() == wantKept)
  }

  test("U4 pruneBinaryData GCs unreferenced datums") {
    val ix2 = freshIndex()
    Mutations.pruneBinaryData(ix2)
    val referenced = ix2.table("inputs").where(col("datum_info").isNotNull)
      .select(col("datum_info.hash")).distinct().collect().map(_.getString(0)).toSet
    val kept = ix2.table("binary_data").collect().map(_.getString(0)).toSet
    assert(kept.subsetOf(referenced))
  }

  test("U2 deleteInputs removes matching rows only") {
    val ix2 = freshIndex()
    val delCred = FixtureChain.baseAddr(0, 0).substring(2, 58)
    Mutations.deleteInputs(ix2, Set(Pattern.MatchDelegation(delCred)))
    assert(ix2.table("inputs").where(col("address").startsWith("01" + delCred)).count() == 0)
    val remaining = model.filterNot(_.address.startsWith("01" + delCred))
    assert(ix2.table("inputs").count() == remaining.size)
  }

  test("P11: metadata-tag pattern indexes only outputs of tagged transactions") {
    val ix2 = new GraftIndex(spark, tmpDir("graft-p11"))
    val p = Set[Pattern](Pattern.MatchMetadataTag(674L))
    Indexer.ingest(ix2, FixtureChain.toDf(spark, blocks), p)
    val got = ix2.table("inputs").select("tx_id", "output_index").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    val want = runModel(blocks, p).map(r => (r.txId, r.outIx)).toSet
    assert(got == want && got.nonEmpty)
    // the tag is index-time only: querying with it must be refused (like the
    // reference's patternToSql error, Database.hs:711,762-763)
    intercept[IllegalArgumentException] {
      FoldInputs(ix2, MatchesQuery("{674}"))
    }
  }

  test("SQL views expose the reconciled index to spark.sql") {
    ix.createOrReplaceViews("gx_")
    assert(spark.sql("SELECT count(*) FROM gx_inputs").head().getLong(0) == model.size)
    val unspent = spark.sql(
      "SELECT count(*) FROM gx_inputs WHERE spent_at IS NULL").head().getLong(0)
    assert(unspent == model.count(_.spentAt.isEmpty))
    assert(spark.sql("SELECT count(*) FROM gx_checkpoints").head().getLong(0) == blocks.size)
  }

  test("M9: empty batches register no segments (conditional side-table write)") {
    val ix2 = new GraftIndex(spark, tmpDir("graft-m9"))
    ix2.append("binary_data", ix2.emptyOf("binary_data"))
    assert(ix2.manifest.tables.getOrElse("binary_data", Nil).isEmpty)
    // a datum-less, script-less block appends nothing to the side tables
    val blk = FixtureChain.Blk(10L, FixtureChain.hex32(31),
      Seq(FixtureChain.Tx(FixtureChain.hex32(32), Nil,
        Seq(FixtureChain.Out(FixtureChain.baseAddr(0, 0), 5L)))))
    Indexer.ingest(ix2, FixtureChain.toDf(spark, Seq(blk)),
      Set[Pattern](Pattern.MatchAny(true)))
    assert(ix2.manifest.tables.getOrElse("binary_data", Nil).isEmpty)
    assert(ix2.manifest.tables.getOrElse("scripts", Nil).isEmpty)
    assert(ix2.manifest.tables.getOrElse("spends", Nil).isEmpty)
    assert(ix2.manifest.tables.getOrElse("inputs", Nil).nonEmpty)
  }

  test("re-ingesting a batch is idempotent after compaction") {
    val ix2 = freshIndex()
    Indexer.ingest(ix2, FixtureChain.toDf(spark, blocks.take(4)), patterns) // duplicate batch
    ix2.compact()
    assert(ix2.table("inputs").count() == model.size)
  }

  test("remove-spent-inputs mode: in-commit drop under the unstable-window guard") {
    import graft.ingest.RemoveSpentInputs
    def visible(ixx: GraftIndex): Set[(String, Int, Long, Option[Long])] =
      ixx.inputsWithSpends.select("tx_id", "output_index", "created_at", "spent_at")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet

    // the supported composition: mark every spend, let the gardener prune
    val mark = new GraftIndex(spark, tmpDir("graft-ix-mark"))
    blocks.grouped(4).foreach(b =>
      Indexer.ingest(mark, FixtureChain.toDf(spark, b), patterns))
    val markWritten = mark.table("inputs").count()

    // remove mode: chain tip 120, rollback window 25 → spends before slot
    // 95 are safely removable; batch-internal ones must never land at all
    val rm = new GraftIndex(spark, tmpDir("graft-ix-rm"))
    blocks.grouped(4).foreach(b =>
      Indexer.ingest(rm, FixtureChain.toDf(spark, b), patterns,
        RemoveSpentInputs(longestRollback = 25L, tipSlot = 120L)))
    assert(rm.table("inputs").count() < markWritten,
      "batch-internal safe spends must never be written")
    // rows that ARE visible agree with the mark-mode reconciliation minus
    // the safely-spent ones (the in-commit drops), and no mark dangles
    val markVisible = visible(mark)
    val rmVisible = visible(rm)
    assert(rmVisible.subsetOf(markVisible))
    assert(markVisible.diff(rmVisible).forall(_._4.exists(_ < 95L)),
      s"only safely-spent rows may be missing: ${markVisible.diff(rmVisible)}")

    // after the gardener runs on both, the end states are IDENTICAL — the
    // mode is an eager subset of mark+prune, never a divergent semantics
    Mutations.pruneInputs(mark, longestRollback = 25L)
    Mutations.pruneInputs(rm, longestRollback = 25L)
    assert(visible(rm) == visible(mark))

    // a tip inside the unstable window makes nothing safely removable:
    // remove mode then IS mark mode (the reference's fallback branch)
    val shallow = new GraftIndex(spark, tmpDir("graft-ix-shallow"))
    blocks.grouped(4).foreach(b =>
      Indexer.ingest(shallow, FixtureChain.toDf(spark, b), patterns,
        RemoveSpentInputs(longestRollback = 1000L, tipSlot = 120L)))
    assert(visible(shallow) == markVisible)

    // ROLLBACK CONSISTENCY — the invariant the unstable-window guard
    // exists for: any LEGAL rollback point s is at least tip −
    // longestRollback, and every removed row was spent strictly BELOW
    // that, so no rollback can ever need a removed row back un-spent.
    // Rolling both modes to the window edge must agree exactly.
    val mark2 = new GraftIndex(spark, tmpDir("graft-ix-mark2"))
    val rm2 = new GraftIndex(spark, tmpDir("graft-ix-rm2"))
    blocks.grouped(4).foreach { b =>
      Indexer.ingest(mark2, FixtureChain.toDf(spark, b), patterns)
      Indexer.ingest(rm2, FixtureChain.toDf(spark, b), patterns,
        RemoveSpentInputs(longestRollback = 25L, tipSlot = 120L))
    }
    Mutations.rollbackTo(mark2, 95L)
    Mutations.rollbackTo(rm2, 95L)
    // the post-rollback difference is still exactly the safely-removed
    // rows — rows a 95-rollback could never resurrect (spent < 95)
    val d2 = visible(mark2).diff(visible(rm2))
    assert(visible(rm2).subsetOf(visible(mark2)))
    assert(d2.forall(_._4.exists(_ < 95L)), s"rollback resurrected: $d2")
    // after the gardener runs at the ROLLED-BACK tip (90 − 25 = 65), mark
    // mode legitimately keeps marks spent in [65, 95) — the rollback
    // re-opened that window — while remove mode dropped them under the
    // original tip-120 window. The invariant is NOT post-rollback
    // equality; it is that the modes never disagree about an UNSPENT row
    // (what rollback correctness and ?unspent queries observe): every
    // residual difference is a row both modes agree was spent below 95.
    Mutations.pruneInputs(mark2, longestRollback = 25L)
    Mutations.pruneInputs(rm2, longestRollback = 25L)
    val d3 = visible(mark2).diff(visible(rm2))
    assert(visible(rm2).subsetOf(visible(mark2)))
    assert(d3.forall(_._4.exists(_ < 95L)), s"unspent row diverged: $d3")
    assert(visible(mark2).filter(_._4.isEmpty) == visible(rm2).filter(_._4.isEmpty))
  }

  test("time travel: retained manifests pin snapshots, aging out releases them") {
    val tt = new GraftIndex(spark, tmpDir("graft-ix-tt"),
      vacuumGraceMs = 0L, manifestRetention = 3)
    Indexer.ingest(tt, FixtureChain.toDf(spark, blocks.take(4)), patterns)
    val v1 = tt.manifest.version
    val rows1 = tt.table("inputs").count()
    Indexer.ingest(tt, FixtureChain.toDf(spark, blocks.slice(4, 8)), patterns)
    Indexer.ingest(tt, FixtureChain.toDf(spark, blocks.slice(8, 12)), patterns)

    // the v1 snapshot still reads EXACTLY batch 1 while current reads all
    val m1 = tt.asOfVersion(v1)
    assert(m1.isDefined)
    assert(tt.tableAt("inputs", m1.get).count() == rows1)
    assert(tt.table("inputs").count() > rows1)
    assert(tt.retainedVersions().contains(v1))

    // a compact + zero-grace vacuum must NOT break a retained snapshot:
    // the rewritten-away segments are pinned by the retained manifests
    val v3 = tt.manifest.version
    val rows3 = tt.table("inputs").count()
    tt.compact()
    tt.vacuum(0L)
    val m3 = tt.asOfVersion(v3)
    assert(m3.isDefined)
    assert(tt.tableAt("inputs", m3.get).count() == rows3,
      "retained snapshot must survive compact + vacuum")

    // three more commits age v3 past the retention window; its manifest
    // file goes away and a second sweep may collect its exclusive segments
    (1 to 3).foreach(_ =>
      Indexer.ingest(tt, FixtureChain.toDf(spark, blocks.take(1)), patterns))
    assert(tt.asOfVersion(v3).isEmpty, "aged-out version must not resolve")
    tt.vacuum(0L)
    assert(tt.table("inputs").count() > 0) // current stays intact

    // the DEFAULT retention of 1 writes no versioned manifests at all —
    // time travel is strictly opt-in, disk == current manifest stays exact
    assert(ix.retainedVersions() == Seq(ix.manifest.version))
  }

  test("segment tiering: compactSegments bounds the count, preserves content and stats") {
    import GraftIndex.Manifest
    val ix = new GraftIndex(spark, tmpDir("graft-ix-tier"), vacuumGraceMs = 0L)
    blocks.take(8).foreach(b =>
      Indexer.ingest(ix, FixtureChain.toDf(spark, Seq(b)), patterns))
    assert(ix.manifest.tables("inputs").size == 8)
    def content() = ix.inputsWithSpends
      .select("tx_id", "output_index", "created_at", "spent_at")
      .collect().map(_.toSeq).toSet
    val before = content()

    val removed = ix.compactSegments("inputs", maxSegments = 2)
    val tiered = ix.manifest.tables("inputs")
    assert(removed == 6 && tiered.size == 2, s"$removed removed, ${tiered.size} left")
    assert(content() == before, "tiering must re-file rows verbatim")
    // stats recomputed on the merged writes: every segment carries slot
    // bounds and a row count, and the counts sum to the table
    assert(tiered.forall(s => s.minSlot.isDefined && s.maxSlot.isDefined && s.rows.isDefined))
    assert(tiered.flatMap(_.rows).sum == before.size.toLong)
    // the manifest JSON round-trips the new rows stat
    assert(Manifest.parse(Manifest.toJson(ix.manifest)).contains(ix.manifest))
    // range pruning stays exact through merged segments
    val (lo, hi) = (blocks(2).slot, blocks(5).slot)
    assert(ix.tableSlotRange("inputs", Some(lo), Some(hi))
      .where(col("created_at").between(lo, hi)).count()
      == before.count(r => { val c = r(2).asInstanceOf[Long]; c >= lo && c <= hi }))

    // tiering policy: small young runs fold, big old runs stay untouched —
    // four more single-block appends then a re-tier must merge among the
    // newcomers (and possibly the smaller old run) while the LARGEST
    // segment survives verbatim, path and all
    val biggest = tiered.maxBy(_.rows.get).path
    blocks.slice(8, 12).foreach(b =>
      Indexer.ingest(ix, FixtureChain.toDf(spark, Seq(b)), patterns))
    assert(ix.manifest.tables("inputs").size == 6)
    val beforeRetier = content()
    ix.compactSegments("inputs", maxSegments = 3)
    val after = ix.manifest.tables("inputs")
    assert(after.size == 3)
    assert(after.exists(_.path == biggest),
      s"largest segment must survive tiering untouched: $biggest not in ${after.map(_.path)}")
    assert(content() == beforeRetier, "re-tiering must re-file rows verbatim")

    // dereferenced merge inputs are ordinary vacuum candidates
    ix.vacuum(0L)
    val onDisk = new java.io.File(ix.root, "inputs").listFiles().count(_.isDirectory)
    assert(onDisk == 3, s"disk dirs $onDisk != manifest 3")
    // below the bound: a no-op, no manifest bump
    val v = ix.manifest.version
    assert(ix.compactSegments("inputs", 8) == 0 && ix.manifest.version == v)
  }

  test("segment tiering: a legacy manifest with unknown row counts tiers without overflow") {
    import GraftIndex.Manifest
    // pre-`rows` manifests carry no row stats; the unknown-size sentinel is
    // Long.MaxValue/4 and a run accumulating 5+ of them must SATURATE, not
    // wrap negative (a wrapped sum inverts the smallest-pair policy into
    // repeatedly rewriting the largest legacy runs). 12 unknown segments
    // down to 2 drives runs straight through that regime.
    val root = tmpDir("graft-ix-legacy-tier")
    val ix = new GraftIndex(spark, root, vacuumGraceMs = 0L)
    blocks.take(12).foreach(b =>
      Indexer.ingest(ix, FixtureChain.toDf(spark, Seq(b)), patterns))
    def content(i: GraftIndex) = i.inputsWithSpends
      .select("tx_id", "output_index", "created_at", "spent_at")
      .collect().map(_.toSeq).toSet
    val before = content(ix)
    // doctor the manifest into the legacy shape: same segments, rows = None
    val legacy = ix.manifest.copy(tables =
      ix.manifest.tables.map { case (t, segs) => t -> segs.map(_.copy(rows = None)) })
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "manifest.json"), Manifest.toJson(legacy))
    // drop the checksum sidecar the Hadoop local FS keeps — the doctored
    // write above bypassed it
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(root, ".manifest.json.crc"))
    val ix2 = new GraftIndex(spark, root, vacuumGraceMs = 0L)
    assert(ix2.manifest.tables("inputs").forall(_.rows.isEmpty))
    val removed = ix2.compactSegments("inputs", maxSegments = 2)
    val tiered = ix2.manifest.tables("inputs")
    assert(removed == 10 && tiered.size == 2, s"$removed removed, ${tiered.size} left")
    assert(content(ix2) == before, "legacy tiering must re-file rows verbatim")
    // merged writes recompute the stats the legacy manifest lacked; a run
    // left as a verbatim singleton legitimately keeps its unknown size
    assert(tiered.exists(s => s.rows.isDefined && s.minSlot.isDefined),
      tiered.toString)
  }

  test("time travel: a pinned asOf read is immune to a concurrent rollback") {
    val tt = new GraftIndex(spark, tmpDir("graft-ix-asof"),
      vacuumGraceMs = 0L, manifestRetention = 3)
    Indexer.ingest(tt, FixtureChain.toDf(spark, blocks.take(8)), patterns)
    val v = tt.manifest.version
    val pinned = tt.asOf(v).get
    val before = pinned.inputsWithSpends
      .select("tx_id", "output_index", "created_at", "spent_at")
      .collect().map(_.toSeq).toSet
    assert(before.nonEmpty)

    // rollback + vacuum mutate the LIVE index; the pinned facade must keep
    // reading the exact pre-rollback state through its retained manifest
    val cut = blocks(3).slot
    Mutations.rollbackTo(tt, cut)
    tt.vacuum(0L)
    val liveRows = tt.inputsWithSpends.count()
    assert(liveRows < before.size, "rollback must have removed rows from the live index")
    val after = pinned.inputsWithSpends
      .select("tx_id", "output_index", "created_at", "spent_at")
      .collect().map(_.toSeq).toSet
    assert(after == before, "pinned snapshot diverged under a concurrent rollback")

    // the pinned facade is READ-ONLY: mutations and vacuum fail loudly
    // instead of committing against a historical manifest
    intercept[IllegalArgumentException] {
      pinned.replace("inputs", pinned.emptyOf("inputs"))
    }
    intercept[IllegalArgumentException] { pinned.vacuum(0L) }

    // a version that ages out of retention stops resolving
    (1 to 3).foreach(_ =>
      Indexer.ingest(tt, FixtureChain.toDf(spark, blocks.take(1)), patterns))
    assert(tt.asOf(v).isEmpty, "aged-out version must not resolve via asOf")
  }

  test("remove-spent-inputs mode: overlapping re-ingest still spends the earlier copy") {
    import graft.ingest.RemoveSpentInputs
    // Crash-recovery shape: batch 1 commits the produce of X; the resumed
    // batch 2 OVERLAPS it (re-produces X) and also carries X's safe spend.
    // The in-commit drop removes batch 2's duplicate produce, but the spend
    // MARK must land so batch 1's already-sealed copy does not stay visible
    // as unspent forever (the regression this test pins).
    val addr = FixtureChain.baseAddr(7, 7)
    val blkA = FixtureChain.Blk(10L, FixtureChain.hex32(9101), Seq(
      FixtureChain.Tx(FixtureChain.hex32(9102), Nil,
        Seq(FixtureChain.Out(addr, 42L)))))
    val blkB = FixtureChain.Blk(50L, FixtureChain.hex32(9103), Seq(
      FixtureChain.Tx(FixtureChain.hex32(9104),
        Seq((FixtureChain.hex32(9102), 0)), Seq(FixtureChain.Out(addr, 41L)))))
    // tip-advancing empty block so the gardener's window clears slot 50
    val blkC = FixtureChain.Blk(120L, FixtureChain.hex32(9105), Nil)

    val ov = new GraftIndex(spark, tmpDir("graft-ix-overlap"))
    val pats = Set[Pattern](Pattern.MatchAny(includingBootstrap = false))
    Indexer.ingest(ov, FixtureChain.toDf(spark, Seq(blkA)), pats,
      RemoveSpentInputs(longestRollback = 25L, tipSlot = 120L))
    Indexer.ingest(ov, FixtureChain.toDf(spark, Seq(blkA, blkB, blkC)), pats,
      RemoveSpentInputs(longestRollback = 25L, tipSlot = 120L))

    // the earlier-committed copy of X must now read as SPENT at 50
    val x = ov.inputsWithSpends
      .where(col("tx_id") === FixtureChain.hex32(9102) && col("output_index") === 0)
      .select("spent_at").collect()
    assert(x.nonEmpty && x.forall(r => !r.isNullAt(0) && r.getLong(0) == 50L),
      s"overlap re-ingest lost the spend mark: ${x.mkString(",")}")
    // and the gardener reaches the same end state as mark+prune: X gone
    Mutations.pruneInputs(ov, longestRollback = 25L)
    assert(ov.inputsWithSpends
      .where(col("tx_id") === FixtureChain.hex32(9102) && col("output_index") === 0)
      .count() == 0L, "pruneInputs must collect the overlap-spent row")
  }

  test("deleteInputs rewrites only index-relevant segments; absent keys touch zero bytes") {
    import graft.tools.FixtureChain._
    val g = new GraftIndex(spark, tmpDir("graft-del"), vacuumGraceMs = 0L)
    val polA = hex28(60)
    // policy A and tx 610 live ONLY in the early batch; the late batch is
    // plain rows — its segment must survive policy/tx deletes verbatim
    val early = Seq(Blk(10L, hex32(1), Seq(
      Tx(hex32(610), Nil, Seq(Out(baseAddr(0, 0), 5L, Map(polA -> Map("aa" -> 1L))))),
      Tx(hex32(611), Nil, Seq(Out(baseAddr(1, 0), 6L))))))
    val late = Seq(Blk(1000L, hex32(2), Seq(
      Tx(hex32(620), Nil, Seq(Out(baseAddr(2, 0), 7L))))))
    Indexer.ingest(g, FixtureChain.toDf(spark, early), patterns)
    Indexer.ingest(g, FixtureChain.toDf(spark, late), patterns)
    val before = g.manifest
    val lateSeg = before.tables("inputs").maxBy(_.minSlot.getOrElse(0L))
    assert(before.tables("inputs").size == 2)

    // absent policy: provably-empty window → zero bytes touched, no bump
    assert(Mutations.deleteInputs(g, Set[Pattern](Pattern.MatchPolicyId("ff" * 28))) == 0L)
    assert(g.manifest.version == before.version, "absent-key delete must not bump the manifest")

    // policy delete: early segment rewritten, LATE SEGMENT KEPT VERBATIM
    assert(Mutations.deleteInputs(g, Set[Pattern](Pattern.MatchPolicyId(polA))) == 1L)
    val after = g.manifest
    assert(after.tables("inputs").exists(_.path == lateSeg.path),
      "segment outside the policy window must survive the delete untouched")
    assert(g.table("inputs").count() == 2L)
    assert(g.table("inputs").where(col("tx_id") === hex32(610)).count() == 0L)

    // txid delete via the v6 bloom: only the candidate segment is touched
    val before2 = g.manifest
    val late2 = before2.tables("inputs").maxBy(_.minSlot.getOrElse(0L))
    assert(Mutations.deleteInputs(g,
      Set[Pattern](Pattern.MatchTransactionId(hex32(611)))) == 1L)
    assert(g.manifest.tables("inputs").exists(_.path == late2.path),
      "bloom-irrelevant segment must survive a txid delete untouched")
    assert(g.table("inputs").count() == 1L)

    // unbounded pattern: full rewrite, everything goes
    assert(Mutations.deleteInputs(g,
      Set[Pattern](Pattern.MatchAny(includingBootstrap = true))) == 1L)
    assert(g.table("inputs").count() == 0L)
  }

  test("raw append(inputs) maintains the policies/address_stats superset — index-walking deletes cannot durably miss it") {
    import graft.tools.FixtureChain._
    val g = new GraftIndex(spark, tmpDir("graft-appinv"), vacuumGraceMs = 0L)
    val polA = hex28(62); val polB = hex28(63)
    // normal ingest populates the side tables (slot 10, policy A)
    Indexer.ingest(g, FixtureChain.toDf(spark, Seq(Blk(10L, hex32(8), Seq(
      Tx(hex32(640), Nil, Seq(Out(baseAddr(0, 0), 5L, Map(polA -> Map("aa" -> 1L))))))))), patterns)
    assert(g.manifest.tables("policies").nonEmpty)
    // a RAW inputs append (no Indexer) lands policy B at a far slot: the
    // append must extend the side tables in the same bump, or the v4/v5
    // windows stay narrowed to slot 10 and a policy-B delete silently
    // skips the new segment — a durable miss, not a transient one
    val lateRows = graft.ingest.MatchBlock(
      FixtureChain.toDf(spark, Seq(Blk(2000L, hex32(9), Seq(
        Tx(hex32(641), Nil, Seq(Out(baseAddr(3, 3), 9L, Map(polB -> Map("bb" -> 2L))))))))),
      patterns).produced
    g.append("inputs", lateRows)
    assert(g.manifest.tables("inputs").size == 2)
    // side tables grew with the append, atomically
    assert(g.table("policies").where(col("policy_id") === polB).count() == 1L)
    assert(g.table("address_stats").where(col("address") === baseAddr(3, 3)).count() == 1L)
    // the policy-B window now covers the appended segment: the delete finds
    // the row (and keeps the slot-10 segment verbatim — still index-walking)
    val beforeDel = g.manifest.tables("inputs").minBy(_.minSlot.getOrElse(0L))
    assert(Mutations.deleteInputs(g, Set[Pattern](Pattern.MatchPolicyId(polB))) == 1L)
    assert(g.manifest.tables("inputs").exists(_.path == beforeDel.path))
    assert(g.table("inputs").where(col("tx_id") === hex32(641)).count() == 0L)
    // the read path agrees: a policy-B query on a fresh append is non-empty
    // before the delete semantics are in doubt — cross-check via policy A
    assert(FoldInputs(g, MatchesQuery(Pattern.MatchPolicyId(polA).toText)).count() == 1L)
  }

  test("side-table empty→non-empty transition backfills coverage of earlier raw-appended segments") {
    import graft.tools.FixtureChain._
    val g = new GraftIndex(spark, tmpDir("graft-appinv2"), vacuumGraceMs = 0L)
    val polA = hex28(64); val polB = hex28(65)
    // the OTHER arming order of the superset invariant: the raw append runs
    // FIRST, against an index whose side tables are still empty — they stay
    // empty (windows gated off, sound so far) …
    val earlyRows = graft.ingest.MatchBlock(
      FixtureChain.toDf(spark, Seq(Blk(10L, hex32(10), Seq(
        Tx(hex32(650), Nil, Seq(Out(baseAddr(0, 0), 5L, Map(polA -> Map("aa" -> 1L))))))))),
      patterns).produced
    g.append("inputs", earlyRows)
    // the raw load carries its checkpoint (FoldInputs resolves created
    // hashes through an INNER checkpoint join — a row without a block
    // cannot exist on a real chain)
    locally {
      import spark.implicits._
      g.append("checkpoints", Seq((10L, hex32(10))).toDF("slot_no", "header_hash"))
    }
    assert(g.manifest.tables.getOrElse("policies", Nil).isEmpty)
    assert(g.manifest.tables.getOrElse("address_stats", Nil).isEmpty)
    // an ingest whose batch carries NO policy rows must not fire the
    // policies backfill (an empty batch cannot turn the table non-empty —
    // its windows stay gated off, sound; firing anyway cost a scan of ALL
    // live inputs segments on EVERY such commit of an asset-free stream)
    Indexer.ingest(g, FixtureChain.toDf(spark, Seq(Blk(1000L, hex32(12), Seq(
      Tx(hex32(652), Nil, Seq(Out(baseAddr(4, 4), 7L))))))), patterns)
    assert(g.manifest.tables.getOrElse("policies", Nil).isEmpty,
      "asset-free batch must leave policies empty (and unbackfilled)")
    // … then a NORMAL ingest makes them non-empty. Without the transition
    // backfill they would cover only this batch (slot 2000, policy B): the
    // windows open, derive [2000, 2000], and a policy-A delete durably
    // skips the raw-appended slot-10 segment.
    Indexer.ingest(g, FixtureChain.toDf(spark, Seq(Blk(2000L, hex32(11), Seq(
      Tx(hex32(651), Nil, Seq(Out(baseAddr(3, 3), 9L, Map(polB -> Map("bb" -> 2L))))))))), patterns)
    assert(g.manifest.tables("inputs").size == 3)
    // the transition commit backfilled coverage of the earlier segment
    assert(g.table("policies").where(col("policy_id") === polA).count() == 1L)
    assert(g.table("address_stats").where(col("address") === baseAddr(0, 0)).count() == 1L)
    // window-served reads and deletes see the raw-appended segment
    assert(FoldInputs(g, MatchesQuery(Pattern.MatchPolicyId(polA).toText)).count() == 1L)
    val lateSeg = g.manifest.tables("inputs").maxBy(_.minSlot.getOrElse(0L))
    assert(Mutations.deleteInputs(g, Set[Pattern](Pattern.MatchPolicyId(polA))) == 1L)
    assert(g.manifest.tables("inputs").exists(_.path == lateSeg.path),
      "segment outside the policy-A window must survive the delete untouched")
    assert(g.table("inputs").where(col("tx_id") === hex32(650)).count() == 0L)
    assert(g.table("inputs").where(col("tx_id") === hex32(651)).count() == 1L)
  }

  test("superset invariant holds under random raw-append/ingest/delete orderings (seed 101)") {
    supersetInvariantProperty(Seq(101))
  }
  test("superset invariant under two more seeded orderings", HeavyTest) {
    supersetInvariantProperty(Seq(202, 303))
  }
  private def supersetInvariantProperty(seeds: Seq[Int]): Unit = {
    import graft.tools.FixtureChain._
    // The window-pruning soundness claim, as a property: however raw
    // appends (side tables not maintained), asset-free ingests (side
    // batches empty — must NOT fire the transition), asset ingests (may
    // fire it), and policy deletes interleave, a window-served read must
    // equal its bare-predicate twin after EVERY step — the two arming
    // orders the write-time invariant closes (append-after-populate,
    // populate-after-append) plus the empty-batch non-transition, walked
    // in random order instead of one pinned sequence each.
    val polOf = (i: Int) => hex28(90 + i % 3)
    for (seed <- seeds) {
      val rnd = new scala.util.Random(seed)
      val g = new GraftIndex(spark, tmpDir(s"graft-supinv$seed"), vacuumGraceMs = 0L)
      var slot = 0L
      var txSeed = seed * 1000
      def nextBlock(withAsset: Boolean): Blk = {
        slot += 10; txSeed += 1
        val assets = if (withAsset) Map(polOf(txSeed) -> Map("aa" -> 1L))
                     else Map.empty[String, Map[String, Long]]
        Blk(slot, hex32(txSeed), Seq(
          Tx(hex32(txSeed + 500000), Nil,
            Seq(Out(baseAddr(txSeed % 5, txSeed % 7), 1L + txSeed % 9, assets)))))
      }
      def rawAppend(b: Blk): Unit = {
        import spark.implicits._
        g.append("inputs", graft.ingest.MatchBlock(toDf(spark, Seq(b)), patterns).produced)
        g.append("checkpoints", Seq((b.slot, b.headerHash)).toDF("slot_no", "header_hash"))
      }
      def check(): Unit = if (g.manifest.tables.getOrElse("inputs", Nil).nonEmpty)
        (0 until 3).map(polOf).foreach { p =>
        val served = FoldInputs(g, MatchesQuery(Pattern.MatchPolicyId(p).toText)).count()
        val bare = g.inputsWithSpends.where(Pattern.MatchPolicyId(p).toPredicate).count()
        assert(served == bare, s"seed=$seed slot=$slot policy=$p: window-served " +
          s"$served != bare $bare (windows derived too narrow — superset broken)")
      }
      for (step <- 0 until 12) {
        rnd.nextInt(4) match {
          case 0 => rawAppend(nextBlock(withAsset = rnd.nextBoolean()))
          case 1 => Indexer.ingest(g, toDf(spark, Seq(nextBlock(withAsset = false))), patterns)
          case 2 => Indexer.ingest(g, toDf(spark, Seq(nextBlock(withAsset = true))), patterns)
          case 3 if g.manifest.tables.getOrElse("inputs", Nil).nonEmpty =>
            val p = polOf(rnd.nextInt(3))
            val expect = g.table("inputs").where(Pattern.MatchPolicyId(p).toPredicate).count()
            assert(Mutations.deleteInputs(g, Set[Pattern](Pattern.MatchPolicyId(p))) == expect,
              s"seed=$seed step=$step: delete count diverged for $p")
          case _ => ()
        }
        check()
      }
    }
  }

  test("graft confs fail loudly at the read, naming the key") {
    import graft.tools.FixtureChain._
    def expectNamed(key: String, value: String)(body: => Unit): Unit = {
      spark.conf.set(key, value)
      try {
        val e = intercept[IllegalArgumentException](body)
        assert(e.getMessage.contains(key), s"$key: ${e.getMessage}")
      } finally spark.conf.unset(key)
    }
    def batch(n: Int) = graft.ingest.MatchBlock(
      FixtureChain.toDf(spark, Seq(Blk(n.toLong, hex32(n), Seq(
        Tx(hex32(n + 1), Nil, Seq(Out(baseAddr(0, 0), 1L))))))), patterns).produced
    // malformed / non-positive bitsPerKey dies at the segment write with
    // the key in the message, not as a NumberFormatException (or a negative
    // sketch size inside BloomFilterAggregate) far from the conf
    val g = new GraftIndex(spark, tmpDir("graft-conf"), vacuumGraceMs = 0L)
    expectNamed("spark.graft.bloom.bitsPerKey", "twenty") {
      g.append("inputs", batch(30))
    }
    expectNamed("spark.graft.bloom.bitsPerKey", "0") {
      g.append("inputs", batch(32))
    }
    // malformed broadcastMaxRows dies at the reconcile gate read
    val g2 = new GraftIndex(spark, tmpDir("graft-conf2"), vacuumGraceMs = 0L)
    Indexer.ingest(g2, toDf(spark, Seq(
      Blk(10L, hex32(3), Seq(Tx(hex32(710), Nil, Seq(Out(baseAddr(0, 0), 5L))))),
      Blk(20L, hex32(4), Seq(Tx(hex32(711), Seq((hex32(710), 0)),
        Seq(Out(baseAddr(1, 0), 6L))))))), patterns)
    assert(g2.manifest.tables.getOrElse("spends", Nil).nonEmpty)
    expectNamed("spark.graft.spends.broadcastMaxRows", "-5") {
      g2.inputsWithSpends.count()
    }
  }

  test("copyFiltered through the relevance prune copies the same bytes as a full scan") {
    import graft.tools.FixtureChain._
    val g = new GraftIndex(spark, tmpDir("graft-copyrel"), vacuumGraceMs = 0L)
    val polA = hex28(61)
    val early = Seq(Blk(10L, hex32(6), Seq(
      Tx(hex32(630), Nil, Seq(Out(baseAddr(0, 0), 5L, Map(polA -> Map("aa" -> 2L))))),
      Tx(hex32(631), Nil, Seq(Out(baseAddr(1, 0), 6L))))))
    val late = Seq(Blk(1000L, hex32(7), Seq(
      Tx(hex32(632), Nil, Seq(Out(baseAddr(2, 0), 7L))))))
    Indexer.ingest(g, FixtureChain.toDf(spark, early), patterns)
    Indexer.ingest(g, FixtureChain.toDf(spark, late), patterns)
    assert(g.manifest.tables("inputs").size == 2)
    def rowsOf(ix2: GraftIndex) = ix2.table("inputs")
      .select("tx_id", "output_index").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    // window-served pattern (policy lives only in the early segment): the
    // copy scans the window yet must produce exactly the filter's rows
    val byPol = Mutations.copyFiltered(g, tmpDir("graft-copyrel-a"),
      Set[Pattern](Pattern.MatchPolicyId(polA)))
    assert(rowsOf(byPol) == Set((hex32(630), 0)))
    // bloom-served pattern (single outref)
    val byTx = Mutations.copyFiltered(g, tmpDir("graft-copyrel-b"),
      Set[Pattern](Pattern.MatchTransactionId(hex32(632))))
    assert(rowsOf(byTx) == Set((hex32(632), 0)))
    // unbounded pattern: full scan, everything copied
    val all = Mutations.copyFiltered(g, tmpDir("graft-copyrel-c"),
      Set[Pattern](Pattern.MatchAny(includingBootstrap = true)))
    assert(rowsOf(all) == Set((hex32(630), 0), (hex32(631), 0), (hex32(632), 0)))
  }

  test("pruneInputs keeps NoneSpent segments verbatim when the delta is empty") {
    import graft.tools.FixtureChain._
    val g = new GraftIndex(spark, tmpDir("graft-prune"), vacuumGraceMs = 0L)
    val early = Seq(
      Blk(10L, hex32(3), Seq(Tx(hex32(700), Nil, Seq(Out(baseAddr(0, 0), 5L))))),
      Blk(20L, hex32(4), Seq(Tx(hex32(701), Seq((hex32(700), 0)), Seq(Out(baseAddr(1, 0), 6L))))))
    Indexer.ingest(g, toDf(spark, early), patterns)
    g.compact() // bake the spend mark, clear the delta
    val late = Seq(Blk(5000L, hex32(5), Seq(
      Tx(hex32(702), Nil, Seq(Out(baseAddr(2, 0), 7L))))))
    Indexer.ingest(g, toDf(spark, late), patterns)
    val m0 = g.manifest
    val noneSpent = m0.tables("inputs").filter(_.spent == GraftIndex.SpentStat.NoneSpent)
    assert(noneSpent.nonEmpty, "fixture needs a NoneSpent segment")
    assert(m0.tables("inputs").size >= 2)

    // threshold = 5000 − 100 = 4900 > spent_at = 20 → the baked spent row
    // is collected; the NoneSpent segment must survive UNTOUCHED
    assert(Mutations.pruneInputs(g, longestRollback = 100L) == 1L)
    noneSpent.foreach(s => assert(g.manifest.tables("inputs").exists(_.path == s.path),
      s"NoneSpent segment ${s.path} must survive pruneInputs untouched"))
    assert(g.table("inputs").count() == 2L)

    // steady state: everything NoneSpent now → provably nothing to collect,
    // zero bytes touched, no manifest bump (the old crash case was a GC
    // emptying its rewrite set — rows(after) now comes off manifest stats)
    val v = g.manifest.version
    assert(Mutations.pruneInputs(g, longestRollback = 100L) == 0L)
    assert(g.manifest.version == v, "no-op GC must not bump the manifest")
  }

  test("schema migration: v1 fails loudly until migrate(), rollback+vacuum survive the boundary") {
    import GraftIndex.{CurrentSchemaVersion, Manifest}
    val ix2 = freshIndex()
    val root = ix2.root
    val before = ix2.inputsWithSpends
      .select("tx_id", "output_index", "spent_at").collect()
      .map(r => (r.getString(0), r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet

    // DOWN-CONVERT to schema v1: rewrite every inputs segment without the
    // spend provenance columns (the pre-db/v2.10.0 layout) and declare
    // schema_version 1 in the manifest — a faithful old-library index
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    val m0 = ix2.manifest
    m0.tables("inputs").foreach { s =>
      val p = new org.apache.hadoop.fs.Path(s"$root/${s.path}")
      val tmp = new org.apache.hadoop.fs.Path(s"$root/${s.path}.v1tmp")
      spark.read.parquet(p.toString).drop("spent_by", "spent_with")
        .write.parquet(tmp.toString)
      fs.delete(p, true)
      assert(fs.rename(tmp, p))
    }
    // ... and every policies segment without created_at (a v1-born index
    // predates the v4 slot column too)
    m0.tables.getOrElse("policies", Nil).foreach { s =>
      val p = new org.apache.hadoop.fs.Path(s"$root/${s.path}")
      val tmp = new org.apache.hadoop.fs.Path(s"$root/${s.path}.v1tmp")
      spark.read.parquet(p.toString).drop("created_at").write.parquet(tmp.toString)
      fs.delete(p, true)
      assert(fs.rename(tmp, p))
    }
    // ... and no segment_blooms sidecar (a v1-born index predates v6; the
    // orphaned dirs become ordinary vacuum candidates)
    Manifest.write(root,
      m0.copy(schemaVersion = 1, tables = m0.tables - "segment_blooms"), conf)

    // open: allowed (so migrate() can run), but reads and mutations fail
    // loudly with a run-migrate message — no silent null-filled reads
    val reopened = new GraftIndex(spark, root)
    assert(reopened.manifest.schemaVersion == 1)
    val er = intercept[IllegalArgumentException](reopened.table("inputs"))
    assert(er.getMessage.contains("migrate"), er.getMessage)
    val em = intercept[IllegalArgumentException](
      reopened.replace("patterns", ix2.emptyOf("patterns")))
    assert(em.getMessage.contains("migrate"), em.getMessage)

    // migrate: the v1→v6 chain (add spend columns, the address-bloom
    // backfill, the policies created_at backfill, the address_stats
    // creation, the segment_blooms sidecar), idempotent after
    assert(reopened.migrate() == 5)
    assert(reopened.migrate() == 0)
    assert(reopened.manifest.schemaVersion == CurrentSchemaVersion)
    // the v6 backfill sketched every live segment of the hash-keyed tables
    val liveCov = reopened.manifest.tables.getOrElse("inputs", Nil).map(_.path).toSet
    val sketched = reopened.table("segment_blooms")
      .where(col("table_name") === "inputs")
      .select("segment_path").collect().map(_.getString(0)).toSet
    assert(liveCov.subsetOf(sketched), s"uncovered after migrate: ${liveCov -- sketched}")
    // the v4 backfill reconstructed the slot column from inputs: every
    // policies row carries its output's real creation slot again
    val polJoin = reopened.table("policies").as("p")
      .join(reopened.table("inputs").as("i"), Seq("tx_id", "output_index"))
      .where(col("p.created_at") =!= col("i.created_at")).count()
    assert(polJoin == 0L, "backfilled policies.created_at must match inputs")
    assert(reopened.table("policies").where(col("created_at").isNull).count() == 0L)
    // the v5 backfill CREATED address_stats from inputs: windows must
    // bracket every input's creation slot per address
    val badWin = reopened.table("address_stats").as("a")
      .join(reopened.table("inputs").as("i"), Seq("address"))
      .where(col("i.created_at") < col("a.min_slot") ||
        col("i.created_at") > col("a.max_slot")).count()
    assert(badWin == 0L, "address_stats windows must bracket input slots")
    assert(reopened.table("address_stats").count() > 0L)
    // spend provenance was merge-on-read (spends delta untouched), so the
    // reconciled view is IDENTICAL to the pre-down-convert index
    val after = reopened.inputsWithSpends
      .select("tx_id", "output_index", "spent_at").collect()
      .map(r => (r.getString(0), r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(after == before)

    // the migration boundary must not break the mutation machinery:
    // rollback's segment surgery (stats were recomputed on the migrated
    // writes) and vacuum (old v1 dirs are dereferenced orphans now)
    val deleted = reopened.vacuum(0L)
    assert(deleted >= 1, s"expected the down-converted segments collected, got $deleted")
    assert(reopened.inputsWithSpends.count() == before.size)
    Mutations.rollbackTo(reopened, 60L)
    val live = reopened.inputsWithSpends
    assert(live.where(col("created_at") > 60L).count() == 0)
    assert(live.where(col("spent_at") > 60L).count() == 0)
    val modelAfter = runModel(blocks.filter(_.slot <= 60L), patterns)
    assert(live.count() == modelAfter.size)

    // a FUTURE schema fails at open — upgrade the library, not the index
    Manifest.write(root, reopened.manifest.copy(schemaVersion = CurrentSchemaVersion + 1), conf)
    val ef = intercept[IllegalArgumentException](new GraftIndex(spark, root))
    assert(ef.getMessage.contains("newer"), ef.getMessage)
  }

  test("segment files carry parquet bloom filters on the hash-keyed lookup columns") {
    import org.apache.hadoop.fs.Path
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(ix.root).getFileSystem(conf)
    def bloomOffsets(table: String, column: String): Seq[Long] = {
      // side tables may be empty for this fixture (M9: empty batches
      // register no segments) — inputs is asserted non-empty below
      val segs = ix.manifest.tables.getOrElse(table, Nil).map(_.path)
      segs.flatMap { sp =>
        fs.listStatus(new Path(s"${ix.root}/$sp")).toSeq
          .filter(_.getPath.getName.endsWith(".parquet"))
          .flatMap { f =>
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
            try r.getFooter.getBlocks.asScala.toSeq.map { rg =>
              rg.getColumns.asScala.find(_.getPath.toDotString == column)
                .map(_.getBloomFilterOffset).getOrElse(-1L)
            } finally r.close()
          }
      }
    }
    // every inputs/binary_data/scripts row group has a bloom on its
    // point-lookup key — the B-tree analogue for equality predicates on
    // uniformly-random hashes, where min/max stats can never prune
    assert(bloomOffsets("inputs", "tx_id").nonEmpty)
    Seq("inputs" -> "tx_id", "binary_data" -> "binary_data_hash",
      "scripts" -> "script_hash").foreach { case (t, c) =>
      val offs = bloomOffsets(t, c)
      assert(offs.forall(_ > 0), s"$t.$c bloom offsets: $offs")
    }
    // and a clustered column does NOT get one (min/max stats own ranges)
    val segs = ix.manifest.tables("inputs").map(_.path)
    val createdOffs = segs.flatMap { sp =>
      fs.listStatus(new Path(s"${ix.root}/$sp")).toSeq
        .filter(_.getPath.getName.endsWith(".parquet")).flatMap { f =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
          try r.getFooter.getBlocks.asScala.toSeq.map { rg =>
            rg.getColumns.asScala.find(_.getPath.toDotString == "created_at")
              .map(_.getBloomFilterOffset).getOrElse(-1L)
          } finally r.close()
        }
    }
    assert(createdOffs.forall(_ <= 0), s"created_at should have no bloom: $createdOffs")
    // ADDRESS-DIMENSION secondary keys (the reference's inputsByAddress /
    // inputsByPaymentCredential / policiesByPolicyId, SQLite.hs:1159-1190):
    // dictionary stays ON, so the invariant is either/or per row group —
    // a bloom filter present, OR every data page dictionary-encoded (then
    // parquet suppresses the bloom as redundant and the dictionary filter
    // does the skipping). A row group with NEITHER would make an exact-
    // address probe read it unconditionally at scale.
    def skippable(table: String, column: String): Seq[Boolean] = {
      val segs = ix.manifest.tables.getOrElse(table, Nil).map(_.path)
      segs.flatMap { sp =>
        fs.listStatus(new Path(s"${ix.root}/$sp")).toSeq
          .filter(_.getPath.getName.endsWith(".parquet"))
          .flatMap { f =>
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
            try r.getFooter.getBlocks.asScala.toSeq.flatMap { rg =>
              rg.getColumns.asScala.find(_.getPath.toDotString == column).map { c =>
                c.getBloomFilterOffset > 0 ||
                  (c.getEncodingStats != null && !c.getEncodingStats.hasNonDictionaryEncodedPages)
              }
            } finally r.close()
          }
      }
    }
    Seq("inputs" -> "address", "inputs" -> "payment_credential",
      "policies" -> "policy_id").foreach { case (t, c) =>
      val flags = skippable(t, c)
      assert(flags.forall(identity),
        s"$t.$c has a row group with neither bloom nor full-dictionary encoding: $flags")
    }
    assert(skippable("inputs", "address").nonEmpty)
    // the point lookup still answers correctly through the bloomed files
    val any = ix.table("inputs").select("tx_id").head().getString(0)
    assert(ix.table("inputs").where(col("tx_id") === any).count() >= 1)
  }

  /** The distributed sidecar probe — one SegmentBloomMightContain filter
    * over the `segment_blooms` rows, all keys in one job — kept as the
    * reference the driver-side probe must match: key → candidate paths. */
  private def distributedCandidates(g: GraftIndex, m: GraftIndex.Manifest, keys: Seq[String],
                                    segs: List[GraftIndex.Segment]): Map[String, List[String]] = {
    import org.apache.spark.sql.graftshim.GraftShim
    import spark.implicits._
    val probe = spark.read.parquet(m.tables("segment_blooms").map(s => s"${g.root}/${s.path}"): _*)
      .where(col("table_name") === "inputs" && col("column_name") === "tx_id")
      .crossJoin(keys.toDF("key"))
      .select(col("key"), col("segment_path"),
        GraftShim.column(graft.expressions.SegmentBloomMightContain(
          GraftShim.expression(col("bloom")),
          GraftShim.expression(xxhash64(col("key"))))).as("hit"))
      .collect()
    keys.map { k =>
      val hits = probe.filter(_.getString(0) == k).groupBy(_.getString(1)).map { case (p, rs) =>
        p -> rs.exists(r => r.isNullAt(2) || r.getBoolean(2))
      }
      k -> segs.filter(s => hits.getOrElse(s.path, true)).map(_.path)
    }.toMap
  }

  test("segment_blooms sidecar: every write path maintains coverage; probe answers stay exact through mutations") {
    import graft.index.GraftIndex
    val g = new GraftIndex(spark, tmpDir("graft-sbloom"), vacuumGraceMs = 0L)
    blocks.grouped(4).foreach { batch =>
      Indexer.ingest(g, FixtureChain.toDf(spark, batch), patterns)
    }
    def covered(table: String): Set[String] =
      g.table("segment_blooms").where(col("table_name") === table)
        .select("segment_path").collect().map(_.getString(0)).toSet
    def assertCovered(when: String): Unit =
      Seq("inputs", "binary_data", "scripts").foreach { t =>
        val live = g.manifest.tables.getOrElse(t, Nil).map(_.path).toSet
        assert(live.subsetOf(covered(t)), s"[$when] uncovered $t: ${live -- covered(t)}")
      }
    def assertExact(when: String): Unit = {
      val keys = g.table("inputs").select("tx_id").distinct()
        .orderBy(col("tx_id")).collect().map(_.getString(0))
      ((keys.take(1) ++ keys.takeRight(1)).distinct :+ ("f" * 64)).foreach { k =>
        val pruned = g.tableKeyPoint("inputs", "tx_id", k)
          .where(col("tx_id") === k).count()
        val full = g.table("inputs").where(col("tx_id") === k).count()
        assert(pruned == full, s"[$when] key $k: pruned=$pruned full=$full")
      }
    }
    // the driver-side probe returns EXACTLY the segment list the
    // distributed SegmentBloomMightContain filter over the sidecar returns,
    // for present and random absent keys, at every layout below
    val rnd = new scala.util.Random(20261019L)
    def assertSameProbe(when: String, m: GraftIndex.Manifest = g.manifest): Unit = {
      val segs = m.tables("inputs")
      assert(segs.size >= 2, s"[$when] the probe needs 2+ segments to engage")
      val present = rnd.shuffle(g.table("inputs").select("tx_id").distinct()
        .collect().map(_.getString(0)).toSeq).take(12)
      val keys = present ++ Seq.fill(12)(Seq.fill(64)("0123456789abcdef"(rnd.nextInt(16))).mkString)
      val reference = distributedCandidates(g, m, keys, segs)
      keys.foreach { k =>
        val driver = g.keyCandidates(m, "inputs", "tx_id", k, segs).map(_.map(_.path))
        assert(driver.contains(reference(k)),
          s"[$when] key $k: driver probe $driver, distributed filter ${reference(k)}")
      }
      // blooms never false-negative: a present key keeps its segment
      present.foreach { k =>
        val holders = g.table("inputs").where(col("tx_id") === k)
          .select(input_file_name()).collect().map(_.getString(0))
        assert(holders.forall(f => reference(k).exists(p => f.contains(s"/$p/"))),
          s"[$when] key $k pruned away from its segment")
      }
    }
    assertCovered("after ingest"); assertExact("after ingest")
    assertSameProbe("after ingest")

    // rollback rewrites straddling segments — their fresh sketches must
    // land in the same atomic bump
    val mid = g.table("checkpoints").orderBy(col("slot_no"))
      .collect().map(_.getLong(0)).drop(5).head
    Mutations.rollbackTo(g, mid)
    assertCovered("after rollback"); assertExact("after rollback")
    assertSameProbe("after rollback")

    // a manifest naming a segment the sidecar does not cover: both probes
    // must keep it for every key (scanned conservatively)
    val m0 = g.manifest
    val uncovered = GraftIndex.Segment("inputs/seg-uncovered", Some(0L), Some(1L))
    val withUncovered = m0.tables("inputs") :+ uncovered
    val mUncovered = m0.copy(tables = m0.tables.updated("inputs", withUncovered))
    assertSameProbe("uncovered segment", mUncovered)
    assert(g.keyCandidates(mUncovered, "inputs", "tx_id", "f" * 64, withUncovered)
      .exists(_.contains(uncovered)))

    // compaction merges segments (new sketch rows) AND, when compacting
    // the sidecar itself, GCs rows for dead segments; two more appended
    // segments first, so a partial compaction leaves 2+ to probe
    def oneBlock(slot: Long, seed: Int) =
      Indexer.ingest(g, FixtureChain.toDf(spark, Seq(FixtureChain.Blk(slot,
        FixtureChain.hex32(seed), Seq(FixtureChain.Tx(FixtureChain.hex32(seed + 1), Nil,
          Seq(FixtureChain.Out(FixtureChain.baseAddr(0, 0), 1L))))))), patterns)
    oneBlock(800L, 515100); oneBlock(850L, 515200)
    assert(g.manifest.tables("inputs").size >= 4)
    assertSameProbe("after appends past the rollback")
    g.compactSegments("inputs", maxSegments = 2)
    assertCovered("after partial compact"); assertSameProbe("after partial compact")
    g.compactSegments("inputs", maxSegments = 1)
    assertCovered("after compact"); assertExact("after compact")
    val staleBefore = g.table("segment_blooms")
      .where(col("table_name") === "inputs").count()
    g.compactSegments("segment_blooms", maxSegments = 1)
    g.vacuum(0L)
    val liveNow = g.manifest.tables("inputs").map(_.path).toSet
    val rowsNow = g.table("segment_blooms").where(col("table_name") === "inputs")
      .select("segment_path").collect().map(_.getString(0)).toSet
    assert(rowsNow == liveNow,
      s"sidecar compaction should GC stale rows: $rowsNow vs live $liveNow (was $staleBefore rows)")
    assertCovered("after sidecar compact"); assertExact("after sidecar compact")
    // a fresh append after the sidecar compaction: two sidecar segments again
    oneBlock(900L, 515300)
    assertSameProbe("after append to a compacted sidecar")

    // full-table replace (deleteInputs) re-covers the rewritten table
    Mutations.deleteInputs(g, Set[Pattern](Pattern.MatchDelegation("0" * 55 + "1")))
    assertCovered("after delete"); assertExact("after delete")
  }

  test("address-dimension point lookups skip row groups (dictionary or bloom)") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.io.api.Binary
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(ix.root).getFileSystem(conf)
    // one real inputs segment file, as written by writeSegmentAt
    val file = ix.manifest.tables("inputs").map(_.path).flatMap { sp =>
      fs.listStatus(new Path(s"${ix.root}/$sp")).toSeq
        .filter(_.getPath.getName.endsWith(".parquet")).map(_.getPath)
    }.head
    // the SAME row-group filter stack Spark's vectorized reader runs
    // (stats + dictionary + bloom), applied at footer-read time
    def rowGroupsMatching(column: String, value: String): Int = {
      val pred = FilterApi.eq(FilterApi.binaryColumn(column), Binary.fromString(value))
      val opts = org.apache.parquet.HadoopReadOptions.builder(conf)
        .withRecordFilter(FilterCompat.get(pred))
        .useStatsFilter(true).useDictionaryFilter(true).useBloomFilter(true)
        .build()
      val r = new org.apache.parquet.hadoop.ParquetFileReader(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf), opts)
      try r.getRowGroups.size() finally r.close()
    }
    def probeKeys(column: String): (String, String) = {
      val vals = spark.read.parquet(file.toString).select(column)
        .where(col(column).isNotNull).distinct()
        .collect().map(_.getString(0)).sorted
      assert(vals.length >= 2, s"fixture needs >= 2 distinct $column values in one file")
      // an ABSENT key lexically BETWEEN two present ones: row-group min/max
      // stats can never prune it — only the dictionary page (fully-dict
      // chunk) or the bloom filter (plain chunk) can. Fixed-length hex
      // values mean vals(0)+"00" sorts strictly between vals(0) and vals(1).
      (vals(0), vals(0) + "00")
    }
    // address + payment_credential: small fixture chunks stay fully
    // dictionary-encoded, so the skip here exercises the dictionary path;
    // at scale plain-fallback chunks exercise the bloom the same way
    Seq("address", "payment_credential").foreach { c =>
      val (present, absent) = probeKeys(c)
      assert(rowGroupsMatching(c, present) >= 1, s"present $c must keep its row group")
      assert(rowGroupsMatching(c, absent) == 0, s"absent mid-range $c must skip every row group")
    }
    // tx_id: dictionary encoding is OFF for the hash keys, so ONLY the
    // bloom can skip — this isolates the bloom path end to end
    val (presentTx, absentTx) = probeKeys("tx_id")
    assert(rowGroupsMatching("tx_id", presentTx) >= 1)
    assert(rowGroupsMatching("tx_id", absentTx) == 0,
      "absent mid-range tx_id must be bloom-skipped")
  }

  test("schema migration: retained pre-migration snapshots stay pinned, fail loudly, age out") {
    import GraftIndex.Manifest
    import org.apache.hadoop.fs.Path
    val ix2 = new GraftIndex(spark, tmpDir("graft-mig-tt"),
      vacuumGraceMs = 0L, manifestRetention = 3)
    blocks.grouped(6).foreach { batch =>
      Indexer.ingest(ix2, FixtureChain.toDf(spark, batch), patterns)
    }
    val root = ix2.root
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(root).getFileSystem(conf)
    // down-convert the WHOLE history to v1: segments in place, the live
    // manifest, AND every retained versioned copy (a real v1-born index
    // would have written them all as v1 in the first place)
    val m0 = ix2.manifest
    val oldSegs = m0.tables("inputs").map(_.path)
    oldSegs.foreach { sp =>
      val p = new Path(s"$root/$sp"); val tmp = new Path(s"$root/$sp.v1tmp")
      spark.read.parquet(p.toString).drop("spent_by", "spent_with")
        .write.parquet(tmp.toString)
      fs.delete(p, true); assert(fs.rename(tmp, p))
    }
    Manifest.write(root,
      m0.copy(schemaVersion = 1, tables = m0.tables - "segment_blooms"), conf)
    fs.listStatus(new Path(root)).filter(_.getPath.getName.matches("""\.manifest-v\d+\.json"""))
      .foreach { st =>
        val in = fs.open(st.getPath)
        val json = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        val out = fs.create(st.getPath, true)
        try out.write(json.replaceAll("\"schema_version\":\\d+", "\"schema_version\":1")
          .getBytes("UTF-8")) finally out.close()
      }

    // retention must cover the FIVE migration commits (one per step) for
    // the pre-migration snapshot to still resolve afterwards
    val reopened = new GraftIndex(spark, root, vacuumGraceMs = 0L, manifestRetention = 6)
    val vPre = reopened.manifest.version
    assert(reopened.migrate() == 5)
    assert(reopened.inputsWithSpends.count() > 0) // current reads green

    // the pre-migration snapshot still RESOLVES (retention pins it) but a
    // read through it fails loudly with the pinned-snapshot wording — a
    // historical manifest references the old layout and can't migrate
    val pinned = reopened.asOf(vPre)
    assert(pinned.isDefined, s"version $vPre should still be retained")
    val ep = intercept[IllegalArgumentException](pinned.get.table("inputs"))
    assert(ep.getMessage.contains("historical"), ep.getMessage)

    // vacuum must NOT reclaim the old-layout segments while the retained
    // manifests still pin them
    reopened.vacuum(0L)
    assert(oldSegs.forall(sp => fs.exists(new Path(s"$root/$sp"))),
      "pinned pre-migration segments must survive vacuum")
    // age the snapshot out of the retention window; then vacuum reclaims
    (1 to 3).foreach(_ =>
      Indexer.ingest(reopened, FixtureChain.toDf(spark, blocks.take(1)), patterns))
    assert(reopened.asOfVersion(vPre).isEmpty, "aged-out version must not resolve")
    reopened.vacuum(0L)
    assert(oldSegs.forall(sp => !fs.exists(new Path(s"$root/$sp"))),
      "aged-out pre-migration segments must be reclaimed")
    assert(reopened.inputsWithSpends.count() > 0)
  }

  test("schema migration: multi-step chain runs oldest-first and resumes mid-chain") {
    import GraftIndex.{CurrentSchemaVersion, Manifest, SchemaMigration}
    val ix2 = freshIndex()
    val root = ix2.root
    val rows = ix2.table("inputs").count()
    val conf = spark.sessionState.newHadoopConf()
    // declare the index two steps behind: schema v0, with a 2-step chain
    // (v1 = re-file checkpoints verbatim; v2 = the real inputs add-columns)
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    val m0 = ix2.manifest
    m0.tables("inputs").foreach { s =>
      val p = new org.apache.hadoop.fs.Path(s"$root/${s.path}")
      val tmp = new org.apache.hadoop.fs.Path(s"$root/${s.path}.v0tmp")
      spark.read.parquet(p.toString).drop("spent_by", "spent_with")
        .write.parquet(tmp.toString)
      fs.delete(p, true)
      assert(fs.rename(tmp, p))
    }
    Manifest.write(root, m0.copy(schemaVersion = 0), conf)
    val chain =
      SchemaMigration(1, "re-file checkpoints (test)", Set("checkpoints"), (_, _, df) => df) ::
        GraftIndex.migrations
    val reopened = new GraftIndex(spark, root)
    // crash simulation: only step 1 lands — schema advances to v1, reads
    // STAY blocked (v1 != current), and the commit counter moved once
    assert(reopened.migrateWith(chain, upTo = 1) == 1)
    assert(reopened.manifest.schemaVersion == 1)
    intercept[IllegalArgumentException](reopened.table("inputs"))
    // resume: only the remaining steps run (oldest-first filter skips v1)
    assert(reopened.migrateWith(chain) == CurrentSchemaVersion - 1)
    assert(reopened.manifest.schemaVersion == CurrentSchemaVersion)
    assert(reopened.table("inputs").count() == rows)
    assert(reopened.table("checkpoints").count() > 0)
    assert(reopened.migrateWith(chain) == 0) // idempotent when current
    // a GAPPED registry fails loudly instead of skipping the hole: stamp
    // the index back two steps and offer a chain missing the middle step
    Manifest.write(root, reopened.manifest.copy(schemaVersion = 1), conf)
    val gapped = new GraftIndex(spark, root)
    val eg = intercept[IllegalArgumentException](
      gapped.migrateWith(GraftIndex.migrations.filterNot(_.to == 2)))
    assert(eg.getMessage.contains("gap"), eg.getMessage)
    assert(gapped.manifest.schemaVersion == 1, "a gapped chain must apply nothing")
    // restore to current so later suites reading this fixture stay green
    assert(gapped.migrateWith(GraftIndex.migrations) == CurrentSchemaVersion - 1)
  }
}
