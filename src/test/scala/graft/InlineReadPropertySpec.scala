package graft

import graft.index.{GraftIndex, Mutations, PatternManager}
import graft.ingest.Indexer
import graft.model.Pattern
import graft.query.{Api, FoldInputs, Health, HttpApi}
import graft.streaming.Resume
import graft.tools.FixtureChain
import graft.tools.FixtureChain.{baseAddr, enterpriseAddr, hex28, hex32}
import org.apache.spark.sql.functions.col

/** The read routes resolve checkpoints and the spends delta by lookups
  * into driver-built hash tables (`GraftIndex.checkpointsMemo`,
  * `GraftIndex.reconcileRead`); above `GraftIndex.InlineMaxRows` they keep
  * today's joins. Forcing the bound to 0 selects the join paths on the
  * same index, so every answer can be compared byte for byte: the full
  * `FoldInputs.asJson` output of random present and absent tx keys, output
  * references, address and policy patterns under each status flag and
  * order, `getCheckpointBySlot` strict and non-strict, the resume's
  * log-spaced candidates, the `GET /checkpoints` body and the address slot
  * windows, over the index states that change what the memos hold (empty,
  * one checkpoint, gapped and duplicate slots among them). Seeded, so
  * deterministic. */
class InlineReadPropertySpec extends SparkSpec {
  import Api._

  private val rnd = new scala.util.Random(20261019)
  private val patterns = Set[Pattern](Pattern.MatchAny(includingBootstrap = true))

  private def json(ix: GraftIndex, q: MatchesQuery): Seq[String] =
    FoldInputs.asJson(FoldInputs(ix, q), inlineAll = q.resolveHashes)
      .collect().map(_.getString(0)).toSeq

  private def plan(ix: GraftIndex, q: MatchesQuery): String =
    FoldInputs(ix, q).queryExecution.sparkPlan.toString

  private def randomQueries(ix: GraftIndex, n: Int): Seq[MatchesQuery] = {
    val txs = ix.table("inputs").select("tx_id").distinct().collect().map(_.getString(0)).sorted
    val keys: Seq[String] =
      Seq.fill(4)(s"*@${txs(rnd.nextInt(txs.length))}") ++
      Seq(s"${rnd.nextInt(2)}@${txs(rnd.nextInt(txs.length))}", s"*@${hex32(rnd.nextInt())}") ++
      Seq(baseAddr(0, 0), baseAddr(1, 0), baseAddr(2, 1), baseAddr(9, 9)).map(Pattern.MatchExact(_).toText) ++
      Seq(s"${baseAddr(1, 0).takeRight(56)}/*", s"${enterpriseAddr(1).takeRight(56)}/*",
        s"*/${hex28(1000)}", s"*/${hex28(1001)}", s"${hex28(2002)}/${hex28(1001)}",
        s"${hex28(50)}.*", s"${hex28(51)}.cafe", s"${hex28(52)}.*")
    Seq.fill(n) {
      MatchesQuery(keys(rnd.nextInt(keys.size)),
        status = Seq(StatusFlag.NoStatusFlag, StatusFlag.OnlyUnspent, StatusFlag.OnlySpent)(rnd.nextInt(3)),
        order = if (rnd.nextBoolean()) SortDirection.Asc else SortDirection.Desc,
        resolveHashes = rnd.nextInt(4) == 0)
    }
  }

  /** What the resume, `GET /checkpoints` and the address windows answer:
    * the resume's candidates, the route's body bytes, and the slot window
    * of each address pattern. */
  private def memoAnswers(ix: GraftIndex): (Seq[Resume.Point], Seq[Byte], Seq[Option[(Long, Long)]]) = {
    val (_, candidates) = Resume.startOrResume(ix, Resume.Since.FromTip,
      fetchTip = () => Resume.Point(-1L, "origin"))
    val api = new HttpApi(ix, () => spark.emptyDataFrame,
      () => Health.snapshot(ix, Health.ConnectionStatus.Connected))
    val body = new java.io.ByteArrayOutputStream
    api.route(HttpApi.Request("GET", "/checkpoints")).write(body)
    val windows = addressPatterns.map(p => FoldInputs.addressWindow(ix.pinned, p))
    (candidates, body.toByteArray.toSeq, windows)
  }

  private val addressPatterns: Seq[Pattern] =
    (Seq(baseAddr(0, 0), baseAddr(1, 0), baseAddr(2, 1), baseAddr(9, 9), enterpriseAddr(1))
      .map(Pattern.MatchExact(_)) ++
      Seq(s"${baseAddr(1, 0).takeRight(56)}/*", s"${enterpriseAddr(1).takeRight(56)}/*",
        s"${hex28(77)}/*", s"*/${hex28(1000)}", s"*/${hex28(1001)}", s"*/${hex28(77)}",
        s"${hex28(2002)}/${hex28(1001)}", s"${baseAddr(1, 0).takeRight(56)}/${hex28(1000)}")
        .flatMap(Pattern.fromText))

  /** Every inline-path answer equals the join path's; `inlined` says
    * whether a small read under the default bound is expected to plan no
    * join at all (false when a memo must fall back). */
  private def check(state: String, ix: GraftIndex, inlined: Boolean): Unit = {
    val joins = ix.withInlineMaxRows(0)
    randomQueries(ix, 14).foreach { q =>
      assert(json(ix, q) == json(joins, q), s"$state: ${q.patternText} ${q.status} ${q.order}")
    }
    val slots = ix.table("checkpoints").select("slot_no").collect().map(_.getLong(0))
    (Seq(0L, 5L, slots.max + 1) ++ slots.flatMap(s => Seq(s - 1, s, s + 1)).take(12)).foreach { s =>
      Seq(true, false).foreach { strict =>
        assert(PatternManager.getCheckpointBySlot(ix, s, strict) ==
          PatternManager.getCheckpointBySlot(joins, s, strict), s"$state: slot $s strict=$strict")
      }
    }
    assert(memoAnswers(ix) == memoAnswers(joins), s"$state: resume, /checkpoints or windows")
    // above the bound the plans are the join paths'; under it a small read
    // (here a present tx key) plans no join and no checkpoints scan
    val tx = ix.table("inputs").select("tx_id").head().getString(0)
    val point = MatchesQuery(s"*@$tx")
    assert(plan(joins, point).contains("Join"), s"$state: bound 0 must keep the joins")
    assert(!plan(ix, point).contains("Join") == inlined, s"$state: ${plan(ix, point)}")
    assert(!plan(joins, point).contains("driver_lookup"), s"$state: bound 0 must not look up")
    if (inlined) assert(plan(ix, point).contains("driver_lookup"), s"$state: ${plan(ix, point)}")
    // a driver table prints as its size: no plan text of a read carries
    // the checkpoints' or the delta's rows
    val hashes = ix.table("checkpoints").select("header_hash").collect().map(_.getString(0))
    val spent = ix.table("spends").select("tx_id").collect().map(_.getString(0)).toSet - tx
    Seq(point, MatchesQuery(s"${baseAddr(1, 0).takeRight(56)}/*")).foreach { q =>
      val text = FoldInputs(ix, q).queryExecution.toString
      assert(!(hashes ++ spent).exists(text.contains), s"$state: ${q.patternText} plan holds rows")
    }
  }

  private def withoutRowStats(ix: GraftIndex, tables: Set[String]): GraftIndex = {
    import GraftIndex.Manifest
    val m = ix.manifest
    val doctored = m.copy(tables = m.tables.map { case (t, segs) =>
      t -> (if (tables(t)) segs.head.copy(rows = None) :: segs.tail else segs) })
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(ix.root, "manifest.json"), Manifest.toJson(doctored))
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(ix.root, ".manifest.json.crc"))
    new GraftIndex(spark, ix.root, vacuumGraceMs = 0L)
  }

  test("resume candidates, GET /checkpoints and address windows match the Spark plans on empty and single-checkpoint indexes") {
    val ix = new GraftIndex(spark, tmpDir("graft-inline-few"), vacuumGraceMs = 0L)
    // a bound below 0 keeps even an empty table off the memos
    def same(state: String): Unit =
      assert(memoAnswers(ix) == memoAnswers(ix.withInlineMaxRows(-1)), state)
    same("empty index")
    // nothing indexed: the resume offers only the fetched tip
    assert(memoAnswers(ix)._1 == Seq(Resume.Point(-1L, "origin")))
    Indexer.ingest(ix, FixtureChain.toDf(spark, FixtureChain.chain(1)), patterns)
    same("one checkpoint")
    assert(memoAnswers(ix)._1.size == 1)
    Indexer.ingest(ix, FixtureChain.toDf(spark, FixtureChain.chain(3).drop(1)), patterns)
    same("three checkpoints over two inputs segments")
  }

  test("driver-resolved reads answer byte-identically to the join paths in every index state") {
    val blocks = FixtureChain.chain(24)
    val ix = new GraftIndex(spark, tmpDir("graft-inline-prop"), vacuumGraceMs = 0L)
    blocks.take(20).grouped(4).foreach(b => Indexer.ingest(ix, FixtureChain.toDf(spark, b), patterns))
    assert(ix.manifest.tables("inputs").size >= 5 && ix.manifest.tables("spends").nonEmpty)
    check("non-empty delta", ix, inlined = true)

    Mutations.markInputs(ix, ix.table("spends").limit(6))
    check("duplicate re-marks", ix, inlined = true)

    Mutations.rollbackTo(ix, 150L)
    check("after a rollback", ix, inlined = true)

    Indexer.ingest(ix, FixtureChain.toDf(spark, blocks.slice(15, 24)), patterns)
    assert(ix.compactSegments("inputs", 3) > 0 && ix.compactSegments("spends", 2) > 0)
    check("after a partial compaction", ix, inlined = true)

    // rows created at a slot with no checkpoint drop (the inner join);
    // rows spent at one keep a null spent header hash (the left-outer one)
    ix.replace("checkpoints", ix.table("checkpoints").where(col("slot_no") % 30 =!= 0))
    check("checkpoints missing for some slots", ix, inlined = true)

    ix.compactSpends()
    assert(ix.manifest.tables.getOrElse("spends", Nil).isEmpty)
    check("empty delta", ix, inlined = true)

    Indexer.ingest(ix, FixtureChain.toDf(spark, blocks.slice(22, 23)), patterns)
    check("a re-ingested block (duplicate checkpoint slot)", ix, inlined = false)

    Indexer.ingest(ix, FixtureChain.toDf(spark, FixtureChain.chain(26).drop(24)), patterns)
    val statless = withoutRowStats(ix, Set("checkpoints", "spends"))
    check("stat-less segments", statless, inlined = false)

    val mark = ix.table("spends").head()
    Mutations.markInputs(ix, ix.table("spends").limit(1)
      .withColumn("spent_at", col("spent_at") + 1))
    val conflicted = new GraftIndex(spark, ix.root, vacuumGraceMs = 0L)
    check(s"two marks for ${mark.getString(0)}#${mark.getInt(1)}", conflicted, inlined = false)
  }
}
