package graft.query

import graft.expressions.DriverLookup
import graft.index.{GraftIndex, PatternManager}
import graft.model.Pattern
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** The flagship read query — `foldInputs`
  * (/root/reference/src/Kupo/App/Database/Types.hs:98-105; SQL builder
  * foldInputsQry SQLite.hs:919-1003; HTTP driver Http.hs:587-684), decomposed
  * as SURVEY.md §2.3 F1-F8 and declared as one DataFrame expression so
  * Catalyst plans it: the pattern + range + status + residual predicates all
  * collapse into the parquet scan (PushedFilters), the range additionally
  * prunes index segments via manifest stats, and the datum/script
  * resolution joins broadcast (small dimension tables). A small read
  * (tx-keyed, or address/policy-windowed over few rows) resolves the
  * spends delta and the checkpoints by per-row lookups into hash tables
  * the driver built from its memos ([[graft.expressions.DriverLookup]]),
  * and sorts in one partition: one Spark job for the whole body, while
  * both tables hold at most [[GraftIndex.InlineMaxRows]] rows. Larger
  * reads and tables join and sort distributed. */
object FoldInputs {
  import Api._

  /** Ceiling (inputs rows, from manifest stats, in the window-pruned
    * segments) on an address- or policy-windowed read that counts as small
    * (see `apply`): it sorts in one partition and resolves its checkpoints
    * and spend marks by driver lookups. Measured on 4 cores (`local[4]`,
    * 8 files scanned, 1 row in 97 matching, a 512-entry checkpoints table
    * and 4096 marks; lookups + one-partition sort vs broadcast joins +
    * distributed sort, median of 9): 16k scanned rows 406 vs 1113 ms,
    * 262k 350 vs 948, 1M 679 vs 1421, 4M 1248 vs 1633, 8M 2253 vs 2211.
    * The toy's rows carry 6 columns where `inputs` rows carry 15 and each
    * matching row is then JSON-encoded in the same task, so the bound sits
    * well below the ~8M crossover, where the small path still wins by
    * 2.7x. */
  val SortInOneMaxRows: Long = 262144L

  def apply(ix0: GraftIndex, q: MatchesQuery): DataFrame = {
    // ONE manifest read for the whole query: FoldInputs touches up to five
    // tables (window probes, inputs, spends, checkpoints ×2) and each touch
    // re-resolved manifest.json — a commit landing mid-construction could
    // mix two index versions in one answer, and at 10⁵ segments each
    // re-parse is multi-MB of pure waste. The pinned facade is the same
    // mechanism time travel uses; vacuum's grace window keeps its segments
    // alive under a concurrent writer.
    val ix = ix0.pinned
    val pattern = Pattern.fromText(q.patternText)
      .getOrElse(throw new IllegalArgumentException(s"invalid pattern: ${q.patternText}"))
    require(!pattern.isIndexOnly, "metadata-tag patterns are index-time only")

    // F2 point assertion — bounds given as full points must name KNOWN
    // checkpoints (Http.hs:631-643); one strict checkpoint lookup per bound
    Seq(q.range.lowerBound zip q.range.lowerBoundHash,
        q.range.upperBound zip q.range.upperBoundHash).flatten
      .foreach { case (slot, expected) =>
        PatternManager.getCheckpointBySlot(ix, slot, strict = true) match {
          case None => throw Api.PointNotFound(slot)
          case Some((_, h)) if h != expected => throw Api.PointMismatch(slot, expected, h)
          case _ => ()
        }
      }

    // P9/P10/F7 policy-scoped queries: derive a created_at WINDOW from the
    // policies side table — the Spark use of the reference's
    // policiesByPolicyId index (SQLite.hs:1159-1190). The map predicate on
    // value.assets cannot reach parquet (no pushdown into map keys), so
    // without this a policy query scans every inputs segment at 100 TB; the
    // window probe is a bloom-served equality on the narrow side table
    // returning TWO LONGS, and the window prunes inputs segments via the
    // same manifest stats a slot range uses. Soundness: policies is a
    // SUPERSET of the asset-carrying live inputs (Schemas.policiesType —
    // stale rows only widen the window), and the in-scan map predicate
    // still decides row membership, so this is pruning, never filtering.
    // A policies table with NO segments carries no information (an index
    // populated without the side table) and derives nothing.
    val window = intersectWindows(
      policyWindow(ix, pattern, q.filter.policyId), addressWindow(ix, pattern))

    // F1/F2 — segment-pruned scan + pattern predicate + slot-range predicate
    val (lo, hi) = (q.range.lowerBound, q.range.upperBound)
    val keyed = txKey(pattern, q.filter).filter(_ => q.range.field == RangeField.CreatedAt)
    // pruning on created_at stats is sound: segments are created-ordered.
    // The policy window joins the user bounds for SEGMENT pruning only —
    // the row predicate below keeps exactly the user's range semantics.
    val pruneLo = (lo.toSeq ++ window.map(_._1)).reduceOption(_ max _)
    val pruneHi = (hi.toSeq ++ window.map(_._2)).reduceOption(_ min _)
    // A SMALL read: tx-keyed (ONE transaction's outputs over the
    // bloom-pruned segments), or address/policy-windowed over segments
    // holding at most [[SortInOneMaxRows]] rows by manifest stats. A small
    // read resolves the spends delta (reconcileRead) and the checkpoints
    // (F4) by driver lookups while each table is under the inline bound,
    // and sorts in one partition (F6); every other read keeps its joins
    // and distributed sort.
    val small = keyed.isDefined || (window.isDefined &&
      q.range.field == RangeField.CreatedAt &&
      ix.inputsRowsInSlotRange(pruneLo, pruneHi) <= SortInOneMaxRows)
    val base = q.range.field match {
      case RangeField.CreatedAt =>
        val scan = keyed match {
          // P7/P8 (*@txid, ix@txid) and ?transaction_id: the membership-
          // sketch prune (schema v6) — only segments whose bloom might hold
          // the key are scheduled; the pushed tx_id equality below still
          // decides row membership (and skips row groups via the parquet
          // bloom inside each surviving segment)
          case Some(t) =>
            ix.reconcileRead(ix.tableKeyPoint("inputs", "tx_id", t, pruneLo, pruneHi), Some(t))
          case None if small =>
            ix.reconcileRead(ix.tableSlotRange("inputs", pruneLo, pruneHi), None)
          case None if pruneLo.isDefined || pruneHi.isDefined =>
            prunedInputs(ix, pruneLo, pruneHi)
          case None => ix.inputsWithSpends
        }
        scan.where(rangePredicate(col("created_at"), lo, hi))
      case RangeField.SpentAt =>
        // post-compaction, the per-segment spent stats prune segments whose
        // spends all predate the lower bound — INTERSECTED with the v4/v5
        // created-at window (a row spent in range was created at most at the
        // spent upper bound, and a policy/address-scoped row was created
        // inside its side-table window), so `policy + ?spent_after` walks
        // both indexes instead of every spent-stats-passing segment
        ix.inputsForSpentRange(lo,
            createdLo = window.map(_._1),
            createdHi = (hi.toSeq ++ window.map(_._2)).reduceOption(_ min _))
          .where(col("spent_at").isNotNull && rangePredicate(col("spent_at"), lo, hi))
    }
    val matched = base.where(pattern.toPredicate)

    // F3 — status flag
    val statused = q.status match {
      case StatusFlag.NoStatusFlag => matched
      case StatusFlag.OnlyUnspent  => matched.where(col("spent_at").isNull)
      case StatusFlag.OnlySpent    => matched.where(col("spent_at").isNotNull)
    }

    // F7 — residual query-param filters (now just more pushed conjuncts)
    val filtered = Seq[Option[org.apache.spark.sql.Column]](
      q.filter.policyId.map(p => col("value.assets").getItem(p).isNotNull),
      q.filter.assetName.flatMap(a => q.filter.policyId.map(p =>
        col("value.assets").getItem(p).getItem(a).isNotNull)),
      q.filter.transactionId.map(t => col("tx_id") === t),
      q.filter.outputIndex.map(i => col("output_index") === i)
    ).flatten.foldLeft(statused)(_ where _)

    // F4 — header-hash resolution: created_at resolves like an inner join
    // against checkpoints (a row whose slot has no checkpoint drops),
    // spent_at like a left-outer one. A small read under the inline bound
    // (GraftIndex.InlineMaxRows) looks both slots up in the checkpoints
    // memo's driver table: the table changes only at a commit, and a join
    // would rebuild its broadcast in a job per read. Otherwise (a large
    // read, checkpoints above the bound, or a duplicate slot, which a join
    // multiplies and a hash table cannot) they are joins with
    // NO forced broadcast: checkpoints grows with chain length (~10M rows
    // mainnet, hundreds of MB) — Catalyst threshold-gates the broadcast
    // from the parquet size stats, and AQE upgrades to broadcast at runtime
    // when the filtered side turns out small. Hand-forcing it would OOM at
    // scale. OnlyUnspent leaves spent_at null on every surviving row, so
    // its spent resolution is provably empty and is skipped.
    val withPoints = (if (small) ix.checkpointsMemo else None) match {
      case Some(cps) =>
        def hashAt(slot: String) = DriverLookup.column(cps.table, StringType, col(slot))
        // header hashes are non-null, so a null lookup is a missing checkpoint
        val withCreated = filtered.withColumn("created_header_hash", hashAt("created_at"))
          .where(col("created_header_hash").isNotNull)
        withCreated.withColumn("spent_header_hash",
          if (q.status == StatusFlag.OnlyUnspent) lit(null).cast("string")
          else hashAt("spent_at"))
      case None =>
        val cp = ix.table("checkpoints")
        val createdCp = cp.select(
          col("slot_no").as("created_at"), col("header_hash").as("created_header_hash"))
        val withCreated = filtered.join(createdCp, Seq("created_at"), "inner")
        if (q.status == StatusFlag.OnlyUnspent)
          withCreated.withColumn("spent_header_hash", lit(null).cast("string"))
        else withCreated.join(cp.select(
          col("slot_no").as("spent_at"), col("header_hash").as("spent_header_hash")),
          Seq("spent_at"), "left_outer")
    }

    // F5 — optional ?resolve_hashes. binary_data/scripts carry payloads
    // (13.6M datums, multi-GB mainnet — BASELINE.md): these joins must
    // NEVER build a broadcast side that scales with chain length. Left
    // declarative: equi-join on the hash key → shuffled hash / sort-merge
    // at scale, automatic broadcast only when stats say the table is small.
    val resolved =
      if (!q.resolveHashes) withPoints
      else withPoints
        .join(ix.table("binary_data"),
          col("datum_info.hash") === col("binary_data_hash"), "left_outer")
        .drop("binary_data_hash")
        .withColumnRenamed("binary_data", "datum")
        .join(ix.table("scripts"), Seq("script_hash"), "left_outer")
        .withColumnRenamed("script", "script_resolved")

    // F6 — the sort triple identifies an output uniquely (block position +
    // output position), so the order is total up to exact-duplicate rows
    // from idempotent re-appends, which compaction dedups and which compare
    // equal anyway. A small read sorts in one partition: SinglePartition
    // satisfies the global ordering, and the range-bounds sample job plus
    // the sort shuffle disappear; its one task also scans every surviving
    // segment. Every other result keeps the distributed sort.
    val keys = Seq(col("created_at"), col("transaction_index"), col("output_index"))
    val bounded = if (small) resolved.coalesce(1) else resolved
    val sorted = q.order match {
      case SortDirection.Asc  => bounded.orderBy(keys.map(_.asc): _*)
      case SortDirection.Desc => bounded.orderBy(keys.map(_.desc): _*)
    }

    // F8 — the result projection (resultToJson field set, Pattern.hs:447-522);
    // datum_type vocabulary is "inline" | "hash" (Pattern.hs:467-471 — the
    // reference tags reference datums "hash", not "reference")
    val cols = Seq(
      col("tx_id").as("transaction_id"),
      col("output_index"),
      col("transaction_index"),
      col("address"),
      col("value"),
      col("datum_info.hash").as("datum_hash"),
      when(col("datum_info.flag") === 1, lit("inline"))
        .when(col("datum_info.flag") === 0, lit("hash")).as("datum_type"),
      col("script_hash"),
      struct(col("created_at").as("slot_no"), col("created_header_hash").as("header_hash"))
        .as("created_at"),
      when(col("spent_at").isNotNull,
        struct(col("spent_at").as("slot_no"), col("spent_header_hash").as("header_hash"),
          col("spent_by.tx_id").as("transaction_id"), col("spent_by.input_index").as("input_index"),
          col("spent_with").as("redeemer"))).as("spent_at")
    ) ++ (if (q.resolveHashes) Seq(col("datum"), col("script_resolved").as("script")) else Nil)
    sorted.select(cols: _*)
  }

  /** F8's JSON encoding — byte-exact mirror of resultToJson
    * (/root/reference/src/Kupo/Data/Pattern.hs:447-522) over the result
    * projection of `apply`. The encoder is reproduced field for field:
    *  - field order: transaction_index, transaction_id, output_index,
    *    address, value, datum_hash, [datum], [datum_type], script_hash,
    *    [script], created_at, spent_at;
    *  - nullable SCALARS are emitted as explicit JSON nulls
    *    (`"datum_hash":null`), while datum_type/datum/script pairs are
    *    ABSENT unless applicable (Pattern.hs:505-522 nullDatum/nullScript:
    *    absent under AsReference, `:null` under InlineAll);
    *  - `value.assets` is always an object (possibly {}), keys are
    *    "policy.asset" or bare "policy" when the asset name is empty
    *    (Value.hs:83-93), policies DESCENDING and asset names ASCENDING
    *    within a policy (the reference's foldrWithKey accumulation order,
    *    Value.hs:76-99);
    *  - quantities optionally stringify (QuantityEncoding.hs:31).
    * Built from string-concat expressions (no to_json: per-row varying
    * field sets and explicit-null pairs are not expressible with it) —
    * stays inside WholeStageCodegen.
    * `inlineAll` requires the resolved `datum`/`script` columns
    * (apply(..., resolveHashes = true)). */
  def asJson(result: DataFrame, stringQuantities: Boolean = false,
             inlineAll: Boolean = false): DataFrame = {
    import org.apache.spark.sql.Column
    def jstr(c: Column): Column = concat(lit("\""), c, lit("\""))
    def orNull(c: Column, enc: Column => Column): Column =
      when(c.isNotNull, enc(c)).otherwise(lit("null"))
    def qty(c: Column): Column =
      if (stringQuantities) jstr(c.cast("string")) else c.cast("string")

    val assets = col("value.assets")
    val policiesDesc = array_sort(map_entries(assets), (l, r) =>
      when(l.getField("key") < r.getField("key"), lit(1))
        .when(l.getField("key") > r.getField("key"), lit(-1)).otherwise(lit(0)))
    val assetPairs = flatten(transform(policiesDesc, p =>
      transform(
        array_sort(map_entries(p.getField("value")), (l, r) =>
          when(l.getField("key") < r.getField("key"), lit(-1))
            .when(l.getField("key") > r.getField("key"), lit(1)).otherwise(lit(0))),
        a => concat(
          lit("\""), p.getField("key"),
          when(length(a.getField("key")) > 0, concat(lit("."), a.getField("key")))
            .otherwise(lit("")),
          lit("\":"), qty(a.getField("value"))))))
    val assetsJson = when(assets.isNotNull,
      concat(lit("{"), concat_ws(",", assetPairs), lit("}"))).otherwise(lit("{}"))
    val valueJson = concat(
      lit("{\"coins\":"), qty(col("value.coins")),
      lit(",\"assets\":"), assetsJson, lit("}"))

    val datumPair =
      if (inlineAll) concat(lit(",\"datum\":"), orNull(col("datum"), jstr))
      else lit("")
    val datumTypePair = when(col("datum_type").isNotNull,
      concat(lit(",\"datum_type\":"), jstr(col("datum_type")))).otherwise(lit(""))
    // scriptToJson (Script.hs:109-124): an OBJECT {script, language}; the
    // stored payload is tag-byte-prefixed (scriptToBytes, Script.hs:126-137)
    def scriptJson(c: Column): Column = concat(
      lit("{\"script\":"), jstr(c.substr(lit(3), length(c) - 2)),
      lit(",\"language\":"), jstr(
        when(c.startsWith("00"), "native")
          .when(c.startsWith("01"), "plutus:v1")
          .when(c.startsWith("02"), "plutus:v2")
          .when(c.startsWith("03"), "plutus:v3")
          // a tag byte outside 00-03 is data corruption; without a fallback
          // the null would propagate through concat and silently erase the
          // whole row's JSON
          .otherwise("unknown")),
      lit("}"))
    val scriptPair =
      if (inlineAll) concat(lit(",\"script\":"), orNull(col("script"), scriptJson))
      else lit("")

    val createdJson = concat(
      lit("{\"slot_no\":"), col("created_at.slot_no").cast("string"),
      lit(",\"header_hash\":"), jstr(col("created_at.header_hash")), lit("}"))
    val spentJson = orNull(col("spent_at"), s => concat(
      lit("{\"slot_no\":"), s.getField("slot_no").cast("string"),
      lit(",\"header_hash\":"), jstr(s.getField("header_hash")),
      lit(",\"transaction_id\":"), orNull(s.getField("transaction_id"), jstr),
      lit(",\"input_index\":"), orNull(s.getField("input_index"), (c: Column) => c.cast("string")),
      lit(",\"redeemer\":"), orNull(s.getField("redeemer"), jstr),
      lit("}")))

    result.select(concat(
      lit("{\"transaction_index\":"), col("transaction_index").cast("string"),
      lit(",\"transaction_id\":"), jstr(col("transaction_id")),
      lit(",\"output_index\":"), col("output_index").cast("string"),
      lit(",\"address\":"), jstr(col("address")),
      lit(",\"value\":"), valueJson,
      lit(",\"datum_hash\":"), orNull(col("datum_hash"), jstr),
      datumPair, datumTypePair,
      lit(",\"script_hash\":"), orNull(col("script_hash"), jstr),
      scriptPair,
      lit(",\"created_at\":"), createdJson,
      lit(",\"spent_at\":"), spentJson,
      lit("}")).as("result_json"))
  }

  /** The policy→slot-window derivation the apply() scaladoc describes,
    * shared with the R1/R3 family: for a policy-scoped pattern (P9/P10) or
    * ?policy_id filter, one bloom-served equality on the policies side
    * table yields min/max(created_at) — two longs to the driver — and the
    * window prunes inputs segments. None = not policy-scoped, or the side
    * table has no segments (an index populated without it carries no
    * information — full scan, identical answer). (MaxValue, MinValue) =
    * the policy is provably absent: the window prunes EVERY segment.
    *
    * The probe only runs when inputs spans 2+ segments: with one segment
    * there is nothing a window could prune, so the extra job is pure
    * overhead — this is the cost-benefit line, not a heuristic (at 100 TB
    * the index is always thousands of segments and the probe always on). */
  private def policyWindow(ix: GraftIndex, pattern: Pattern,
                           filterPolicy: Option[String]): Option[(Long, Long)] = {
    val key = (pattern match {
      case Pattern.MatchPolicyId(p)   => Some(p)
      case Pattern.MatchAssetId(p, _) => Some(p)
      case _                          => None
    }).orElse(filterPolicy)
    key.filter(_ => ix.manifest.tables.getOrElse("inputs", Nil).size >= 2 &&
        ix.manifest.tables.getOrElse("policies", Nil).nonEmpty)
      .map(p => slotWindow(ix.table("policies").where(col("policy_id") === p),
        "created_at", "created_at"))
  }

  /** The address→slot-window twin of [[policyWindow]], fed by the
    * address_stats side table (schema v5): P3 exact, P4 payment-credential,
    * P5 delegation-prefix and P6 both-credential patterns match the compact
    * per-(address, batch) stats rows, and the [min,max] creation-slot
    * window prunes inputs segments. Same soundness shape: the side table
    * is a superset of live inputs (stale rows widen, never narrow), the
    * address predicate in-scan still decides membership. While the table
    * holds at most [[GraftIndex.InlineMaxRows]] rows the window is folded
    * in the driver over its memoized rows ([[GraftIndex.addressStatsMemo]]),
    * with no Spark job; above the bound it is one probe job — exact keys
    * bloom-served, the prefix via the address sort's min/max. */
  private[graft] def addressWindow(ix: GraftIndex, pattern: Pattern): Option[(Long, Long)] = {
    val probe: Option[(org.apache.spark.sql.Column, GraftIndex.AddressStat => Boolean)] =
      pattern match {
        case Pattern.MatchExact(a) =>
          Some((col("address") === a, _.address == a))
        case Pattern.MatchPayment(c) =>
          Some((col("payment_credential") === c, _.paymentCredential.contains(c)))
        case Pattern.MatchDelegation(d) =>
          Some((col("address").startsWith("01" + d), _.address.startsWith("01" + d)))
        case Pattern.MatchPaymentAndDelegation(p, d) =>
          Some((col("address").startsWith("01" + d) && col("payment_credential") === p,
            r => r.address.startsWith("01" + d) && r.paymentCredential.contains(p)))
        case _ => None
      }
    probe.filter(_ => ix.manifest.tables.getOrElse("inputs", Nil).size >= 2 &&
        ix.manifest.tables.getOrElse("address_stats", Nil).nonEmpty)
      .map { case (column, row) =>
        ix.addressStatsMemo match {
          case Some(rows) =>
            rows.iterator.filter(row).foldLeft((Long.MaxValue, Long.MinValue)) {
              case ((lo, hi), r) => (lo min r.minSlot, hi max r.maxSlot)
            }
          case None =>
            slotWindow(ix.table("address_stats").where(column), "min_slot", "max_slot")
        }
      }
  }

  /** [min(lo), max(hi)] over the matching side-table rows, in ONE Spark
    * job: the rows are coalesced to one partition before the aggregate, so
    * the partial and final aggregates share a stage (a global aggregate
    * over several partitions puts an exchange between them, which AQE runs
    * as a job of its own). No row = the key is absent: (MaxValue,
    * MinValue), a window that prunes every segment. */
  private def slotWindow(rows: DataFrame, lo: String, hi: String): (Long, Long) = {
    val r = rows.coalesce(1).agg(min(lo), max(hi)).head()
    if (r.isNullAt(0)) (Long.MaxValue, Long.MinValue) else (r.getLong(0), r.getLong(1))
  }

  /** Transaction-id point key, from the pattern (P7 MatchTransactionId /
    * P8 MatchOutputReference) or the ?transaction_id residual filter —
    * either routes the scan through the segment-bloom prune. */
  private def txKey(pattern: Pattern, filter: Api.FilterMatchesBy): Option[String] =
    (pattern match {
      case Pattern.MatchTransactionId(t)     => Some(t)
      case Pattern.MatchOutputReference(t, _) => Some(t)
      case _                                 => None
    }).orElse(filter.transactionId)

  /** MUTATION-SIDE index use: which live `inputs` segments can hold rows
    * matching ANY of `patterns`? None = unbounded (some pattern has no
    * serving index — MatchAny, metadata tags — or the probes' cost-benefit
    * gates are off); Some(paths) = only these segments need touching when
    * deleting by the pattern set — the Spark analogue of the reference's
    * DELETE walking its B-trees (SQLite.hs:846-855 deletes by the same
    * indexed predicates the reads use). Soundness is the read path's: the
    * side tables are SUPERSETS of live inputs (stale rows only widen) and
    * blooms never false-negative, so a segment left out provably holds no
    * matching row. The superset invariant is enforced at the WRITE: every
    * inputs producer — the Indexer drain, the backfill, and raw
    * `GraftIndex.append("inputs", …)` — maintains policies/address_stats
    * in the same atomic bump whenever those tables are in service (empty
    * side tables disable their windows entirely, deriving unbounded).
    * Callers should pass a PINNED index so the derivation reads one
    * manifest. */
  private[graft] def relevantInputSegments(ix: GraftIndex,
                                           patterns: Set[Pattern]): Option[Set[String]] = {
    val m = ix.manifest
    val segs = m.tables.getOrElse("inputs", Nil)
    val per: Seq[Option[Set[String]]] = patterns.toSeq.map {
      case Pattern.MatchTransactionId(t) =>
        ix.keyCandidates(m, "inputs", "tx_id", t, segs).map(_.map(_.path).toSet)
      case Pattern.MatchOutputReference(t, _) =>
        ix.keyCandidates(m, "inputs", "tx_id", t, segs).map(_.map(_.path).toSet)
      case p =>
        intersectWindows(policyWindow(ix, p, None), addressWindow(ix, p)).map {
          case (lo, hi) =>
            // stat-less segments (None) are kept conservatively; an EMPTY
            // window (absent key: MaxValue..MinValue) keeps nothing — the
            // delete of an absent policy/address touches zero bytes
            segs.filter(s => s.maxSlot.forall(_ >= lo) && s.minSlot.forall(_ <= hi))
              .map(_.path).toSet
        }
    }
    if (per.exists(_.isEmpty)) None
    else Some(per.flatten.foldLeft(Set.empty[String])(_ ++ _))
  }

  /** Intersection of two optional windows (an address pattern can combine
    * with a ?policy_id filter — both prune, the narrower wins). */
  private def intersectWindows(a: Option[(Long, Long)],
                               b: Option[(Long, Long)]): Option[(Long, Long)] =
    (a, b) match {
      case (Some((l1, h1)), Some((l2, h2))) => Some((l1 max l2, h1 min h2))
      case _                                => a.orElse(b)
    }

  /** inputsWithSpends behind the policy/address window when the pattern is
    * so scoped — the R1/R3/balance/holders scan entry point. */
  private def windowPrunedInputs(ix: GraftIndex, pattern: Pattern): DataFrame =
    txKey(pattern, Api.FilterMatchesBy()) match {
      case Some(t) => ix.reconcile(ix.tableKeyPoint("inputs", "tx_id", t))
      case None =>
        intersectWindows(policyWindow(ix, pattern, None), addressWindow(ix, pattern)) match {
          case Some((loW, hiW)) => prunedInputs(ix, Some(loW), Some(hiW))
          case None             => ix.inputsWithSpends
        }
    }

  private def prunedInputs(ix: GraftIndex, lo: Option[Long], hi: Option[Long]): DataFrame =
    // spends may mark rows created in pruned-away segments? No: pruning is on
    // created_at, and we prune segments of `inputs` only; the spends delta is
    // read in full, so reconciliation stays correct for the surviving rows.
    ix.reconcile(ix.tableSlotRange("inputs", lo, hi))

  private def rangePredicate(c: org.apache.spark.sql.Column,
                             lo: Option[Long], hi: Option[Long]) =
    (lo.map(c >= _) ++ hi.map(c <= _)).reduceOption(_ && _).getOrElse(lit(true))

  // ---- Related read operators (SURVEY.md §2.3 R1-R8) ----

  /** R1 countInputs. */
  def countInputs(ix: GraftIndex, patternText: String): Long = {
    val p = patternOf(patternText)
    windowPrunedInputs(ix.pinned, p).where(p.toPredicate).count()
  }

  /** R2 countPolicies — distinct policies carried by matching outputs. */
  def countPolicies(ix: GraftIndex, patternText: String): Long =
    foldPolicies(ix, patternText).select("policy_id").distinct().count()

  /** R3 foldPolicies — (output_reference, policy) pairs under a pattern,
    * answered from the value.assets map in-scan; the side table serves
    * only the slot-window SEGMENT prune for policy-scoped patterns. */
  def foldPolicies(ix: GraftIndex, patternText: String): DataFrame = {
    val p = patternOf(patternText)
    windowPrunedInputs(ix.pinned, p)
      .where(p.toPredicate)
      .select(col("tx_id"), col("output_index"),
        explode(map_keys(col("value.assets"))).as("policy_id"))
  }

  /** BEYOND REFERENCE — aggregated unspent balance per payment credential
    * under a pattern: UTxO count and total lovelace. Kupo answers this only
    * client-side (page through /matches?unspent and sum); at index scale
    * it's one credential-keyed partial aggregate — the payload folds
    * map-side, only (credential, count, sum) rows shuffle. The credential
    * is the virtual `substr(address, -56)` column (db/v2.1.0/001.sql:5). */
  def balanceByPayment(ix: GraftIndex, patternText: String): DataFrame = {
    val p = patternOf(patternText)
    windowPrunedInputs(ix.pinned, p)
      .where(p.toPredicate && col("spent_at").isNull)
      .groupBy(substring(col("address"), -56, 56).as("payment_credential"))
      .agg(count(lit(1)).as("n_utxos"),
        sum(col("value.coins")).cast("long").as("lovelace"))
  }

  /** BEYOND REFERENCE — token-holder distribution: per policy carried by
    * an unspent matching output, the live UTxO count and the number of
    * DISTINCT payment credentials holding it. The asset map explodes
    * in-scan (no policies-table join), then one policy-keyed aggregate;
    * countDistinct rewrites to a two-level exact aggregate, both levels
    * partial — the payload never shuffles. */
  def holdersByPolicy(ix: GraftIndex, patternText: String): DataFrame = {
    val p = patternOf(patternText)
    windowPrunedInputs(ix.pinned, p)
      .where(p.toPredicate && col("spent_at").isNull)
      .select(explode(map_keys(col("value.assets"))).as("policy_id"),
        substring(col("address"), -56, 56).as("cred"))
      .groupBy("policy_id")
      .agg(count(lit(1)).as("n_utxos"),
        countDistinct(col("cred")).as("n_holders"))
  }

  /** R4/R5 point lookups — segment-bloom pruned (schema v6): only segments
    * whose sketch might hold the hash are scheduled; the pushed equality
    * then bloom-skips row groups inside them. */
  def getBinaryData(ix: GraftIndex, hashHex: String): Option[String] =
    ix.tableKeyPoint("binary_data", "binary_data_hash", hashHex)
      .where(col("binary_data_hash") === hashHex)
      .limit(1).collect().headOption.map(_.getString(1))

  def getScript(ix: GraftIndex, hashHex: String): Option[String] =
    ix.tableKeyPoint("scripts", "script_hash", hashHex)
      .where(col("script_hash") === hashHex)
      .limit(1).collect().headOption.map(_.getString(1))

  /** R6 listCheckpointsDesc — logarithmically-spaced recent checkpoints
    * (SQLite.hs:722-733,1005-1010): for each offset, the nearest checkpoint at
    * or after (tip − offset); dedup; desc. What every resume offers as
    * intersection candidates, and `GET /checkpoints`.
    *
    * While the checkpoints memo applies ([[GraftIndex.checkpointsMemo]]: at
    * most [[GraftIndex.InlineMaxRows]] rows, no repeated slot) the answer
    * is picked from its sorted map in the driver and returned as literal
    * rows — collecting it runs no Spark job. Otherwise it is ONE lazy
    * plan: ~70 conditional `min(when(...))` aggregates in one
    * map-side-combined pass (a non-equi join would multiply the table by
    * the offset count — ≈40× rows at mainnet's 10M checkpoints — to
    * produce an 11-row answer); the offsets are the STATIC series, the
    * data-dependent `takeWhile(_ <= tip)` becoming the in-plan
    * `tip − off >= 0` gate; the tip is a broadcast 1-row aggregate, and
    * the selected slots broadcast-join back for header hashes. An empty
    * table falls through naturally (null tip → all mins null → empty join). */
  def listCheckpointsDesc(ix: GraftIndex): DataFrame =
    ix.checkpointsMemo match {
      case Some(cps) =>
        val picked = cps.bySlot.lastOption.toSeq.flatMap { case (tip, _) =>
          CheckpointOffsets.filter(off => tip - off >= 0)
            .flatMap(off => cps.bySlot.minAfter(tip - off))
        }.distinct.sortBy(-_._1)
        ix.spark.createDataFrame(
          java.util.Arrays.asList(picked.map { case (s, h) => Row(s, h) }: _*),
          graft.Schemas.checkpointsType)
      case None =>
        val cp = ix.table("checkpoints")
        val tip = cp.agg(max("slot_no").as("_tip"))
        val minCols = CheckpointOffsets.zipWithIndex.map { case (off, i) =>
          min(when(col("_tip") - off >= 0 && col("slot_no") >= col("_tip") - off,
            col("slot_no"))).as(s"m$i")
        }
        val slots = cp.crossJoin(broadcast(tip))
          .agg(minCols.head, minCols.tail: _*)
          .select(explode(array(CheckpointOffsets.indices.map(i => col(s"m$i")): _*))
            .as("slot_no"))
          .where(col("slot_no").isNotNull)
          .distinct()
        cp.join(broadcast(slots), Seq("slot_no"))
          .select(col("slot_no"), col("header_hash"))
          .dropDuplicates("slot_no") // re-ingested batches can duplicate rows
          .orderBy(col("slot_no").desc)
    }

  /** R6's offsets from the tip: 0..10, then 20·2^k capped at Long range. */
  private val CheckpointOffsets: Seq[Long] = (0L to 10L) ++
    Iterator.iterate(20L)(_ * 2).takeWhile(o => o > 0 && o <= Long.MaxValue / 2).toSeq

  /** R7 listAncestorsDesc — top-k checkpoints strictly before a slot. */
  def listAncestorsDesc(ix: GraftIndex, slot: Long, n: Int): DataFrame =
    ix.table("checkpoints").where(col("slot_no") < slot)
      .orderBy(col("slot_no").desc).limit(n)

  /** R8 selectMaxCheckpoint — argmax as orderBy-limit-1, memoized on the
    * index by its checkpoints segment list ([[GraftIndex.maxCheckpoint]]). */
  def maxCheckpoint(ix: GraftIndex): Option[(Long, String)] = ix.maxCheckpoint

  private def patternOf(text: String): Pattern =
    Pattern.fromText(text)
      .getOrElse(throw new IllegalArgumentException(s"invalid pattern: $text"))
}
