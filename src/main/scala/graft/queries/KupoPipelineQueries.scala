package graft.queries

import graft.Schemas
import graft.index.GraftIndex
import graft.query.{Api, FoldInputs}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import QueryDef.table

/** The flagship end-to-end checks: a kupo index DERIVED deterministically
  * from the driver tables, written through the real GraftIndex, queried
  * through the real FoldInputs — and the whole derivation+query mirrored as
  * one DuckDB CTE so the oracle can hash-compare it (SURVEY.md §7.3's
  * minimum slice, re-expressed over the shared testdata).
  *
  * Derivation (lineitem row → index row), mirrored EXACTLY in derivationSql:
  *   transaction_id    = md5(l_orderkey) ‖ md5(l_orderkey)   (64-hex txid)
  *   output_index      = l_linenumber
  *   transaction_index = l_orderkey % 7
  *   address           = '01' ‖ lpad(l_partkey % 40, 56, '0')   (delegation)
  *                            ‖ '01' ‖ lpad(l_suppkey, 56, '0') (payment)
  *   coins             = l_quantity (integral)
  *   assets            = when l_partkey % 3 = 0:
  *                         { lpad(l_partkey % 5, 56, '0') →
  *                           { lpad(l_suppkey % 3, 6, '0') → l_quantity } }
  *   datum_info        = when l_orderkey % 11 = 0:
  *                         (flag = l_orderkey % 2, hash = md5('d' ‖ l_orderkey))
  *   script_hash       = when l_orderkey % 13 = 0: md5('s' ‖ l_orderkey)
  *   created_at        = l_orderkey (slot)
  *   spent_at          = l_orderkey + 5 when l_returnflag = 'R'
  *   spent_by          = (md5(l_orderkey+1) ‖ md5(l_orderkey+1), l_linenumber % 3)
  *   spent_with        = 'rdmr' ‖ (l_orderkey % 97) when also l_orderkey % 3 = 0
  *   binary_data       = datum hashes where l_orderkey % 22 = 0 (half resolve)
  *   scripts           = script hashes where l_orderkey % 26 = 0
  *   checkpoints       = every created/spent slot, header = md5(slot)
  */
object KupoPipelineQueries {

  /** Delegation credential the flagship query filters on (l_partkey % 40 == 7). */
  private val cred7 = "0" * 55 + "7"
  /** Policy / asset the P9/P10 queries filter on. */
  private val policy2 = "0" * 55 + "2"
  private val asset1 = "0" * 5 + "1"

  private def txIdOf(c: Column): Column = concat(md5(c.cast("string")), md5(c.cast("string")))

  /** Byron/bootstrap rows derived from `orders` (2% sample, slots offset to
    * 10M+ so every slot-ranged query stays unaffected): tag-00 addresses with
    * no assets/datums/spends. They make the Shelley-only wildcard (P2)
    * genuinely differ from `*` — without them the OnlyShelley oracle would be
    * vacuously equal to the full count. */
  private def derivedBootstrapInputs(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders").where(col("o_orderkey") % 50 === 0).select(
      concat(md5(concat(lit("b"), col("o_orderkey").cast("string"))),
             md5(concat(lit("b"), col("o_orderkey").cast("string")))).as("tx_id"),
      lit(0).as("output_index"),
      (col("o_orderkey") % 7).cast("int").as("transaction_index"),
      concat(lit("00"), md5(col("o_orderkey").cast("string"))).as("address"),
      lit(null).cast("string").as("payment_credential"),
      struct(
        col("o_custkey").cast(DecimalType(38, 0)).as("coins"),
        lit(null).cast(Schemas.valueType.fields(1).dataType).as("assets")).as("value"),
      lit(null).cast(Schemas.datumInfoType).as("datum_info"),
      lit(null).cast("string").as("script_hash"),
      (col("o_orderkey") + 10000000L).as("created_at"),
      lit(null).cast("long").as("spent_at"),
      lit(null).cast(Schemas.spentByType).as("spent_by"),
      lit(null).cast("string").as("spent_with"),
      ((col("o_orderkey") + 10000000L) / Schemas.BucketSize).cast("long").as("created_bucket"))

  private def derivedInputs(s: SparkSession, dir: String): DataFrame =
    derivedShelleyInputs(s, dir).unionByName(derivedBootstrapInputs(s, dir))

  private[graft] def derivedShelleyInputs(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem").select(
      txIdOf(col("l_orderkey")).as("tx_id"),
      col("l_linenumber").as("output_index"),
      (col("l_orderkey") % 7).cast("int").as("transaction_index"),
      concat(lit("01"), lpad((col("l_partkey") % 40).cast("string"), 56, "0"),
             lit("01"), lpad(col("l_suppkey").cast("string"), 56, "0")).as("address"),
      lpad(col("l_suppkey").cast("string"), 56, "0").as("payment_credential"),
      struct(
        col("l_quantity").cast(DecimalType(38, 0)).as("coins"),
        when(col("l_partkey") % 3 === 0,
          map(lpad((col("l_partkey") % 5).cast("string"), 56, "0"),
              map(lpad((col("l_suppkey") % 3).cast("string"), 6, "0"),
                  col("l_quantity").cast(DecimalType(38, 0)))))
          .as("assets")).as("value"),
      when(col("l_orderkey") % 11 === 0,
        struct((col("l_orderkey") % 2).cast("byte").as("flag"),
               md5(concat(lit("d"), col("l_orderkey").cast("string"))).as("hash")))
        .as("datum_info"),
      when(col("l_orderkey") % 13 === 0,
        md5(concat(lit("s"), col("l_orderkey").cast("string")))).as("script_hash"),
      col("l_orderkey").as("created_at"),
      when(col("l_returnflag") === "R", col("l_orderkey") + 5)
        .otherwise(lit(null)).cast("long").as("spent_at"),
      when(col("l_returnflag") === "R",
        struct(txIdOf(col("l_orderkey") + 1).as("tx_id"),
               (col("l_linenumber") % 3).cast("int").as("input_index")))
        .as("spent_by"),
      when(col("l_returnflag") === "R" && col("l_orderkey") % 3 === 0,
        concat(lit("rdmr"), (col("l_orderkey") % 97).cast("string"))).as("spent_with"),
      (col("l_orderkey") / Schemas.BucketSize).cast("long").as("created_bucket"))

  /** Normalized BLOCK frame derived from `orders` (the S4/S5/R11 read
    * surface works on the block source, not the index): one tx per block,
    * metadata on every third block as the wire's {"json": value} form —
    * one int and one string label, so the metadatum_schema kernel's
    * rendering is DuckDB-mirrorable byte for byte. */
  private def derivedBlocks(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders").select(
      col("o_orderkey").as("slot_no"),
      md5(col("o_orderkey").cast("string")).as("header_hash"),
      array(struct(
        txIdOf(col("o_orderkey")).as("id"),
        when(col("o_orderkey") % 3 === 0,
          map(
            lit("674"),
            concat(lit("{\"json\": "), (col("o_orderkey") % 100).cast("string"), lit("}")),
            lit("721"),
            concat(lit("{\"json\": \"w"), (col("o_orderkey") % 10).cast("string"), lit("\"}"))))
          .as("metadata"))).as("txs"))

  /** Index for the segment-tiering query: the Shelley derivation ingested
    * as FOUR micro-batch appends (disjoint created_at % 4 slices → four
    * segments), then `compactSegments` tiers them to two and vacuum
    * reclaims the merge inputs — the oracle passes only if the verbatim
    * re-filing lost and duplicated nothing, spends included. */
  private def tieredIndex(s: SparkSession, dir: String): GraftIndex =
    ArtifactStore(s, dir, "kupo-tier") {
      val ix = new GraftIndex(s, ArtifactStore.dir(s, "tier"), vacuumGraceMs = 0L)
      val inputs = derivedShelleyInputs(s, dir).cache()
      (0 until 4).foreach(k =>
        ix.append("inputs", inputs.where(col("created_at") % 4 === k)))
      inputs.unpersist()
      require(ix.manifest.tables("inputs").size == 4)
      ix.compactSegments("inputs", maxSegments = 2)
      ix.vacuum(0L)
      ix
    }

  /** Index + retained snapshot version for the time-travel query: built
    * once per sfDir with manifestRetention = 3, the cred7 slice of the
    * derivation committed, the version CAPTURED, then a policy-pattern
    * deleteInputs mutating the live state — so `asOf(version)` observably
    * differs from the current manifest and the oracle checks the pinned
    * snapshot, not the mutated head. */
  private def snapshotIndex(s: SparkSession, dir: String): (GraftIndex, Long) =
    ArtifactStore(s, dir, "kupo-asof") {
      val ix = new GraftIndex(s, ArtifactStore.dir(s, "asof"), manifestRetention = 3)
      val inputs = derivedShelleyInputs(s, dir)
        .where(graft.model.Pattern.MatchDelegation(cred7).toPredicate)
        .cache()
      val checkpoints = inputs.select(col("created_at").as("slot_no"))
        .union(inputs.where(col("spent_at").isNotNull).select(col("spent_at")))
        .distinct()
        .select(col("slot_no"), md5(col("slot_no").cast("string")).as("header_hash"))
      ix.replace("inputs", inputs)
      ix.replace("checkpoints", checkpoints)
      inputs.unpersist()
      val snapVer = ix.manifest.version
      graft.index.Mutations.deleteInputs(ix,
        Set[graft.model.Pattern](graft.model.Pattern.MatchPolicyId(policy2)))
      (ix, snapVer)
    }

  /** Index for the schema-migration query: the Shelley derivation written
    * at the CURRENT schema, then DOWN-CONVERTED to schema v1 (every inputs
    * segment rewritten without spent_by/spent_with — the reference's
    * pre-db/v2.10.0 layout — and the manifest stamped schema_version 1),
    * then `migrate()` run to bring it back through the full FOUR-STEP
    * production chain (v2 spend columns, v3 address-bloom backfill, v4
    * policies created_at backfill, v5 address_stats creation).
    * The scan passes its oracle
    * only if the migrated data is byte-faithful on every surviving column
    * AND the provenance columns really round-tripped through the v1 hole
    * (they must read NULL — scanning the unmigrated source would leak the
    * original 'rdmr…' values and hash-mismatch). */
  private def migratedIndex(s: SparkSession, dir: String): GraftIndex =
    ArtifactStore(s, dir, "kupo-mig") {
      val root = ArtifactStore.dir(s, "mig")
      val ix = new GraftIndex(s, root, vacuumGraceMs = 0L)
      ix.replace("inputs", derivedShelleyInputs(s, dir))
      val conf = s.sessionState.newHadoopConf()
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
      val m0 = ix.manifest
      m0.tables("inputs").foreach { seg =>
        val p = new org.apache.hadoop.fs.Path(s"$root/${seg.path}")
        val tmp = new org.apache.hadoop.fs.Path(s"$root/${seg.path}.v1tmp")
        s.read.parquet(p.toString).drop("spent_by", "spent_with")
          .write.parquet(tmp.toString)
        fs.delete(p, true)
        require(fs.rename(tmp, p), s"down-convert rename failed for ${seg.path}")
      }
      // a v1-born index predates the v6 sidecar too
      GraftIndex.Manifest.write(root,
        m0.copy(schemaVersion = 1, tables = m0.tables - "segment_blooms"), conf)
      val old = new GraftIndex(s, root)
      // the v1→v6 chain through the production registry: add the
      // spend-provenance columns (v2), the address-bloom backfill rewrite
      // (v3), the policies created_at backfill (v4), the address_stats
      // creation (v5), the segment_blooms sidecar backfill (v6) — one
      // committed manifest per step
      require(old.migrate() == 5, "expected the five-step v1->v6 chain")
      old.vacuum(0L)
      old
    }

  private val lastCopyDir = new java.util.concurrent.atomic.AtomicReference[String]

  /** Temp dir for a copyDatabase bootstrap, deleting ONLY the immediately
    * previous invocation's copy first (single atomic swap): the bench runs
    * this query 4× per pass (warm + best-of-3), and letting whole index
    * copies accumulate in /tmp is both a disk leak and a source of
    * run-to-run drift (round-5 bench watch item on q_kupo_copy_database).
    * The just-returned dir stays live until the NEXT invocation — and if
    * invocations ever overlap, each reclaims at most the one dir it
    * swapped out, so a dir another in-flight call is still reading can't
    * be deleted by a third call draining a shared queue (ADVICE r6). */
  private val lastBackfillDir = new java.util.concurrent.atomic.AtomicReference[String]()

  /** Rotating temp root for q_kupo_append_backfill's per-execution index —
    * its own rotator (not [[freshCopyDir]]'s) so the two mutation-query
    * families can never reap each other's still-scanning directories. */
  private def freshBackfillDir(s: SparkSession): String = {
    val dir = ArtifactStore.dir(s, "backfill")
    reapAsync(lastBackfillDir.getAndSet(dir))
    dir
  }

  /** Delete the swapped-out previous copy OFF the caller's thread: the walk
    * + per-file deletes are pure bench hygiene (the dir is dead — only the
    * immediately previous invocation's), and running them synchronously put
    * driver-side filesystem IO inside the timed mutation query (tens of
    * files per segment since the range-partitioned writes). Same safety as
    * the synchronous form: each invocation reaps at most the one dir it
    * swapped out, which no in-flight call can still be scanning. */
  private def reapAsync(old: String): Unit = {
    if (old == null) return
    val t = new Thread(() => {
      try ArtifactStore.deleteTree(java.nio.file.Paths.get(old))
      catch { case _: Throwable => () } // best-effort /tmp reaping
    }, "graft-dir-reaper")
    t.setDaemon(true)
    t.start()
  }

  private def freshCopyDir(s: SparkSession): String = {
    val dir = ArtifactStore.dir(s, "copy")
    reapAsync(lastCopyDir.getAndSet(dir))
    dir
  }

  /** Build (once per sfDir per SparkContext) a real GraftIndex from the derivation —
    * the index is immutable here, so the kupo queries share it the way a
    * deployment shares one index across many reads. */
  def buildIndex(s: SparkSession, dir: String): GraftIndex =
    ArtifactStore(s, dir, "kupo")(buildIndexUncached(s, dir))

  private def buildIndexUncached(s: SparkSession, dir: String): GraftIndex = {
    val ix = new GraftIndex(s, ArtifactStore.dir(s, "kupo"))
    val inputs = derivedInputs(s, dir).cache()
    val checkpoints = inputs.select(col("created_at").as("slot_no"))
      .union(inputs.where(col("spent_at").isNotNull).select(col("spent_at")))
      .distinct()
      .select(col("slot_no"), md5(col("slot_no").cast("string")).as("header_hash"))
    val li = table(s, dir, "lineitem")
    val binaryData = li.where(col("l_orderkey") % 22 === 0)
      .select(md5(concat(lit("d"), col("l_orderkey").cast("string"))).as("binary_data_hash"))
      .distinct()
      .select(col("binary_data_hash"), md5(col("binary_data_hash")).as("binary_data"))
    val scripts = li.where(col("l_orderkey") % 26 === 0)
      .select(md5(concat(lit("s"), col("l_orderkey").cast("string"))).as("script_hash"))
      .distinct()
      .select(col("script_hash"), md5(col("script_hash")).as("script"))
    // the ACTIVE PATTERN SET (R9's listing surface): one payment-credential
    // pattern per distinct l_suppkey % 50 — data-derived so the oracle
    // mirrors it relationally instead of hashing a constant
    val patterns = li.select(
        concat(lpad((col("l_suppkey") % 50).cast("string"), 56, "0"), lit("/*"))
          .as("pattern"))
      .distinct()
    // the policies side table (M5's shape): one row per (outref, policy)
    // with the creation slot — FoldInputs derives the policy->slot-window
    // segment prune from it, so an index must carry it for policy queries
    // to stay scan-minimal (results are identical either way: the in-scan
    // map predicate decides membership)
    val policies = inputs.select(col("tx_id"), col("output_index"),
        explode(map_keys(col("value.assets"))).as("policy_id"), col("created_at"))
      .dropDuplicates("tx_id", "output_index", "policy_id")
    ix.replace("inputs", inputs)
    ix.replace("checkpoints", checkpoints)
    ix.replace("binary_data", binaryData)
    ix.replace("scripts", scripts)
    ix.replace("patterns", patterns)
    ix.replace("policies", policies)
    inputs.unpersist()
    ix
  }

  /** Compare-surface projection. `coins` is cast to BIGINT (l_quantity is
    * integral): decimals hash differently between engines in the driver's
    * canonicalization — keep the compare surface integer/string-only. The
    * final ORDER BY appends (address, coins) to the kupo sort triple: the
    * testdata has duplicate (l_orderkey, l_linenumber) pairs, so the triple
    * alone is NOT total here, and any remaining ties are fully identical
    * rows (order-insensitive for hashing). */
  private def flat(res: DataFrame, desc: Boolean = false): DataFrame = {
    val sel = res.select(
      col("transaction_id"), col("output_index"), col("transaction_index"),
      col("address"), col("value.coins").cast("long").as("coins"),
      col("created_at.slot_no").as("created_slot"),
      col("created_at.header_hash").as("created_hash"))
    val keys = Seq(col("created_slot"), col("transaction_index"),
      col("output_index"), col("address"), col("coins"))
    sel.orderBy(keys.map(k => if (desc) k.desc else k.asc): _*)
  }

  private val derivationSql =
    """WITH inputs AS (
      |  SELECT md5(CAST(l_orderkey AS VARCHAR)) || md5(CAST(l_orderkey AS VARCHAR)) AS transaction_id,
      |         l_linenumber AS output_index,
      |         CAST(l_orderkey % 7 AS INT) AS transaction_index,
      |         '01' || lpad(CAST(l_partkey % 40 AS VARCHAR), 56, '0')
      |              || '01' || lpad(CAST(l_suppkey AS VARCHAR), 56, '0') AS address,
      |         CAST(l_quantity AS BIGINT) AS coins,
      |         CASE WHEN l_partkey % 3 = 0 THEN lpad(CAST(l_partkey % 5 AS VARCHAR), 56, '0') END AS policy_id,
      |         CASE WHEN l_partkey % 3 = 0 THEN lpad(CAST(l_suppkey % 3 AS VARCHAR), 6, '0') END AS asset_name,
      |         CASE WHEN l_orderkey % 11 = 0 THEN md5('d' || CAST(l_orderkey AS VARCHAR)) END AS datum_hash,
      |         CASE WHEN l_orderkey % 13 = 0 THEN md5('s' || CAST(l_orderkey AS VARCHAR)) END AS script_hash,
      |         l_orderkey AS created_at,
      |         CASE WHEN l_returnflag = 'R' THEN l_orderkey + 5 END AS spent_at,
      |         CASE WHEN l_returnflag = 'R'
      |              THEN md5(CAST(l_orderkey + 1 AS VARCHAR)) || md5(CAST(l_orderkey + 1 AS VARCHAR)) END AS spender,
      |         CASE WHEN l_returnflag = 'R' THEN CAST(l_linenumber % 3 AS INT) END AS spend_input_index,
      |         CASE WHEN l_returnflag = 'R' AND l_orderkey % 3 = 0
      |              THEN 'rdmr' || CAST(l_orderkey % 97 AS VARCHAR) END AS redeemer
      |  FROM lineitem
      |  UNION ALL
      |  SELECT md5('b' || CAST(o_orderkey AS VARCHAR)) || md5('b' || CAST(o_orderkey AS VARCHAR)),
      |         0, CAST(o_orderkey % 7 AS INT),
      |         '00' || md5(CAST(o_orderkey AS VARCHAR)),
      |         CAST(o_custkey AS BIGINT),
      |         NULL, NULL, NULL, NULL,
      |         o_orderkey + 10000000, NULL, NULL, NULL, NULL
      |  FROM orders WHERE o_orderkey % 50 = 0)
      |""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // F1+F2+F3+F4+F6+F8: delegation pattern, created range, unspent only,
    // checkpoint join, 3-key desc order — GET /matches/*/{cred}.
    QueryDef("q_kupo_fold_inputs",
      (s, d) => {
        val ix = buildIndex(s, d)
        flat(FoldInputs(ix, Api.MatchesQuery(
          s"*/$cred7",
          range = Api.SlotRange(Api.RangeField.CreatedAt, Some(100L), Some(3000L)),
          status = Api.StatusFlag.OnlyUnspent,
          order = Api.SortDirection.Desc)), desc = true)
      },
      Some(derivationSql +
        s"""SELECT transaction_id, output_index, transaction_index, address, coins,
           |       created_at AS created_slot,
           |       md5(CAST(created_at AS VARCHAR)) AS created_hash
           |FROM inputs
           |WHERE address LIKE '01$cred7%'
           |  AND created_at BETWEEN 100 AND 3000
           |  AND spent_at IS NULL
           |ORDER BY created_at DESC, transaction_index DESC, output_index DESC,
           |         address DESC, coins DESC""".stripMargin)),

    // Spent-side range query with full spend provenance: ?spent_after &
    // ?spent_before over the wildcard pattern (F2 on spent_at + F4 left join
    // + v2.10 spent_by/spent_with fields in F8).
    QueryDef("q_kupo_spent_range",
      (s, d) => {
        val ix = buildIndex(s, d)
        FoldInputs(ix, Api.MatchesQuery(
          "*",
          range = Api.SlotRange(Api.RangeField.SpentAt, Some(500L), Some(1500L)),
          order = Api.SortDirection.Asc))
          .select(col("transaction_id"), col("output_index"),
            col("spent_at.slot_no").as("spent_slot"),
            col("spent_at.header_hash").as("spent_hash"),
            col("spent_at.transaction_id").as("spender"),
            col("spent_at.input_index").as("spend_input_index"),
            col("spent_at.redeemer").as("redeemer"))
      },
      Some(derivationSql +
        """SELECT transaction_id, output_index, spent_at AS spent_slot,
          |       md5(CAST(spent_at AS VARCHAR)) AS spent_hash,
          |       spender, spend_input_index, redeemer
          |FROM inputs
          |WHERE spent_at IS NOT NULL AND spent_at BETWEEN 500 AND 1500
          |ORDER BY created_at ASC, transaction_index ASC, output_index ASC""".stripMargin)),

    // R1 countInputs under a payment-credential pattern (suffix equality).
    QueryDef("q_kupo_count_by_payment",
      (s, d) => {
        val ix = buildIndex(s, d)
        val cred3 = "0" * 55 + "3"
        import s.implicits._
        Seq(FoldInputs.countInputs(ix, s"$cred3/*")).toDF("n")
      },
      Some(derivationSql +
        s"""SELECT count(*) AS n FROM inputs
           |WHERE address LIKE '01%' AND address LIKE '%${"0" * 55 + "3"}'""".stripMargin)),

    // BEYOND REFERENCE: unspent balance per payment credential under the
    // Shelley wildcard — one credential-keyed partial aggregate (kupo can
    // only answer this by paging /matches?unspent client-side).
    QueryDef("q_kupo_balance_by_payment",
      (s, d) => {
        val ix = buildIndex(s, d)
        FoldInputs.balanceByPayment(ix, "*/*").orderBy(col("payment_credential"))
      },
      Some(derivationSql +
        """SELECT substr(address, length(address) - 55) AS payment_credential,
          |       count(*)::BIGINT AS n_utxos,
          |       CAST(sum(coins) AS BIGINT) AS lovelace
          |FROM inputs
          |WHERE address NOT LIKE '00%' AND spent_at IS NULL
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // BEYOND REFERENCE: per-policy holder distribution over live UTxOs —
    // asset map exploded in-scan, one policy-keyed exact aggregate.
    QueryDef("q_kupo_holders_by_policy",
      (s, d) => {
        val ix = buildIndex(s, d)
        FoldInputs.holdersByPolicy(ix, "*").orderBy(col("policy_id"))
      },
      Some(derivationSql +
        """SELECT policy_id,
          |       count(*)::BIGINT AS n_utxos,
          |       count(DISTINCT substr(address, length(address) - 55))::BIGINT
          |         AS n_holders
          |FROM inputs
          |WHERE policy_id IS NOT NULL AND spent_at IS NULL
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // P9 MatchPolicyId: GET /matches/{policy}.* — map-key membership pushed
    // into the scan (the reference needs a policies-table join here).
    QueryDef("q_kupo_policy",
      (s, d) => {
        val ix = buildIndex(s, d)
        flat(FoldInputs(ix, Api.MatchesQuery(
          s"$policy2.*", order = Api.SortDirection.Asc)))
      },
      Some(derivationSql +
        s"""SELECT transaction_id, output_index, transaction_index, address, coins,
           |       created_at AS created_slot,
           |       md5(CAST(created_at AS VARCHAR)) AS created_hash
           |FROM inputs WHERE policy_id = '$policy2'
           |ORDER BY created_at ASC, transaction_index ASC, output_index ASC,
           |         address ASC, coins ASC""".stripMargin)),

    // The BASELINE.md `policy + spent range` composite
    // (benchmarks/README.md:76-99): P9 pattern + F2 on spent_at — the shape
    // the SpentAt-branch created-window intersection prunes by BOTH indexes
    // (policy window ∩ spent stats). PlanShapeSpec gates its segment
    // selection; this row gates its answer in the driver's oracle run.
    QueryDef("q_kupo_policy_spent_range",
      (s, d) => {
        val ix = buildIndex(s, d)
        FoldInputs(ix, Api.MatchesQuery(
          s"$policy2.*",
          range = Api.SlotRange(Api.RangeField.SpentAt, Some(500L), None),
          order = Api.SortDirection.Asc))
          .select(col("transaction_id"), col("output_index"),
            col("spent_at.slot_no").as("spent_slot"),
            col("spent_at.transaction_id").as("spender"))
      },
      Some(derivationSql +
        s"""SELECT transaction_id, output_index, spent_at AS spent_slot, spender
           |FROM inputs
           |WHERE policy_id = '$policy2' AND spent_at IS NOT NULL AND spent_at >= 500
           |ORDER BY created_at ASC, transaction_index ASC, output_index ASC""".stripMargin)),

    // P10-equivalent via F7 residual filters: ?policy_id=&asset_name= over
    // the wildcard pattern — exact asset match, no post-scan re-check
    // (the reference re-filters rows in the HTTP layer, Http.hs:657-670).
    QueryDef("q_kupo_asset_residual",
      (s, d) => {
        val ix = buildIndex(s, d)
        flat(FoldInputs(ix, Api.MatchesQuery(
          "*", order = Api.SortDirection.Asc,
          filter = Api.FilterMatchesBy(policyId = Some(policy2), assetName = Some(asset1)))))
      },
      Some(derivationSql +
        s"""SELECT transaction_id, output_index, transaction_index, address, coins,
           |       created_at AS created_slot,
           |       md5(CAST(created_at AS VARCHAR)) AS created_hash
           |FROM inputs WHERE policy_id = '$policy2' AND asset_name = '$asset1'
           |ORDER BY created_at ASC, transaction_index ASC, output_index ASC,
           |         address ASC, coins ASC""".stripMargin)),

    // P7 MatchTransactionId: *@txid — struct-column equality replaces the
    // reference's packed-bytes BETWEEN range trick (Database.hs:745-755).
    QueryDef("q_kupo_txid",
      (s, d) => {
        val ix = buildIndex(s, d)
        val k = table(s, d, "lineitem").agg(min("l_orderkey")).head().getLong(0)
        val txId = { val h = org.apache.commons.codec.digest.DigestUtils.md5Hex(k.toString); h + h }
        flat(FoldInputs(ix, Api.MatchesQuery(s"*@$txId", order = Api.SortDirection.Asc)))
      },
      Some(derivationSql +
        """SELECT transaction_id, output_index, transaction_index, address, coins,
          |       created_at AS created_slot,
          |       md5(CAST(created_at AS VARCHAR)) AS created_hash
          |FROM inputs
          |WHERE transaction_id =
          |      (SELECT md5(CAST(min(l_orderkey) AS VARCHAR)) || md5(CAST(min(l_orderkey) AS VARCHAR)) FROM lineitem)
          |ORDER BY created_at ASC, transaction_index ASC, output_index ASC,
          |         address ASC, coins ASC""".stripMargin)),

    // P6 MatchPaymentAndDelegation: <payment>/<delegation> — prefix AND
    // suffix predicate over the kupo address form (Database.hs:737-740).
    // Credentials are taken from the first lineitem row so the query is
    // non-empty at every scale factor.
    QueryDef("q_kupo_payment_delegation",
      (s, d) => {
        val ix = buildIndex(s, d)
        val first = table(s, d, "lineitem")
          .orderBy(col("l_orderkey"), col("l_linenumber"))
          .select((col("l_partkey") % 40).cast("long"), col("l_suppkey")).head()
        val del = f"${first.getLong(0)}%056d"
        val pay = f"${first.getLong(1)}%056d"
        flat(FoldInputs(ix, Api.MatchesQuery(s"$pay/$del", order = Api.SortDirection.Asc)))
      },
      Some(derivationSql +
        """, first_li AS (
          |  SELECT lpad(CAST(l_partkey % 40 AS VARCHAR), 56, '0') AS del,
          |         lpad(CAST(l_suppkey AS VARCHAR), 56, '0') AS pay
          |  FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 1)
          |SELECT i.transaction_id, i.output_index, i.transaction_index, i.address, i.coins,
          |       i.created_at AS created_slot,
          |       md5(CAST(i.created_at AS VARCHAR)) AS created_hash
          |FROM inputs i, first_li f
          |WHERE i.address LIKE '01' || f.del || '%' AND i.address LIKE '%' || f.pay
          |ORDER BY i.created_at ASC, i.transaction_index ASC, i.output_index ASC,
          |         i.address ASC, i.coins ASC""".stripMargin)),

    // P8 MatchOutputReference: <ix>@<txid> — exact PK point lookup (the
    // reference's packed-bytes equality, Database.hs:741-744).
    QueryDef("q_kupo_outref",
      (s, d) => {
        val ix = buildIndex(s, d)
        val first = table(s, d, "lineitem")
          .orderBy(col("l_orderkey"), col("l_linenumber"))
          .select(col("l_orderkey"), col("l_linenumber")).head()
        val h = org.apache.commons.codec.digest.DigestUtils.md5Hex(first.getLong(0).toString)
        flat(FoldInputs(ix, Api.MatchesQuery(s"${first.getInt(1)}@$h$h",
          order = Api.SortDirection.Asc)))
      },
      Some(derivationSql +
        """, first_li AS (
          |  SELECT md5(CAST(l_orderkey AS VARCHAR)) || md5(CAST(l_orderkey AS VARCHAR)) AS tid,
          |         l_linenumber AS ix
          |  FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 1)
          |SELECT i.transaction_id, i.output_index, i.transaction_index, i.address, i.coins,
          |       i.created_at AS created_slot,
          |       md5(CAST(i.created_at AS VARCHAR)) AS created_hash
          |FROM inputs i, first_li f
          |WHERE i.transaction_id = f.tid AND i.output_index = f.ix
          |ORDER BY i.created_at ASC, i.transaction_index ASC, i.output_index ASC,
          |         i.address ASC, i.coins ASC""".stripMargin)),

    // F5 ?resolve_hashes: two broadcast left joins resolve datum/script
    // payloads inline (binary_data covers half the datum hashes — the null
    // path is exercised too).
    QueryDef("q_kupo_resolve_hashes",
      (s, d) => {
        val ix = buildIndex(s, d)
        FoldInputs(ix, Api.MatchesQuery(
          "*", resolveHashes = true, order = Api.SortDirection.Asc))
          .where(col("datum_hash").isNotNull || col("script_hash").isNotNull)
          .select(col("transaction_id"), col("output_index"),
            col("datum_hash"), col("datum"), col("script_hash"), col("script"))
      },
      Some(derivationSql +
        """SELECT i.transaction_id, i.output_index, i.datum_hash,
          |       CASE WHEN i.datum_hash IS NOT NULL AND EXISTS
          |            (SELECT 1 FROM lineitem l WHERE l.l_orderkey % 22 = 0
          |             AND md5('d' || CAST(l.l_orderkey AS VARCHAR)) = i.datum_hash)
          |            THEN md5(i.datum_hash) END AS datum,
          |       i.script_hash,
          |       CASE WHEN i.script_hash IS NOT NULL AND EXISTS
          |            (SELECT 1 FROM lineitem l WHERE l.l_orderkey % 26 = 0
          |             AND md5('s' || CAST(l.l_orderkey AS VARCHAR)) = i.script_hash)
          |            THEN md5(i.script_hash) END AS script
          |FROM inputs i
          |WHERE i.datum_hash IS NOT NULL OR i.script_hash IS NOT NULL
          |ORDER BY i.created_at ASC, i.transaction_index ASC, i.output_index ASC""".stripMargin)),

    // R2 countPolicies: distinct policies carried by outputs matching a
    // pattern — explode map keys, distinct, count.
    QueryDef("q_kupo_count_policies",
      (s, d) => {
        val ix = buildIndex(s, d)
        import s.implicits._
        Seq(FoldInputs.countPolicies(ix, "*")).toDF("n")
      },
      Some(derivationSql +
        """SELECT count(DISTINCT policy_id) AS n FROM inputs
          |WHERE policy_id IS NOT NULL""".stripMargin)),

    // P2 MatchAny OnlyShelley: the bootstrap-excluding wildcard — the
    // derived index contains Byron-tagged rows (derivedBootstrapInputs), so
    // this count observably differs from the `*` total.
    QueryDef("q_kupo_count_shelley",
      (s, d) => {
        val ix = buildIndex(s, d)
        import s.implicits._
        Seq(FoldInputs.countInputs(ix, "*/*")).toDF("n")
      },
      Some(derivationSql +
        "SELECT count(*) AS n FROM inputs WHERE address NOT LIKE '00%'")),

    // R4 getBinaryData: point lookup of a datum payload by hash (the
    // smallest hash, so the lookup key is deterministic at every SF).
    QueryDef("q_kupo_binary_lookup",
      (s, d) => {
        val ix = buildIndex(s, d)
        val h = ix.table("binary_data").agg(min("binary_data_hash")).head().getString(0)
        ix.table("binary_data").where(col("binary_data_hash") === h)
      },
      Some(derivationSql +
        """, bd AS (SELECT DISTINCT md5('d' || CAST(l_orderkey AS VARCHAR)) AS h
          |         FROM lineitem WHERE l_orderkey % 22 = 0)
          |SELECT h AS binary_data_hash, md5(h) AS binary_data FROM bd
          |ORDER BY h LIMIT 1""".stripMargin)),

    // R5 getScript: same point-lookup shape over the scripts table.
    QueryDef("q_kupo_script_lookup",
      (s, d) => {
        val ix = buildIndex(s, d)
        val h = ix.table("scripts").agg(min("script_hash")).head().getString(0)
        ix.table("scripts").where(col("script_hash") === h)
      },
      Some(derivationSql +
        """, sc AS (SELECT DISTINCT md5('s' || CAST(l_orderkey AS VARCHAR)) AS h
          |         FROM lineitem WHERE l_orderkey % 26 = 0)
          |SELECT h AS script_hash, md5(h) AS script FROM sc
          |ORDER BY h LIMIT 1""".stripMargin)),

    // R10 GET /checkpoints/{slot}: greatest checkpoint at-or-before a slot
    // (closest-ancestor lookup, Http.hs:557-581).
    QueryDef("q_kupo_checkpoint_by_slot",
      (s, d) => {
        val ix = buildIndex(s, d)
        import s.implicits._
        graft.index.PatternManager.getCheckpointBySlot(ix, 2000L)
          .toSeq.toDF("slot_no", "header_hash")
      },
      Some(derivationSql +
        """, slots AS (SELECT created_at AS s FROM inputs
          |            UNION SELECT spent_at FROM inputs WHERE spent_at IS NOT NULL)
          |SELECT max(s) AS slot_no, md5(CAST(max(s) AS VARCHAR)) AS header_hash
          |FROM slots WHERE s <= 2000""".stripMargin)),

    // S9 copyDatabase ALONE: bootstrap a NEW index as a pattern-filtered
    // copy of the shared one (the reference's count → queue → insert
    // collapses to one declarative job per table, SQLite.hs:476-576), then
    // scan it. The formerly-chained deleteInputs mutation moved to its own
    // query (q_kupo_delete_matches) so this headline copy number is
    // comparable across rounds — the r7 bench note decomposed 1.47 s into
    // ~1.5 s copy + the chained rewrite, exactly the split made explicit
    // here. compact() is NOT in the chain: the testdata has duplicate PKs
    // whose dedup survivor is arbitrary — U7's result-preservation is
    // covered by the directed IndexSpec test instead.
    QueryDef("q_kupo_copy_database",
      (s, d) => {
        val src = buildIndex(s, d)
        val dst = graft.index.Mutations.copyFiltered(src, freshCopyDir(s),
          Set[graft.model.Pattern](graft.model.Pattern.MatchDelegation(cred7)))
        dst.table("inputs")
          .select(col("tx_id").as("transaction_id"), col("output_index"),
            col("address"), col("value.coins").cast("long").as("coins"),
            col("created_at"))
          .orderBy(col("created_at"), col("transaction_id"), col("output_index"),
            col("address"), col("coins"))
      },
      Some(derivationSql +
        s"""SELECT transaction_id, output_index, address, coins, created_at
           |FROM inputs WHERE address LIKE '01$cred7%'
           |ORDER BY created_at, transaction_id, output_index, address, coins""".stripMargin)),

    // S9 + U2 as one engine-path chain: the filtered copy PLUS the
    // policy-pattern deleteInputs (anti-filter rewrite, SQLite.hs:641-643)
    // applied to it, scanning what remains — the mutation half of the old
    // combined q_kupo_copy_database, timed separately.
    QueryDef("q_kupo_delete_matches",
      (s, d) => {
        val src = buildIndex(s, d)
        val dst = graft.index.Mutations.copyFiltered(src, freshCopyDir(s),
          Set[graft.model.Pattern](graft.model.Pattern.MatchDelegation(cred7)))
        graft.index.Mutations.deleteInputs(dst,
          Set[graft.model.Pattern](graft.model.Pattern.MatchPolicyId(policy2)))
        dst.table("inputs")
          .select(col("tx_id").as("transaction_id"), col("output_index"),
            col("address"), col("value.coins").cast("long").as("coins"),
            col("created_at"))
          .orderBy(col("created_at"), col("transaction_id"), col("output_index"),
            col("address"), col("coins"))
      },
      Some(derivationSql +
        s"""SELECT transaction_id, output_index, address, coins, created_at
           |FROM inputs WHERE address LIKE '01$cred7%'
           |  AND (policy_id IS NULL OR policy_id <> '$policy2')
           |ORDER BY created_at, transaction_id, output_index, address, coins""".stripMargin)),

    // S7/S8 + the superset invariant's OTHER arming order, driver-gated:
    // a RAW inputs append lands first (side tables empty, windows gated),
    // then a normal commit turns policies/address_stats non-empty — the
    // transition must BACKFILL coverage of the raw-appended band in the
    // same atomic bump (GraftIndex.withSideBackfill), or every policy's
    // derived slot window would start at the second band and window-pruned
    // reads/deletes would durably skip the first. The compare surface is
    // the per-policy ref count and slot span over the WHOLE policies
    // table: without the backfill, band-A refs are absent and the span
    // collapses to band B — a hash mismatch, not a subtle drift. Bands are
    // 1/16 slot-parity slices so the per-execution index build stays small.
    QueryDef("q_kupo_append_backfill",
      (s, d) => {
        val ix = new GraftIndex(s, freshBackfillDir(s), vacuumGraceMs = 0L)
        // ONE scan of the source: the two bands and bandB's two side-table
        // frames previously each re-ran the full lineitem scan + md5
        // derivation (4 single-task ~0.3 s jobs per execution, JobTrace-
        // measured) — the batch slice materializes once and every consumer
        // reads it, exactly as a real ingest batch arrives materialized.
        val inputs = derivedShelleyInputs(s, d)
          .where(col("created_at") % 16 <= 1).localCheckpoint(true)
        val bandA = inputs.where(col("created_at") % 16 === 0)
        val bandB = inputs.where(col("created_at") % 16 === 1)
        ix.append("inputs", bandA) // raw: policies/address_stats stay empty
        // concurrent: all three frames derive from the localCheckpointed
        // slice (an immutable LogicalRDD leaf) — no shared stateful
        // expression instances, so the three write job floors overlap
        ix.commitAll(appends = Map(
          "inputs" -> bandB,
          "policies" -> graft.ingest.MatchBlock.policiesOf(bandB),
          "address_stats" -> graft.ingest.MatchBlock.addressStats(bandB)),
          concurrentWrites = true)
        ix.table("policies")
          .groupBy(col("policy_id"))
          .agg(count(lit(1)).as("n_refs"),
            min(col("created_at")).as("min_slot"),
            max(col("created_at")).as("max_slot"))
          .orderBy(col("policy_id"))
      },
      Some(derivationSql +
        """, refs AS (
          |  SELECT DISTINCT transaction_id, output_index, policy_id, created_at
          |  FROM inputs WHERE policy_id IS NOT NULL AND created_at % 16 IN (0, 1))
          |SELECT policy_id, CAST(count(*) AS BIGINT) AS n_refs,
          |       min(created_at) AS min_slot, max(created_at) AS max_slot
          |FROM refs GROUP BY 1 ORDER BY 1""".stripMargin)),

    // R3 foldPolicies: (output_reference, policy) projection under a
    // pattern, answered from the value.assets map — no side-table join.
    QueryDef("q_kupo_fold_policies",
      (s, d) => {
        val ix = buildIndex(s, d)
        FoldInputs.foldPolicies(ix, "*")
          .orderBy(col("tx_id"), col("output_index"), col("policy_id"))
      },
      Some(derivationSql +
        """SELECT transaction_id AS tx_id, output_index, policy_id
          |FROM inputs WHERE policy_id IS NOT NULL
          |ORDER BY tx_id, output_index, policy_id""".stripMargin)),

    // S4 FetchBlock (FetchBlock.hs; the /metadata driver's block fetch):
    // single-block point lookup against the normalized block source.
    QueryDef("q_kupo_fetch_block",
      (s, d) => {
        val slot = table(s, d, "orders").agg(min("o_orderkey")).head().getLong(0)
        graft.query.BlockQueries.fetchBlock(derivedBlocks(s, d), slot)
          .select(col("slot_no"), col("header_hash"),
            size(col("txs")).as("n_txs"),
            col("txs").getItem(0).getField("id").as("first_tx"))
      },
      Some("""SELECT o_orderkey AS slot_no,
             |       md5(CAST(o_orderkey AS VARCHAR)) AS header_hash,
             |       CAST(1 AS INT) AS n_txs,
             |       md5(CAST(o_orderkey AS VARCHAR)) || md5(CAST(o_orderkey AS VARCHAR)) AS first_tx
             |FROM orders
             |WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)""".stripMargin)),

    // S5 FetchTip (FetchTip/{Node,Ogmios}.hs): the newest block point.
    QueryDef("q_kupo_tip",
      (s, d) => {
        import s.implicits._
        graft.query.BlockQueries.fetchTip(derivedBlocks(s, d))
          .toSeq.toDF("slot_no", "header_hash")
      },
      Some("""SELECT max(o_orderkey) AS slot_no,
             |       md5(CAST(max(o_orderkey) AS VARCHAR)) AS header_hash
             |FROM orders""".stripMargin)),

    // R9 GET /patterns (Http.hs:409-417): the active pattern listing.
    QueryDef("q_kupo_list_patterns",
      (s, d) => {
        val ix = buildIndex(s, d)
        import s.implicits._
        graft.index.PatternManager.listPatterns(ix)
          .map(_.toText).sorted.toDF("pattern")
      },
      Some("""SELECT DISTINCT lpad(CAST(l_suppkey % 50 AS VARCHAR), 56, '0') || '/*' AS pattern
             |FROM lineitem ORDER BY pattern""".stripMargin)),

    // R11 GET /metadata/{slot} (Http.hs:754-805): fold the block's txs and
    // render each metadatum payload through the metadatum_schema kernel
    // (metadataToJson, Metadata.hs:73-97) — int and string labels, both
    // rendered byte-exactly by the DuckDB mirror.
    QueryDef("q_kupo_metadata_by_slot",
      (s, d) => {
        val slot = table(s, d, "orders").where(col("o_orderkey") % 3 === 0)
          .agg(min("o_orderkey")).head().getLong(0)
        graft.query.BlockQueries.metadataBySlot(derivedBlocks(s, d), slot)
      },
      Some("""WITH sl AS (SELECT min(o_orderkey) AS s FROM orders WHERE o_orderkey % 3 = 0),
             |tx AS (SELECT md5(CAST(s AS VARCHAR)) || md5(CAST(s AS VARCHAR)) AS transaction_id, s
             |       FROM sl)
             |SELECT transaction_id, label, payload, "schema" FROM (
             |  SELECT transaction_id, '674' AS label,
             |         '{"json": ' || CAST(s % 100 AS VARCHAR) || '}' AS payload,
             |         '{"int":' || CAST(s % 100 AS VARCHAR) || '}' AS "schema"
             |  FROM tx
             |  UNION ALL
             |  SELECT transaction_id, '721',
             |         '{"json": "w' || CAST(s % 10 AS VARCHAR) || '"}',
             |         '{"string":"w' || CAST(s % 10 AS VARCHAR) || '"}'
             |  FROM tx)
             |ORDER BY transaction_id, label""".stripMargin)),

    // U7 segment tiering end-to-end: four micro-batch appends tiered to
    // two segments by smallest-pair verbatim merges, then scanned — the
    // oracle (the plain derivation) passes only if the re-filing neither
    // lost nor duplicated a row, spend marks included.
    QueryDef("q_kupo_tiered_scan",
      (s, d) => {
        val ix = tieredIndex(s, d)
        ix.table("inputs")
          .select(col("tx_id").as("transaction_id"), col("output_index"),
            col("address"), col("value.coins").cast("long").as("coins"),
            col("created_at"), coalesce(col("spent_at"), lit(-1L)).as("spent_slot"))
          .orderBy(col("created_at"), col("transaction_id"), col("output_index"),
            col("address"), col("coins"), col("spent_slot"))
      },
      Some(derivationSql +
        """SELECT transaction_id, output_index, address, coins, created_at,
          |       coalesce(spent_at, -1) AS spent_slot
          |FROM inputs WHERE address NOT LIKE '00%'
          |ORDER BY created_at, transaction_id, output_index, address, coins,
          |         spent_slot""".stripMargin)),

    // SCHEMA V6 end-to-end: the segment_blooms sidecar built through REAL
    // appends + compaction + vacuum (the tiered fixture — 2 live segments,
    // so the probe gate is active), then a point lookup through
    // tableKeyPoint: the sketch prunes segments before Spark lists them
    // (plan-gated in PlanShapeSpec); this oracle row proves the PRUNED
    // answer is exact — a false negative in the sketch, a stale-path
    // mixup, or a lost sidecar row after compaction would all drop rows
    // here and hash-mismatch.
    QueryDef("q_kupo_bloom_txid",
      (s, d) => {
        val ix = tieredIndex(s, d)
        val k = table(s, d, "lineitem").agg(min("l_orderkey")).head().getLong(0)
        val txId = { val h = org.apache.commons.codec.digest.DigestUtils.md5Hex(k.toString); h + h }
        ix.tableKeyPoint("inputs", "tx_id", txId)
          .where(col("tx_id") === txId)
          .select(col("tx_id").as("transaction_id"), col("output_index"),
            col("address"), col("value.coins").cast("long").as("coins"),
            col("created_at"))
          .orderBy(col("output_index"), col("address"), col("coins"))
      },
      Some(derivationSql +
        """SELECT transaction_id, output_index, address, coins, created_at
          |FROM inputs
          |WHERE transaction_id =
          |      (SELECT md5(CAST(min(l_orderkey) AS VARCHAR)) || md5(CAST(min(l_orderkey) AS VARCHAR)) FROM lineitem)
          |ORDER BY output_index, address, coins""".stripMargin)),

    // SCHEMA MIGRATION end-to-end: a down-converted v1 index (no spend
    // provenance columns) migrated back to the current schema, scanned.
    // spent_with must read NULL for every row — the unmigrated source has
    // 'rdmr…' values, so a leak hash-mismatches — while every v1-surviving
    // column (spent_at included) is byte-faithful to the derivation.
    QueryDef("q_kupo_migrated_scan",
      (s, d) => {
        val ix = migratedIndex(s, d)
        ix.table("inputs")
          .select(col("tx_id").as("transaction_id"), col("output_index"),
            col("address"), col("value.coins").cast("long").as("coins"),
            col("created_at"), coalesce(col("spent_at"), lit(-1L)).as("spent_slot"),
            col("spent_with"))
          .orderBy(col("created_at"), col("transaction_id"), col("output_index"),
            col("address"), col("coins"), col("spent_slot"))
      },
      Some(derivationSql +
        """SELECT transaction_id, output_index, address, coins, created_at,
          |       coalesce(spent_at, -1) AS spent_slot,
          |       CAST(NULL AS VARCHAR) AS spent_with
          |FROM inputs WHERE address NOT LIKE '00%'
          |ORDER BY created_at, transaction_id, output_index, address, coins,
          |         spent_slot""".stripMargin)),

    // TIME TRAVEL on the query surface: FoldInputs over asOf(v) — the
    // snapshot pinned BEFORE a policy-pattern deleteInputs mutated the
    // live index, so the oracle (which mirrors the pre-delete state)
    // passes only if the pin really reads the retained manifest.
    QueryDef("q_kupo_asof",
      (s, d) => {
        val (ix, v) = snapshotIndex(s, d)
        val pinned = ix.asOf(v).getOrElse(
          sys.error(s"snapshot version $v aged out of retention"))
        flat(FoldInputs(pinned, Api.MatchesQuery("*", order = Api.SortDirection.Asc)))
      },
      Some(derivationSql +
        s"""SELECT transaction_id, output_index, transaction_index, address, coins,
           |       created_at AS created_slot,
           |       md5(CAST(created_at AS VARCHAR)) AS created_hash
           |FROM inputs
           |WHERE address LIKE '01$cred7%'
           |ORDER BY created_at ASC, transaction_index ASC, output_index ASC,
           |         address ASC, coins ASC""".stripMargin)),

    // GOVERNANCE × STORAGE: corpusDiff over two PINNED MANIFEST VERSIONS of
    // one live index — snapshot v_a (pre-delete, via asOf) against the
    // current head (post policy-pattern deleteInputs). The deleted rows
    // must read `removed` and everything else `unchanged`; a diff computed
    // against anything but the retained v_a manifest (e.g. the mutated
    // head on both sides) collapses to all-unchanged and hash-mismatches.
    QueryDef("q_corpus_diff_versions",
      (s, d) => {
        val (ix, v) = snapshotIndex(s, d)
        val pre = ix.asOf(v).getOrElse(
          sys.error(s"snapshot version $v aged out of retention"))
        // the testdata derivation has duplicate (tx, output_index) pairs, so
        // the diff id must carry the full identity (address+coins) and
        // DISTINCT collapses exact twins — corpusDiff's contract is unique
        // ids, same as the documents table it normally governs
        def docs(i: GraftIndex) = i.table("inputs").select(
          concat_ws(":", col("tx_id"), col("output_index").cast("string"),
            col("address"), col("value.coins").cast("string")).as("doc_id"),
          concat(col("address"), lit("|"), col("value.coins").cast("string")).as("text"))
          .distinct()
        graft.llm.Dedup.corpusDiff(docs(pre), docs(ix))
          .orderBy(col("doc_id"))
      },
      Some(derivationSql +
        s"""SELECT transaction_id || ':' || CAST(output_index AS VARCHAR)
           |         || ':' || address || ':' || CAST(coins AS VARCHAR) AS doc_id,
           |       CASE WHEN bool_and(coalesce(policy_id, '') = '$policy2')
           |            THEN 'removed' ELSE 'unchanged' END AS status
           |FROM inputs
           |WHERE address LIKE '01$cred7%'
           |GROUP BY 1
           |ORDER BY doc_id""".stripMargin))
  )
}
